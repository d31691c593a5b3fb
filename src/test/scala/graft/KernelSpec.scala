package graft

import graft.core.{PostingBlock, PostingsCodec}
import graft.search.{Accept, FlatClause, PhraseSegment, Positional, SingleTask}
import org.scalatest.funsuite.AnyFunSuite

/** `SingleTask.flatTopK` and `SingleTask.topK` against a brute-force
  * per-doc evaluator over random posting blocks, no Spark session: doc ids
  * must match exactly and scores must be equal with `==`. The evaluator
  * visits every live doc of the clause terms in `[lo, hi]`, counts and sums
  * its clauses in clause order, applies the `nMust` / `msm` /
  * no-prohibited rule, and ranks by score desc, docId asc.
  * `SingleTask.smallestDocs` / `smallestPostings` (and their early
  * termination) and `Positional.matchingDocs` are checked the same way
  * against the docs they may return. */
class KernelSpec extends AnyFunSuite {

  private type Hit = (Long, Double)

  /** One term's postings as the kernel reads them back: docs ascending with
    * their freq and quantized doc length. */
  private final class Postings(val docs: Array[Long], val freqs: Array[Int], val doclens: Array[Int])

  /** A random term over docs `[0, maxDoc)`: few freq and length values, so
    * equal scores (ties at rank k) are common. */
  private def randomPostings(rnd: scala.util.Random, maxDoc: Int): Postings = {
    val density = rnd.nextDouble()
    val docs = (0L until maxDoc.toLong).filter(_ => rnd.nextDouble() < density).toArray
    new Postings(docs, docs.map(_ => 1 + rnd.nextInt(3)), docs.map(_ => Seq(8, 40, 300)(rnd.nextInt(3))))
  }

  /** `p` encoded as posting blocks: in one run, or split into groups whose
    * doc ranges are disjoint or overlap (as salted merge rows do), returned
    * in random order. */
  private def encode(rnd: scala.util.Random, p: Postings): Seq[PostingBlock] = {
    val n = p.docs.length
    val groups: Seq[Array[Int]] = rnd.nextInt(3) match {
      case 0 => Seq(Array.range(0, n))
      case 1 =>
        val cuts = (Seq(0, n) ++ Seq.fill(rnd.nextInt(4))(rnd.nextInt(n + 1))).distinct.sorted
        cuts.sliding(2).collect { case Seq(a, b) if b > a => Array.range(a, b) }.toSeq
      case _ =>
        val g = 1 + rnd.nextInt(4)
        Array.range(0, n).groupBy(_ => rnd.nextInt(g)).values.map(_.sorted).toSeq
    }
    rnd.shuffle(groups.flatMap(ix =>
      PostingsCodec.encodeBlocks(ix.map(p.docs), ix.map(p.freqs), ix.map(p.doclens), null)))
  }

  /** doc → (freq, doclen) of `blocks`, as the codec decodes them (doc
    * lengths come back quantized). */
  private def decoded(blocks: Seq[PostingBlock]): Map[Long, (Int, Int)] =
    blocks.iterator.flatMap { b =>
      val d = PostingsCodec.decodeBlock(b)
      d.docs.indices.iterator.map(i => d.docs(i) -> (d.freqs(i), d.doclens(i)))
    }.toMap

  private def scorer(weight: Double): (Int, Int) => Double =
    (freq, dl) => weight * (freq / (freq + 1.2 * (0.25 + 0.75 * dl / 97.3)))

  private def ranked(hits: Iterable[Hit], k: Int): List[Hit] =
    hits.toList.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(math.max(k, 0))

  /** A random sorted set of dead doc ids in `[0, maxDoc)`: none half the
    * time. */
  private def randomDead(rnd: scala.util.Random, maxDoc: Int): Array[Long] =
    if (rnd.nextBoolean()) Array.emptyLongArray
    else {
      val p = rnd.nextDouble() * 0.5
      (0L until maxDoc.toLong).filter(_ => rnd.nextDouble() < p).toArray
    }

  private def bruteForce(postings: Map[String, Map[Long, (Int, Int)]], clauses: Array[FlatClause],
      scorers: Array[(Int, Int) => Double], nMust: Int, msm: Int, k: Int, lo: Long, hi: Long,
      dead: Set[Long]): List[Hit] = {
    val universe = clauses.iterator.flatMap(c => postings.getOrElse(c.term, Map.empty).keysIterator)
      .filter(d => d >= lo && d <= hi && !dead(d)).toSet
    val hits = universe.flatMap { doc =>
      var nReq, nOpt, nNot = 0
      var score = 0.0
      clauses.indices.foreach { c =>
        postings.getOrElse(clauses(c).term, Map.empty).get(doc).foreach { case (f, dl) =>
          clauses(c).kind match {
            case 0 => nReq += 1
            case 1 => nOpt += 1
            case _ => nNot += 1
          }
          if (scorers(c) != null) score += scorers(c)(f, dl)
        }
      }
      if (nNot == 0 && nReq == nMust && nOpt >= msm) Some(doc -> score) else None
    }
    ranked(hits, k)
  }

  private def assertSame(got: List[Hit], want: List[Hit], clue: => String): Unit = {
    assert(got.map(_._1) == want.map(_._1), clue)
    got.zip(want).foreach { case ((_, a), (_, b)) => assert(a == b, s"score $a != $b: $clue") }
  }

  test("flatTopK == the per-doc evaluator over random clauses, slices and block layouts") {
    val rnd = new scala.util.Random(20261019)
    var matched = 0
    (0 until 1500).foreach { trial =>
      val maxDoc = 1 + rnd.nextInt(if (rnd.nextBoolean()) 40 else 700)
      val vocab = (0 until 1 + rnd.nextInt(5)).map(i => s"t$i")
      val present = vocab.filter(_ => rnd.nextDouble() < 0.9)
      val blocks = present.map(t => t -> encode(rnd, randomPostings(rnd, maxDoc))).toMap
      val postings = blocks.map { case (t, bs) => t -> decoded(bs) }
      val clauses = Array.fill(1 + rnd.nextInt(6)) {
        val kind = rnd.nextInt(3)
        // a FILTER clause is a required clause with boost 0
        val boost = if (kind == 2 || rnd.nextDouble() < 0.2) 0.0 else Seq(0.5, 1.0, 2.5)(rnd.nextInt(3))
        FlatClause(vocab(rnd.nextInt(vocab.size)), boost, kind)
      }
      val scorers = clauses.map(c =>
        if (c.kind == 2 || c.boost == 0.0) null else scorer(c.boost * (1.0 + c.term.hashCode % 7 / 10.0)))
      val nRequired = clauses.count(_.kind == 0)
      val nShould = clauses.count(_.kind == 1)
      // nMust as the flattening sets it, and now and then one it never sets
      val nMust = if (rnd.nextDouble() < 0.9) nRequired else rnd.nextInt(nRequired + 2)
      val msm = rnd.nextInt(nShould + 1)
      val (lo, hi) =
        if (rnd.nextBoolean()) (Long.MinValue, Long.MaxValue)
        else { val a = rnd.nextInt(maxDoc).toLong; (a, a + rnd.nextInt(maxDoc)) }
      val dead = randomDead(rnd, maxDoc)
      val all = bruteForce(postings, clauses, scorers, nMust, msm, Int.MaxValue, lo, hi, dead.toSet)
      matched += all.size
      val ks = Seq(0, 1, 10, all.size + 3, rnd.nextInt(all.size + 2))
      ks.foreach { k =>
        // the rows of the clause terms, as a route passes them
        val rows = rnd.shuffle(blocks.toSeq.filter(tb => clauses.exists(_.term == tb._1))
          .flatMap { case (t, bs) => bs.map(b => (t, b)) })
        val got = SingleTask.flatTopK(rows.iterator, clauses, scorers, nMust, msm, k,
          Accept(lo, hi, dead)).toList
        assertSame(got, all.take(k), s"trial $trial: ${clauses.mkString(", ")} nMust=$nMust msm=$msm " +
          s"k=$k [$lo, $hi] dead=${dead.mkString(",")}")
      }
    }
    assert(matched > 10000, "the random queries must match docs")
  }

  test("flatTopK: one term in two clauses, and ties at rank k break by docId") {
    val docs = Array.range(0, 300).map(_.toLong)
    val blocks = PostingsCodec.encodeBlocks(docs, docs.map(_ => 2), docs.map(d => if (d % 3 == 0) 8 else 40), null)
    val rows = () => blocks.iterator.map(b => ("a", b))
    val clauses = Array(FlatClause("a", 1.0, 1), FlatClause("a", 1.0, 0))
    val scorers = Array[(Int, Int) => Double](scorer(1.0), scorer(1.0))
    val got = SingleTask.flatTopK(rows(), clauses, scorers, 1, 1, 150).toList
    // the 100 short docs score highest, then the first 50 long ones by docId
    assert(got.map(_._1) == (docs.filter(_ % 3 == 0) ++ docs.filter(_ % 3 != 0).take(50)).toList)
    val s = scorer(1.0)
    val shortLen = PostingsCodec.decodeBlock(blocks.head).doclens(0)
    assert(got.head._2 == s(2, shortLen) + s(2, shortLen))
    // a prohibited clause on the same term excludes every doc
    assert(SingleTask.flatTopK(rows(), clauses :+ FlatClause("a", 0.0, 2), scorers :+ null, 1, 1, 10).isEmpty)
  }

  /** Two doc-range slices of `[0, maxDoc)` cut at a random point, and the
    * whole range. */
  private def slicesOf(rnd: scala.util.Random, maxDoc: Int): Seq[(Long, Long)] = {
    val cut = rnd.nextInt(maxDoc + 1).toLong
    Seq((Long.MinValue, cut - 1), (cut, Long.MaxValue), (Long.MinValue, Long.MaxValue))
  }

  test("smallestDocs keeps the k smallest live docs of a slice, dead ids in and out of it") {
    val rnd = new scala.util.Random(20261020)
    (0 until 400).foreach { trial =>
      val maxDoc = 1 + rnd.nextInt(if (rnd.nextBoolean()) 40 else 700)
      // an expansion's terms: their blocks in one stream, a doc on several terms
      val terms = Seq.fill(1 + rnd.nextInt(3))(encode(rnd, randomPostings(rnd, maxDoc)))
      val blocks = terms.flatten
      val docs = decoded(blocks).keys.toSeq.sorted
      // every third trial: the earliest docs are dead, at least 10 of them,
      // and a random share of the later ones (deletes pending ahead of the
      // k-th live doc)
      val dead =
        if (trial % 3 != 0) randomDead(rnd, maxDoc)
        else {
          val first = 10 + rnd.nextInt(200)
          (docs.take(first) ++ docs.drop(first).filter(_ => rnd.nextDouble() < 0.5)).toArray
        }
      val postings = decoded(terms.head)
      slicesOf(rnd, maxDoc).foreach { case (lo, hi) =>
        val accept = Accept(lo, hi, dead)
        val live = docs.filter(accept(_))
        /** `kernel`'s rows over `bs` in random order. When it keeps k docs
          * no block whose firstDoc is above the k-th was decoded: blocks
          * decode in firstDoc order, so at most those up to the k-th. */
        def checked[T](bs: Seq[PostingBlock], k: Int, docOf: T => Long)(
            kernel: (Iterator[PostingBlock], () => Unit) => Iterator[T]): List[T] = {
          var decodes = 0
          val got = kernel(rnd.shuffle(bs).iterator, () => decodes += 1).toList
          if (k > 0 && got.size == k) {
            val kth = docOf(got.last)
            val upTo = bs.count(b => accept.overlaps(b) && b.firstDoc <= kth)
            assert(decodes <= upTo, s"trial $trial k=$k: $decodes decodes, $upTo blocks start at or before $kth")
          }
          got
        }
        Seq(0, 1, 10, live.size, live.size + 2).foreach { k =>
          val clue = s"trial $trial k=$k [$lo, $hi] dead=${dead.mkString(",")}"
          val got = checked(blocks, k, (d: Long) => d)(SingleTask.smallestDocs(_, k, accept, _))
          assert(got == live.take(k).toList, clue)
          // the scored form over one term's blocks keeps each doc's freq and doc length
          val want = postings.keys.toSeq.sorted.filter(accept(_)).take(k).map(d => (d, postings(d)._1, postings(d)._2))
          val scored = checked(terms.head, k, (p: (Long, Int, Int)) => p._1)(
            SingleTask.smallestPostings(_, k, accept, _))
          assert(scored == want.toList, s"scored $clue")
        }
      }
    }
  }

  test("matchingDocs returns the live candidates of a slice, dead ids in and out of it") {
    val rnd = new scala.util.Random(20261021)
    (0 until 300).foreach { trial =>
      val maxDoc = 1 + rnd.nextInt(if (rnd.nextBoolean()) 40 else 700)
      // two terms with positions; the query is the exact phrase "a b", led by "a"
      val positions = Seq("a", "b").map { t =>
        val p = randomPostings(rnd, maxDoc)
        t -> p.docs.indices.map(i => p.docs(i) -> Array.fill(p.freqs(i))(rnd.nextInt(6)).distinct.sorted).toMap
      }.toMap
      val doclens = (0L until maxDoc.toLong).map(d => d -> Seq(8, 40)(rnd.nextInt(2))).toMap
      val byTerm = positions.map { case (t, m) =>
        val ds = m.keys.toArray.sorted
        t -> PostingsCodec.encodeBlocks(ds, ds.map(m(_).length), ds.map(d => doclens(d)), ds.map(m))
      }
      val dl = decoded(byTerm.values.flatten.toSeq).map { case (d, (_, l)) => d -> l }
      val dead = randomDead(rnd, maxDoc)
      val freq: (String => Array[Int]) => Double = pos => {
        val arrays = Array("a", "b").map(pos)
        if (arrays.contains(null)) 0.0 else PhraseSegment.phraseFreq(arrays, 0)
      }
      slicesOf(rnd, maxDoc).foreach { case (lo, hi) =>
        val want = positions("a").keys.toSeq.sorted
          .filter(d => d >= lo && d <= hi && java.util.Arrays.binarySearch(dead, d) < 0)
          .flatMap { d =>
            val f = freq(t => positions(t).getOrElse(d, null))
            if (f > 0) Some((d, f, dl(d))) else None
          }
        val got = Positional.matchingDocs(byTerm, Set("a"), Accept(lo, hi, dead), freq).toList
        assert(got == want.toList, s"trial $trial [$lo, $hi] dead=${dead.mkString(",")}")
      }
    }
  }

  test("topK == a full sort over random hit streams with tied scores") {
    val rnd = new scala.util.Random(7)
    (0 until 500).foreach { trial =>
      val docs = rnd.shuffle((0L until 400L).toList).take(rnd.nextInt(400))
      val hits = docs.map(d => d -> Seq(0.0, 0.25, 1.5, 1.5000000000000002, 3.0)(rnd.nextInt(5)))
      Seq(0, 1, 10, docs.size, docs.size + 5, rnd.nextInt(docs.size + 1)).foreach { k =>
        assertSame(SingleTask.topK(hits.iterator, k).toList, ranked(hits, k), s"trial $trial k=$k")
      }
    }
  }
}
