package graft.search

import graft.core.{PostingBlock, PostingsCodec}
import scala.collection.mutable

/** One flat term clause of a query (see [[Searcher]]'s flattening).
  * `kind`: 0 = required (MUST, or FILTER with boost 0 so it gates without
  * scoring), 1 = optional (SHOULD), 2 = prohibited (MUST_NOT). */
final case class FlatClause(term: String, boost: Double, kind: Int)

/** A query flattened to term clauses under `compileBoolean`'s match rule: a
  * doc matches when it carries all `nMust` required clauses, at least `msm`
  * optional ones and no prohibited one; its score is the sum. */
final case class FlatQuery(clauses: Seq[FlatClause], nMust: Int, msm: Int)

/** The docs a kernel may return: those in `[lo, hi]` (one doc-range
  * slice) that are not in `dead`, the sorted ids of the pending tombstones —
  * the reference's `(acceptDocs, min, max)` of `BulkScorer.score`. A dead
  * doc is in no clause's decoded postings, so it is never a candidate, a
  * lead or a hit. */
final class Accept(val lo: Long, val hi: Long, val dead: Array[Long]) {

  def apply(doc: Long): Boolean =
    doc >= lo && doc <= hi && (dead.length == 0 || java.util.Arrays.binarySearch(dead, doc) < 0)

  /** Whether `b`'s doc range meets `[lo, hi]`: a block outside it is not
    * decoded. */
  def overlaps(b: PostingBlock): Boolean = b.lastDoc >= lo && b.firstDoc <= hi
}

object Accept {
  def apply(lo: Long = Long.MinValue, hi: Long = Long.MaxValue,
      dead: Array[Long] = Array.emptyLongArray): Accept = new Accept(lo, hi, dead)

  /** Every doc. */
  val All: Accept = Accept()
}

/** Top-k kernels: each consumes one query's posting blocks in one task or
  * on the driver — all of them, or one doc-range slice's — and emits at
  * most k rows, the reference's one thread, one collector loop
  * (`IndexSearcher.search` → `TopScoreDocCollector`).
  *
  * [[flatTopK]] is doc-at-a-time, like the reference's `BooleanWeight`
  * scorers in one leaf: one cursor per clause over the clause's decoded
  * postings (`DisjunctionSumScorer` over a `DisiPriorityQueue`, or a
  * `ConjunctionDISI` led by the rarest required clause), the clauses on the
  * current doc summed in clause order, and the doc offered to one bounded
  * heap of primitive arrays that only replaces its worst entry
  * (`TopScoreDocCollector` / `HitQueue`). [[topK]] ranks any other hit
  * stream with the same heap, [[smallestDocs]] the earliest docs. */
object SingleTask {

  /** Group `(term, block)` rows by term. */
  def byTerm(rows: Iterator[(String, PostingBlock)])
      : mutable.HashMap[String, mutable.ArrayBuffer[PostingBlock]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingBlock]]
    rows.foreach { case (t, b) => m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += b }
    m
  }

  /** The k best `(docId, score)` by score desc, docId asc, emitted in that
    * order. */
  def topK(hits: Iterator[(Long, Double)], k: Int): Iterator[(Long, Double)] = {
    if (k <= 0) return Iterator.empty
    val heap = new TopHeap(k)
    hits.foreach(h => heap.offer(h._1, h._2))
    heap.drain()
  }

  /** Flat term boolean top-k over the docs `accept` holds (one doc-range
    * slice less the pending tombstones; other postings are skipped, blocks
    * wholly outside the slice are not decoded). `scorers(c)` scores clause
    * c (null: the clause only gates — MUST_NOT, FILTER). A term lists each
    * doc at most once.
    *
    * Each term's blocks decode once, in `firstDoc` order, into primitive
    * doc / freq / doc-length arrays (doc ids only when no clause scores the
    * term), sorted by doc only when the blocks overlap (salted merge rows).
    * Clauses on one term share its arrays and its cursor. The cursors visit
    * the candidate docs in ascending order: every doc of a required or
    * optional clause, or — when every required clause must match — only
    * the docs the rarest required term leads the others to. On each doc the
    * clauses are counted and their scores summed in clause order, so a
    * doc's score is the same floating-point sum however the postings
    * arrive; the doc matches with all `nMust` required clauses, at least
    * `msm` optional ones and no prohibited one, and is offered to the
    * bounded heap. Rows of terms no clause names are ignored. */
  def flatTopK(rows: Iterator[(String, PostingBlock)], clauses: Array[FlatClause],
      scorers: Array[(Int, Int) => Double], nMust: Int, msm: Int, k: Int,
      accept: Accept = Accept.All): Iterator[(Long, Double)] = {
    if (k <= 0) return Iterator.empty
    val blocks = byTerm(rows)
    val terms = clauses.iterator.map(_.term).filter(blocks.contains).toArray.distinct
    val lists = terms.map { t =>
      val scored = clauses.indices.exists(c => clauses(c).term == t && scorers(c) != null)
      PostingList.decode(blocks(t), scored, accept)
    }
    val heap = new TopHeap(k)
    new ClauseMerge(clauses, scorers, clauses.map(c => terms.indexOf(c.term)), lists,
      nMust, msm).run(heap)
    heap.drain()
  }

  /** The k smallest distinct doc ids of `blocks` that `accept` holds,
    * ascending: a constant-score expansion's top-k. Index-order early
    * termination (the reference's `TopFieldCollector.canEarlyTerminate`):
    * blocks decode in `firstDoc` order until k docs are held and the next
    * block starts past the largest of them. A dead doc is never held, so the
    * bound is exact with tombstones. `onDecode` counts block decodes. */
  def smallestDocs(blocks: Iterator[PostingBlock], k: Int, accept: Accept = Accept.All,
      onDecode: () => Unit = () => ()): Iterator[Long] =
    smallestPostings(blocks, k, accept, onDecode, scored = false).map(_._1)

  /** [[smallestDocs]] with each doc's `(freq, doclen)` (0 unless `scored`):
    * a term's index-order top-k. A term lists each doc once. */
  def smallestPostings(blocks: Iterator[PostingBlock], k: Int, accept: Accept = Accept.All,
      onDecode: () => Unit = () => (), scored: Boolean = true): Iterator[(Long, Int, Int)] = {
    if (k <= 0) return Iterator.empty
    val sorted = blocks.filter(accept.overlaps).toArray
    java.util.Arrays.sort(sorted, (a: PostingBlock, b: PostingBlock) =>
      java.lang.Long.compare(a.firstDoc, b.firstDoc))
    // one score for every doc: the heap keeps the k smallest, the largest on top
    val heap = new TopHeap(k)
    val held = mutable.LongMap.empty[Long] // a held doc → freq << 32 | doclen
    val docs = new Array[Long](sorted.iterator.map(_.count).maxOption.getOrElse(0))
    val (freqs, doclens) = if (scored) (new Array[Int](docs.length), new Array[Int](docs.length)) else (null, null)
    var i = 0
    while (i < sorted.length && !(heap.full && sorted(i).firstDoc > heap.worstDoc)) {
      onDecode()
      PostingsCodec.decodeInto(sorted(i), docs, freqs, doclens, 0)
      var j = 0
      while (j < sorted(i).count) {
        val d = docs(j)
        if (accept(d) && (!heap.full || d < heap.worstDoc) && !held.contains(d)) {
          if (heap.full) held.remove(heap.worstDoc)
          heap.offer(d, 0.0)
          held(d) = if (scored) freqs(j).toLong << 32 | doclens(j) else 0L
        }
        j += 1
      }
      i += 1
    }
    heap.drain().map { case (d, _) => val p = held(d); (d, (p >>> 32).toInt, p.toInt) }
  }

  /** One term's accepted postings, ascending by doc; `freqs` and
    * `doclens` are null when the term was decoded doc ids only. */
  private final class PostingList(val docs: Array[Long], val freqs: Array[Int],
      val doclens: Array[Int], val n: Int)

  private object PostingList {
    def decode(bs: Iterable[PostingBlock], scored: Boolean, accept: Accept): PostingList = {
      val inRange = bs.iterator.filter(accept.overlaps).toArray
      java.util.Arrays.sort(inRange, (a: PostingBlock, b: PostingBlock) =>
        java.lang.Long.compare(a.firstDoc, b.firstDoc))
      val cap = inRange.iterator.map(_.count).sum
      var docs = new Array[Long](cap)
      var freqs = if (scored) new Array[Int](cap) else null
      var doclens = if (scored) new Array[Int](cap) else null
      var n = 0
      var sorted = true
      inRange.foreach { b =>
        // decode in place after the kept postings, then keep the accepted ones
        PostingsCodec.decodeInto(b, docs, freqs, doclens, n)
        var i = n
        val end = n + b.count
        while (i < end) {
          val doc = docs(i)
          if (accept(doc)) {
            if (n > 0 && doc < docs(n - 1)) sorted = false
            docs(n) = doc
            if (scored) { freqs(n) = freqs(i); doclens(n) = doclens(i) }
            n += 1
          }
          i += 1
        }
      }
      if (!sorted) {
        // overlapping blocks (salted merge rows): a rare path, boxed sort
        val order = Array.range(0, n).sortBy(i => docs(i))
        docs = order.map(docs)
        if (scored) { freqs = order.map(freqs); doclens = order.map(doclens) }
      }
      new PostingList(docs, freqs, doclens, n)
    }
  }

  /** The doc-at-a-time merge of one flat query's clause cursors (see
    * [[flatTopK]]). `termOf(c)` is clause c's index into `lists`, -1 when
    * the slice holds no posting block of its term; `pos(t)` is term t's
    * cursor. */
  private final class ClauseMerge(clauses: Array[FlatClause],
      scorers: Array[(Int, Int) => Double], termOf: Array[Int],
      lists: Array[PostingList], nMust: Int, msm: Int) {
    private val nTerms = lists.length
    private val pos = new Array[Int](nTerms)
    private val kinds = clauses.map(_.kind)

    private def termsOf(kind: Int => Boolean): Array[Int] =
      (0 until nTerms).filter(t => termOf.indices.exists(c => termOf(c) == t && kind(kinds(c)))).toArray

    def run(heap: TopHeap): Unit = {
      // a doc on no required or optional clause's term carries only
      // prohibited clauses and cannot match: those terms drive the merge
      val drivers = termsOf(_ != 2)
      if (nMust > 0 && nMust == kinds.count(_ == 0)) {
        // every required clause must be on the doc
        if (termOf.indices.exists(c => kinds(c) == 0 && termOf(c) < 0)) return
        val required = termsOf(_ == 0)
        val lead = required.minBy(lists(_).n)
        leapfrog(lead, required.filter(_ != lead), heap)
      } else if (drivers.length == 1) leapfrog(drivers(0), Array.empty, heap)
      else disjunction(drivers, heap)
    }

    /** First index at or after `pos(t)` whose doc is ≥ `target`
      * (galloping, then binary search). */
    private def advance(t: Int, target: Long): Int = {
      val l = lists(t)
      var from = pos(t)
      if (from >= l.n || l.docs(from) >= target) return from
      var step = 1
      var to = from + 1
      while (to < l.n && l.docs(to) < target) { from = to; step <<= 1; to = from + step }
      val i = java.util.Arrays.binarySearch(l.docs, from + 1, math.min(to, l.n), target)
      if (i >= 0) i else -i - 1
    }

    /** Moves the cursors of `ts` to `doc` or past it. */
    private def follow(ts: Array[Int], doc: Long): Unit = {
      var i = 0
      while (i < ts.length) { pos(ts(i)) = advance(ts(i), doc); i += 1 }
    }

    /** Every doc of `drivers`, in ascending order (`DisjunctionSumScorer`);
      * the other terms follow. */
    private def disjunction(drivers: Array[Int], heap: TopHeap): Unit = {
      val followers = (0 until nTerms).filterNot(drivers.contains).toArray
      var more = true
      while (more) {
        var doc = 0L
        more = false
        var i = 0
        while (i < drivers.length) {
          val l = lists(drivers(i))
          val p = pos(drivers(i))
          if (p < l.n && (!more || l.docs(p) < doc)) { doc = l.docs(p); more = true }
          i += 1
        }
        if (more) {
          follow(followers, doc)
          collect(doc, heap)
          i = 0
          while (i < drivers.length) {
            val t = drivers(i)
            if (pos(t) < lists(t).n && lists(t).docs(pos(t)) == doc) pos(t) += 1
            i += 1
          }
        }
      }
    }

    /** The docs of `lead` that every term of `others` holds too
      * (`ConjunctionDISI`): the others advance to the lead's doc or past it,
      * which moves the lead on. The remaining terms follow each match. */
    private def leapfrog(lead: Int, others: Array[Int], heap: TopHeap): Unit = {
      val followers = (0 until nTerms).filter(t => t != lead && !others.contains(t)).toArray
      val l = lists(lead)
      while (pos(lead) < l.n) {
        val doc = l.docs(pos(lead))
        var next = doc
        var i = 0
        while (i < others.length && next == doc) {
          val t = others(i)
          pos(t) = advance(t, doc)
          if (pos(t) >= lists(t).n) return
          next = lists(t).docs(pos(t))
          i += 1
        }
        if (next == doc) {
          follow(followers, doc)
          collect(doc, heap)
          pos(lead) += 1
        } else pos(lead) = advance(lead, next)
      }
    }

    /** Counts and scores the clauses whose cursor sits on `doc`, in clause
      * order, and offers a match to `heap`. */
    private def collect(doc: Long, heap: TopHeap): Unit = {
      var nReq = 0
      var nOpt = 0
      var nNot = 0
      var score = 0.0
      var c = 0
      while (c < termOf.length) {
        val t = termOf(c)
        if (t >= 0) {
          val l = lists(t)
          val p = pos(t)
          if (p < l.n && l.docs(p) == doc) {
            kinds(c) match {
              case 0 => nReq += 1
              case 1 => nOpt += 1
              case _ => nNot += 1
            }
            val f = scorers(c)
            if (f != null) score += f(l.freqs(p), l.doclens(p))
          }
        }
        c += 1
      }
      if (nNot == 0 && nReq == nMust && nOpt >= msm) heap.offer(doc, score)
    }
  }

  /** A bounded min-heap of the k best `(docId, score)` in parallel
    * primitive arrays, worst on top: lower score, then larger docId, is
    * worse. A hit enters a full heap only when it beats the top. */
  private final class TopHeap(k: Int) {
    private var docs = new Array[Long](math.min(k, 64))
    private var scores = new Array[Double](docs.length)
    private var n = 0

    def full: Boolean = n == k
    def worstDoc: Long = docs(0)

    private def worse(i: Int, j: Int): Boolean =
      if (scores(i) != scores(j)) java.lang.Double.compare(scores(i), scores(j)) < 0
      else docs(i) > docs(j)

    private def swap(i: Int, j: Int): Unit = {
      val d = docs(i); docs(i) = docs(j); docs(j) = d
      val s = scores(i); scores(i) = scores(j); scores(j) = s
    }

    private def siftDown(from: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1
        if (l >= n) done = true
        else {
          val c = if (l + 1 < n && worse(l + 1, l)) l + 1 else l
          if (worse(c, i)) { swap(c, i); i = c } else done = true
        }
      }
    }

    def offer(doc: Long, score: Double): Unit =
      if (n < k) {
        if (n == docs.length) {
          val cap = math.min(k.toLong, docs.length * 2L).toInt
          docs = java.util.Arrays.copyOf(docs, cap)
          scores = java.util.Arrays.copyOf(scores, cap)
        }
        docs(n) = doc; scores(n) = score
        var i = n
        n += 1
        while (i > 0 && worse(i, (i - 1) / 2)) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (score > scores(0) || (score == scores(0) && doc < docs(0))) {
        docs(0) = doc; scores(0) = score
        siftDown(0)
      }

    /** The heap's hits, best first; empties the heap. */
    def drain(): Iterator[(Long, Double)] = {
      val out = new Array[(Long, Double)](n)
      while (n > 0) {
        out(n - 1) = (docs(0), scores(0))
        n -= 1
        swap(0, n)
        siftDown(0)
      }
      out.iterator
    }
  }
}

/** The positional-match kernel of every positional query — phrases,
  * multi-phrases, span-near and interval sources — over a set of posting
  * blocks that holds the COMPLETE postings of the docs in one doc-range
  * slice of [[Searcher]]'s positional plan, on a built index or a merged
  * one: the reference's per-LeafReaderContext `ExactPhraseMatcher` /
  * `SloppyPhraseMatcher` / interval-iterator loop
  * (`lucene/core/src/java/org/apache/lucene/search/ExactPhraseMatcher.java:39`).
  * The lead terms decode first and their docs that the slice's [[Accept]]
  * holds are the candidates; every other term's block decodes only when
  * its `[firstDoc, lastDoc]` range holds a candidate — the
  * `ConjunctionDISIApproximation` advance pattern — and the per-doc
  * frequency function verifies positions. */
object Positional {

  /** `(docId, freq, doclen)` of every candidate doc `accept` holds whose
    * `freq` is above 0. `byTerm` holds the blocks per present query term;
    * `lead` is the term set whose docs' union bounds every match (empty:
    * every term in `byTerm`). `freq` maps a doc's positions — per term, its
    * sorted positions or null when the doc lacks the term — to a frequency,
    * 0 meaning no match. `onDecode` is a test hook counting block decodes. */
  def matchingDocs(byTerm: scala.collection.Map[String, scala.collection.Seq[PostingBlock]],
      lead: Set[String], accept: Accept,
      freq: (String => Array[Int]) => Double,
      onDecode: () => Unit = () => ()): Iterator[(Long, Double, Int)] = {
    val posOf = mutable.HashMap.empty[String, mutable.LongMap[Array[Int]]]
    val doclens = mutable.LongMap.empty[Int]
    (if (lead.isEmpty) byTerm.keySet else lead.filter(byTerm.contains)).foreach { t =>
      val m = mutable.LongMap.empty[Array[Int]]
      byTerm(t).foreach { b =>
        onDecode()
        val d = PostingsCodec.decodeBlock(b, withPositions = true)
        var i = 0
        while (i < d.docs.length) {
          val doc = d.docs(i)
          if (accept(doc)) { m.update(doc, d.positions(i)); doclens.update(doc, d.doclens(i)) }
          i += 1
        }
      }
      posOf(t) = m
    }
    val cands = doclens.keys.toArray
    if (cands.isEmpty) return Iterator.empty
    java.util.Arrays.sort(cands)
    byTerm.foreach { case (t, bs) =>
      if (!posOf.contains(t)) {
        val m = mutable.LongMap.empty[Array[Int]]
        bs.foreach { b =>
          var i = java.util.Arrays.binarySearch(cands, b.firstDoc)
          if (i < 0) i = -i - 1
          if (i < cands.length && cands(i) <= b.lastDoc) {
            onDecode()
            val d = PostingsCodec.decodeBlock(b, withPositions = true)
            var j = 0
            while (j < d.docs.length) {
              if (doclens.contains(d.docs(j))) m.update(d.docs(j), d.positions(j))
              j += 1
            }
          }
        }
        posOf(t) = m
      }
    }
    var doc = 0L
    val positions: String => Array[Int] = t => posOf.get(t) match {
      case Some(m) => m.getOrNull(doc)
      case None => null
    }
    cands.iterator.flatMap { d =>
      doc = d
      val f = freq(positions)
      if (f > 0) Iterator.single((d, f, doclens(d))) else Iterator.empty
    }
  }
}

/** Phrase frequency of [[Searcher]]'s phrase and multi-phrase kernels. */
object PhraseSegment {

  /** One doc's phrase frequency from its per-term sorted positions (in
    * query order): with slop 0 the number of start positions p where term i
    * occurs at p + i, else [[SloppyMatcher]]'s fractional sloppy frequency. */
  def phraseFreq(arrays: Array[Array[Int]], slop: Int): Double =
    if (slop != 0) SloppyMatcher.sloppyFreq(arrays, slop)
    else {
      var count = 0
      val base = arrays(0)
      var p = 0
      while (p < base.length) {
        val p0 = base(p)
        var all = true
        var j = 1
        while (all && j < arrays.length) {
          if (java.util.Arrays.binarySearch(arrays(j), p0 + j) < 0) all = false
          j += 1
        }
        if (all) count += 1
        p += 1
      }
      count.toDouble
    }
}
