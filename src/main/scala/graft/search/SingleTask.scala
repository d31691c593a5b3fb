package graft.search

import graft.core.{LongBuf, PostingBlock, PostingsCodec}
import scala.collection.mutable

/** One flat term clause of a query (see [[Searcher]]'s flattening).
  * `kind`: 0 = required (MUST, or FILTER with boost 0 so it gates without
  * scoring), 1 = optional (SHOULD, dismax member), 2 = prohibited
  * (MUST_NOT). */
final case class FlatClause(term: String, boost: Double, kind: Int)

/** A query flattened to term clauses under `compileBoolean`'s match rule: a
  * doc matches when it carries all `nMust` required clauses, at least `msm`
  * optional ones and no prohibited one. `tie >= 0` marks a dismax, whose
  * score is `max + tie·(sum − max)` instead of the sum. */
final case class FlatQuery(clauses: Seq[FlatClause], nMust: Int, msm: Int, tie: Double)

/** Executor-side top-k kernels: each consumes one query's posting blocks
  * inside one task — all of them, or one doc-range slice's — the
  * reference's one thread, one collector loop (`IndexSearcher.search` →
  * `TopScoreDocCollector`) — and emits at most k rows. */
object SingleTask {

  /** Group `(term, block)` rows by term. */
  def byTerm(rows: Iterator[(String, PostingBlock)])
      : mutable.HashMap[String, mutable.ArrayBuffer[PostingBlock]] = {
    val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[PostingBlock]]
    rows.foreach { case (t, b) => m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += b }
    m
  }

  /** The k best `(docId, score)` by score desc, docId asc, emitted in that
    * order (bounded heap, worst on top). */
  def topK(hits: Iterator[(Long, Double)], k: Int): Iterator[(Long, Double)] = {
    if (k <= 0) return Iterator.empty
    val heap = new java.util.PriorityQueue[(Double, Long)](k, (a: (Double, Long), b: (Double, Long)) =>
      if (a._1 != b._1) java.lang.Double.compare(a._1, b._1) else java.lang.Long.compare(b._2, a._2))
    hits.foreach { case (doc, score) =>
      if (heap.size < k) heap.add((score, doc))
      else {
        val worst = heap.peek()
        if (score > worst._1 || (score == worst._1 && doc < worst._2)) {
          heap.poll(); heap.add((score, doc))
        }
      }
    }
    val out = new Array[(Long, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { val e = heap.poll(); out(i) = (e._2, e._1); i -= 1 }
    out.iterator
  }

  /** Flat term boolean top-k by per-doc accumulation over the docs in
    * `[lo, hi]` (one doc-range slice; postings outside it are skipped).
    * `scorers(c)` scores clause c (null: the clause only gates — MUST_NOT,
    * FILTER). Each term's blocks decode once whatever its clause count;
    * doc-ids-only when no clause scores the term. */
  def flatTopK(rows: Iterator[(String, PostingBlock)], clauses: Array[FlatClause],
      scorers: Array[(Int, Int) => Double], nMust: Int, msm: Int, k: Int,
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Iterator[(Long, Double)] = {
    val blocks = byTerm(rows)
    final class Decoded(val docs: Array[Long], val freqs: Array[Int], val doclens: Array[Int])
    val decoded = blocks.map { case (t, bs) =>
      val scored = clauses.indices.exists(c => clauses(c).term == t && scorers(c) != null)
      if (!scored) t -> new Decoded(bs.iterator.flatMap(b => PostingsCodec.decodeDocIds(b)).toArray, null, null)
      else {
        val ds = bs.map(b => PostingsCodec.decodeBlock(b))
        t -> new Decoded(ds.iterator.flatMap(_.docs).toArray,
          ds.iterator.flatMap(_.freqs).toArray, ds.iterator.flatMap(_.doclens).toArray)
      }
    }
    // the slice's doc universe, sorted and distinct: one slot per candidate doc
    val all = new LongBuf(decoded.valuesIterator.map(_.docs.length).sum + 1)
    decoded.valuesIterator.foreach(_.docs.foreach(d => if (d >= lo && d <= hi) all.add(d)))
    val sorted = all.toArray
    java.util.Arrays.sort(sorted)
    var n = 0
    var i = 0
    while (i < sorted.length) {
      if (n == 0 || sorted(n - 1) != sorted(i)) { sorted(n) = sorted(i); n += 1 }
      i += 1
    }
    val score = new Array[Double](n)
    val nReq = new Array[Int](n)
    val nOpt = new Array[Int](n)
    val nNot = new Array[Int](n)
    clauses.indices.foreach { c =>
      decoded.get(clauses(c).term).foreach { d =>
        val f = scorers(c)
        val counts = clauses(c).kind match { case 0 => nReq; case 1 => nOpt; case _ => nNot }
        var j = 0
        while (j < d.docs.length) {
          val slot = java.util.Arrays.binarySearch(sorted, 0, n, d.docs(j))
          if (slot >= 0) {
            counts(slot) += 1
            if (f != null) score(slot) += f(d.freqs(j), d.doclens(j))
          }
          j += 1
        }
      }
    }
    topK(Iterator.range(0, n)
      .filter(s => nNot(s) == 0 && nReq(s) == nMust && nOpt(s) >= msm)
      .map(s => (sorted(s), score(s))), k)
  }

  /** The k smallest distinct doc ids of the blocks — a constant-score
    * expansion's top-k (score ties break docId asc). */
  def smallestDocs(blocks: Iterator[PostingBlock], k: Int): Iterator[Long] = {
    val all = new LongBuf()
    blocks.foreach(b => PostingsCodec.decodeDocIds(b).foreach(all.add))
    val docs = all.toArray
    java.util.Arrays.sort(docs)
    docs.iterator.distinct.take(math.max(k, 0))
  }
}

/** Exact / sloppy phrase matching over a set of posting blocks that holds
  * the COMPLETE postings of the docs it covers — one doc-aligned segment, or
  * the whole index — the reference's per-LeafReaderContext
  * `ExactPhraseMatcher` / `SloppyPhraseMatcher` loop
  * (`lucene/core/src/java/org/apache/lucene/search/ExactPhraseMatcher.java:39`):
  * decode the rarest term first, skip every other term's blocks that don't
  * overlap its doc set, intersect, verify positions. */
object PhraseSegment {

  /** `(docId, score)` of every doc matching the phrase `terms` within `slop`.
    * `byTerm` holds the blocks per query term; `rarest` is the term decoded
    * first (the globally rarest: its docs bound every candidate). */
  def matchingDocs(byTerm: scala.collection.Map[String, scala.collection.Seq[PostingBlock]],
      terms: IndexedSeq[String], rarest: String, slop: Int,
      scorer: (Double, Int) => Double): Iterator[(Long, Double)] = {
    val distinctTerms = terms.distinct
    if (!distinctTerms.forall(byTerm.contains)) return Iterator.empty
    val rdec = byTerm(rarest).sortBy(_.firstDoc).map(b => PostingsCodec.decodeBlock(b, withPositions = true))
    val nCand = rdec.iterator.map(_.docs.length).sum
    val candDocs = new Array[Long](nCand)
    val candLens = new Array[Int](nCand)
    val candPos = new Array[Array[Int]](nCand)
    var o = 0
    rdec.foreach { d =>
      var i = 0
      while (i < d.docs.length) {
        candDocs(o) = d.docs(i); candLens(o) = d.doclens(i); candPos(o) = d.positions(i)
        o += 1; i += 1
      }
    }
    // one segment's blocks are doc-ordered with disjoint ranges, so the
    // candidates arrive sorted; blocks gathered across segments or merged
    // (term, salt) rows overlap and are sorted here
    if ((1 until nCand).exists(i => candDocs(i - 1) > candDocs(i))) {
      val order = (0 until nCand).sortBy(candDocs(_))
      val (ds, ls, ps) = (order.map(candDocs).toArray, order.map(candLens).toArray, order.map(candPos).toArray)
      System.arraycopy(ds, 0, candDocs, 0, nCand)
      System.arraycopy(ls, 0, candLens, 0, nCand)
      System.arraycopy(ps, 0, candPos, 0, nCand)
    }
    val posOf = mutable.HashMap.empty[String, java.util.HashMap[Long, Array[Int]]]
    posOf(rarest) = {
      val m = new java.util.HashMap[Long, Array[Int]](nCand * 2)
      var i = 0
      while (i < nCand) { m.put(candDocs(i), candPos(i)); i += 1 }
      m
    }
    distinctTerms.filter(_ != rarest).foreach { t =>
      val m = new java.util.HashMap[Long, Array[Int]]()
      byTerm(t).foreach { b =>
        // skip blocks with no candidate in range — the leapfrog skip,
        // applied before DECODE (candDocs is sorted)
        var i = java.util.Arrays.binarySearch(candDocs, b.firstDoc)
        if (i < 0) i = -i - 1
        if (i < nCand && candDocs(i) <= b.lastDoc) {
          val d = PostingsCodec.decodeBlock(b, withPositions = true)
          var j = 0
          while (j < d.docs.length) {
            if (java.util.Arrays.binarySearch(candDocs, d.docs(j)) >= 0)
              m.put(d.docs(j), d.positions(j))
            j += 1
          }
        }
      }
      posOf(t) = m
    }
    Iterator.range(0, nCand).flatMap { i =>
      val doc = candDocs(i)
      val arrays = new Array[Array[Int]](terms.length)
      var ok = true
      var s = 0
      while (ok && s < terms.length) {
        val a = posOf(terms(s)).get(doc)
        if (a == null) ok = false else arrays(s) = a
        s += 1
      }
      if (!ok) None
      else {
        val freq = phraseFreq(arrays, slop)
        if (freq > 0) Some((doc, scorer(freq, candLens(i)))) else None
      }
    }
  }

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
