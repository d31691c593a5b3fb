package graft.search

import graft.core.{LongBuf, PostingBlock, PostingsCodec}
import scala.collection.mutable

/** One flat term clause of a query (see [[Searcher]]'s flattening).
  * `kind`: 0 = required (MUST, or FILTER with boost 0 so it gates without
  * scoring), 1 = optional (SHOULD), 2 = prohibited (MUST_NOT). */
final case class FlatClause(term: String, boost: Double, kind: Int)

/** A query flattened to term clauses under `compileBoolean`'s match rule: a
  * doc matches when it carries all `nMust` required clauses, at least `msm`
  * optional ones and no prohibited one; its score is the sum. */
final case class FlatQuery(clauses: Seq[FlatClause], nMust: Int, msm: Int)

/** Top-k kernels: each consumes one query's posting blocks in one task or
  * on the driver — all of them, or one doc-range slice's — the reference's
  * one thread, one collector loop (`IndexSearcher.search` →
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

  /** The k smallest distinct doc ids of the blocks in `[lo, hi]` — a
    * constant-score expansion's top-k (score ties break docId asc). */
  def smallestDocs(blocks: Iterator[PostingBlock], k: Int,
      lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Iterator[Long] = {
    val all = new LongBuf()
    blocks.foreach(b => PostingsCodec.decodeDocIds(b).foreach(d => if (d >= lo && d <= hi) all.add(d)))
    val docs = all.toArray
    java.util.Arrays.sort(docs)
    docs.iterator.distinct.take(math.max(k, 0))
  }
}

/** The positional-match kernel of every positional query — phrases,
  * multi-phrases, span-near and interval sources — over a set of posting
  * blocks that holds the COMPLETE postings of the docs in `[lo, hi]` (one
  * doc-range slice of [[Searcher]]'s positional plan, on a built index or a
  * merged one): the reference's per-LeafReaderContext `ExactPhraseMatcher` /
  * `SloppyPhraseMatcher` / interval-iterator loop
  * (`lucene/core/src/java/org/apache/lucene/search/ExactPhraseMatcher.java:39`).
  * The lead terms decode first and their docs in `[lo, hi]` are the
  * candidates; every other term's block decodes only when its
  * `[firstDoc, lastDoc]` range holds a candidate — the
  * `ConjunctionDISIApproximation` advance pattern — and the per-doc
  * frequency function verifies positions. */
object Positional {

  /** `(docId, freq, doclen)` of every candidate doc in `[lo, hi]` whose
    * `freq` is above 0. `byTerm` holds the blocks per present query term;
    * `lead` is the term set whose docs' union bounds every match (empty:
    * every term in `byTerm`). `freq` maps a doc's positions — per term, its
    * sorted positions or null when the doc lacks the term — to a frequency,
    * 0 meaning no match. `onDecode` is a test hook counting block decodes. */
  def matchingDocs(byTerm: scala.collection.Map[String, scala.collection.Seq[PostingBlock]],
      lead: Set[String], lo: Long, hi: Long,
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
          if (doc >= lo && doc <= hi) { m.update(doc, d.positions(i)); doclens.update(doc, d.doclens(i)) }
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
