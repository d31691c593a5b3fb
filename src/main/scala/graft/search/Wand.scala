package graft.search

import graft.core.{PostingBlock, PostingsCodec}

/** In-partition dynamic block-max WAND/MAXSCORE loop — the per-segment
  * document-at-a-time scorer the reference runs inside one searcher thread
  * (`lucene/core/src/java/org/apache/lucene/search/WANDScorer.java:55`,
  * `MaxScoreBulkScorer.java:26`, `ImpactsDISI.java:56`), re-expressed as a
  * `flatMapGroups` body over one segment's surviving posting blocks.
  *
  * A segment holds the complete postings of every document it owns (for all
  * terms), so per-doc sums computed inside one segment group are exact — the
  * same invariant that makes the reference's per-LeafReaderContext scoring
  * correct. The loop consumes blocks across terms in ascending-firstDoc order
  * and keeps a local top-k heap whose k-th score lifts the static pass-1
  * threshold `T` into a *rising* local threshold τ:
  *
  *  - a block `b` of term `t` is skipped (never decoded) when
  *    `ub(b) + Σ_{t'≠t} segMaxUb(t') < τ`: any doc in `b` has true score
  *    below τ at skip time, and τ only rises, so the doc can never enter the
  *    local (hence global) top k. Its accumulated partial sum from other
  *    terms stays below τ too (partial ≤ true), so the final `sum ≥ τ` gate
  *    drops it — exactly the static pass-2 argument, block by block.
  *  - docs strictly below every term's current block frontier are complete
  *    (terms' blocks are doc-ordered and disjoint), so they are finalized
  *    into the heap eagerly, which is what makes τ rise *during* the scan —
  *    the dynamic advantage the reference gets from collector feedback.
  *
  * The caller still applies the global static threshold and merges segment
  * top-ks; this loop only ever *removes* decode work, never changes results.
  *
  * No search plan calls these loops: [[Searcher]] scores flat queries with
  * [[SingleTask.flatTopK]]. They remain as kernels, timed by perfbench's
  * kernel layer and checked by MaxScoreSpec.
  */
object Wand {

  private final class Acc(var sum: Double, var cnt: Int)

  /** Score one segment's blocks document-at-a-time with dynamic block-max
    * skipping. Emits this segment's top-k (docId, exact score) candidates
    * with score ≥ the rising threshold (≥ `threshold`).
    *
    * @param rows       (term, blockUpperBound, block) for every surviving
    *                   block of this segment
    * @param scorers    per-term exact scorer (freq, quantizedDoclen) => score
    * @param nTerms     number of distinct query terms present in the index
    * @param requireAll conjunction semantics: docs must carry all nTerms
    * @param threshold  static lower bound on the global k-th best score
    * @param k          result size
    */
  def segmentTopK(
      rows: Iterator[(String, Double, PostingBlock)],
      scorers: Map[String, (Int, Int) => Double],
      nTerms: Int,
      requireAll: Boolean,
      threshold: Double,
      k: Int): Iterator[(Long, Double)] = {

    // ---- per-term doc-ordered block queues
    val byTerm = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Double, PostingBlock)]]
    rows.foreach { case (t, ub, b) =>
      byTerm.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) += ((ub, b))
    }
    if (byTerm.isEmpty) return Iterator.empty
    if (requireAll && byTerm.size < nTerms) return Iterator.empty // a MUST term misses the segment
    val terms = byTerm.keys.toArray
    val queues = terms.map { t =>
      val q = byTerm(t)
      q.sortInPlaceBy(_._2.firstDoc)
      q
    }
    val segMaxUb = queues.map(q => q.iterator.map(_._1).max)
    val sumSegMax = segMaxUb.sum
    // Σ_{t'≠t} segMaxUb(t') — bounds every other term's possible per-doc
    // contribution anywhere in the segment (a doc has one block per term)
    val othersBound = segMaxUb.map(sumSegMax - _)

    // ---- local top-k heap (worst on top: lowest score, then HIGHEST docId —
    // ties prefer the smaller doc id, mirroring the global sort order)
    val heap = new java.util.PriorityQueue[(Double, Long)](k, (a: (Double, Long), b: (Double, Long)) =>
      if (a._1 != b._1) java.lang.Double.compare(a._1, b._1) else java.lang.Long.compare(b._2, a._2))
    var tau = threshold
    def offer(doc: Long, score: Double): Unit = {
      if (heap.size < k) {
        heap.add((score, doc))
        if (heap.size == k) tau = math.max(threshold, heap.peek()._1)
      } else {
        val worst = heap.peek()
        if (score > worst._1 || (score == worst._1 && doc < worst._2)) {
          heap.poll(); heap.add((score, doc))
          tau = math.max(threshold, heap.peek()._1)
        }
      }
    }

    // ---- doc accumulator, finalized in doc order as the frontier advances
    val acc = new java.util.TreeMap[java.lang.Long, Acc]()
    def flushBelow(frontier: Long): Unit = {
      while (!acc.isEmpty && acc.firstKey() < frontier) {
        val e = acc.pollFirstEntry()
        val a = e.getValue
        if ((!requireAll || a.cnt == nTerms) && a.sum >= tau) offer(e.getKey, a.sum)
      }
    }

    // ---- DAAT over blocks
    val ptr = new Array[Int](terms.length)
    var done = false
    while (!done) {
      var tStar = -1
      var minFirst = Long.MaxValue
      var i = 0
      while (i < terms.length) {
        if (ptr(i) < queues(i).length) {
          val f = queues(i)(ptr(i))._2.firstDoc
          if (f < minFirst) { minFirst = f; tStar = i }
        }
        i += 1
      }
      if (tStar < 0) { flushBelow(Long.MaxValue); done = true }
      else {
        val (ub, b) = queues(tStar)(ptr(tStar))
        // every unconsumed block of every term starts at ≥ b.firstDoc, so docs
        // strictly below it can receive no further contribution
        flushBelow(b.firstDoc)
        if (ub + othersBound(tStar) >= tau) {
          val f = scorers(terms(tStar))
          val d = PostingsCodec.decodeBlock(b)
          var j = 0
          while (j < d.docs.length) {
            val a = acc.get(d.docs(j))
            val s = f(d.freqs(j), d.doclens(j))
            if (a == null) acc.put(d.docs(j), new Acc(s, 1))
            else { a.sum += s; a.cnt += 1 }
            j += 1
          }
        }
        ptr(tStar) += 1
      }
    }

    val out = new Array[(Long, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { val e = heap.poll(); out(i) = (e._2, e._1); i -= 1 }
    out.iterator
  }

  /** MAXSCORE bulk-scorer variant for DISJUNCTIVE top-k — the reference's
    * essential/non-essential term partitioning
    * (`lucene/core/src/java/org/apache/lucene/search/MaxScoreBulkScorer.java:26`:
    * terms sorted by max score; the largest prefix whose summed max scores
    * stay under the collector threshold is "non-essential" and never
    * *generates* candidates, only *verifies* them), re-expressed over one
    * segment's posting blocks in two passes:
    *
    *  1. essential terms' surviving blocks are decoded and accumulate the
    *     candidate set (a doc matched ONLY by non-essential terms has true
    *     score ≤ Σ non-essential maxUb < threshold — correctly never
    *     materialized, the core MAXSCORE saving);
    *  2. non-essential terms are applied in DESCENDING maxUb order: before
    *     each, candidates that cannot reach the threshold even with every
    *     remaining term's maxUb are dropped, and a term's block is decoded
    *     ONLY if a still-viable candidate falls inside [firstDoc, lastDoc]
    *     (the per-candidate advance() of the reference, block-granular).
    *
    * Emits exact scores ≥ `threshold`; the caller merges segment top-ks under
    * the same static threshold, so like [[segmentTopK]] this only removes
    * decode work, never changes results. `onDecode` is a test hook counting
    * physical block decodes. */
  def segmentTopKMaxScore(
      rows: Iterator[(String, Double, PostingBlock)],
      scorers: Map[String, (Int, Int) => Double],
      threshold: Double,
      k: Int,
      onDecode: () => Unit = () => ()): Iterator[(Long, Double)] = {

    val byTerm = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[(Double, PostingBlock)]]
    rows.foreach { case (t, ub, b) =>
      byTerm.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) += ((ub, b))
    }
    if (byTerm.isEmpty) return Iterator.empty
    // ascending segment-level max upper bound; the non-essential prefix is
    // the largest one whose ubs sum strictly below the threshold
    val terms = byTerm.keys.toArray.map(t => (t, byTerm(t).iterator.map(_._1).max))
      .sortBy { case (t, ub) => (ub, t) }
    var cut = 0
    var acc0 = 0.0
    while (cut < terms.length && acc0 + terms(cut)._2 < threshold) {
      acc0 += terms(cut)._2; cut += 1
    }
    val nonEssential = terms.take(cut) // ascending ub
    val essential = terms.drop(cut)
    val sumAllUb = terms.iterator.map(_._2).sum

    // ---- pass 1: essential terms generate candidates
    val cand = new java.util.TreeMap[java.lang.Long, Acc]()
    essential.foreach { case (t, _) =>
      val f = scorers(t)
      val othersBound = sumAllUb - byTerm(t).iterator.map(_._1).max
      byTerm(t).foreach { case (ub, b) =>
        if (ub + othersBound >= threshold) { // segment-tight static skip
          onDecode()
          val d = PostingsCodec.decodeBlock(b)
          var j = 0
          while (j < d.docs.length) {
            val a = cand.get(d.docs(j))
            val s = f(d.freqs(j), d.doclens(j))
            if (a == null) cand.put(d.docs(j), new Acc(s, 1))
            else { a.sum += s; a.cnt += 1 }
            j += 1
          }
        }
      }
    }
    if (cand.isEmpty) return Iterator.empty

    // ---- pass 2: non-essential terms verify, best-first
    var remaining = acc0 // Σ maxUb of the not-yet-applied non-essential terms
    nonEssential.reverseIterator.foreach { case (t, ub) =>
      // drop candidates that cannot reach the threshold with all remaining help
      val it = cand.entrySet().iterator()
      while (it.hasNext) {
        if (it.next().getValue.sum + remaining < threshold) it.remove()
      }
      if (!cand.isEmpty) {
        val f = scorers(t)
        byTerm(t).foreach { case (_, b) =>
          // decode only blocks that contain a still-viable candidate
          if (!cand.subMap(b.firstDoc, true, b.lastDoc, true).isEmpty) {
            onDecode()
            val d = PostingsCodec.decodeBlock(b)
            var j = 0
            while (j < d.docs.length) {
              val a = cand.get(d.docs(j))
              if (a != null) { a.sum += f(d.freqs(j), d.doclens(j)); a.cnt += 1 }
              j += 1
            }
          }
        }
      }
      remaining -= ub
    }

    // ---- final top-k heap (same order contract as segmentTopK)
    val heap = new java.util.PriorityQueue[(Double, Long)](k, (a: (Double, Long), b: (Double, Long)) =>
      if (a._1 != b._1) java.lang.Double.compare(a._1, b._1) else java.lang.Long.compare(b._2, a._2))
    val it = cand.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val s = e.getValue.sum
      if (s >= threshold) {
        if (heap.size < k) heap.add((s, e.getKey))
        else {
          val worst = heap.peek()
          if (s > worst._1 || (s == worst._1 && e.getKey < worst._2)) {
            heap.poll(); heap.add((s, e.getKey))
          }
        }
      }
    }
    val out = new Array[(Long, Double)](heap.size)
    var i = out.length - 1
    while (i >= 0) { val e = heap.poll(); out(i) = (e._2, e._1); i -= 1 }
    out.iterator
  }
}
