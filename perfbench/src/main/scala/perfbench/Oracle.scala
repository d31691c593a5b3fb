package perfbench

import graft.core.{SimpleAnalyzer, SmallFloat}
import graft.search._
import graft.webtext.PageGen

/** Exhaustive top-k over the benchmark [[Corpus]], computed in the
  * benchmark's own JVM without the engine or Spark: the corpus is re-generated, analyzed and inverted in
  * memory, and every document is scored with precise BM25 (k1 = 1.2,
  * b = 0.75 over byte-quantized lengths), the model of
  * `ScoringMode.PreciseBM25`. Doc ids follow the engine's assignment: the
  * rank of the page's url in url order.
  *
  * Covers the shapes of [[QueryMix]]: terms, flat term booleans (MUST,
  * SHOULD with minimum-should-match, MUST_NOT), exact phrases, and the
  * constant-score (score 1) prefix and range expansions. The same inversion
  * and scorer feed the single-threaded kernels ([[Kernels]]). */
final class Oracle(p: PageGen.Params, nDocs: Int) {
  private val k1 = 1.2
  private val b = 0.75

  /** term -> docId -> positions */
  private val postings = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashMap[Long, Array[Int]]]
  /** Token count of each document, by doc id. */
  val docLengths = new Array[Int](nDocs)
  private val (docCount, avgdl) = {
    val cdf = PageGen.zipfCdf(p)
    val byUrl = (0 until nDocs).map(i => (Corpus.url(i.toLong, p), i)).sortBy(_._1).map(_._2)
    byUrl.zipWithIndex.foreach { case (ord, docId) =>
      val toks = SimpleAnalyzer.tokenize(Corpus.text(ord.toLong, p, cdf))
      docLengths(docId) = toks.length
      toks.groupBy(_.term).foreach { case (t, ts) =>
        postings.getOrElseUpdate(t, scala.collection.mutable.HashMap.empty)(docId.toLong) =
          ts.map(_.position).sorted.toArray
      }
    }
    (nDocs.toLong, docLengths.map(_.toLong).sum / nDocs.toDouble)
  }
  private val doclenQ = docLengths.map(n => SmallFloat.byte4ToInt(SmallFloat.intToByte4(n)))
  /** Every indexed term, sorted. */
  val sortedTerms: IndexedSeq[String] = postings.keys.toIndexedSeq.sorted

  private def idf(df: Int): Double = math.log(1 + (docCount - df + 0.5) / (df + 0.5))

  /** Precise BM25 of a term (or a phrase) whose idfs sum to `idfSum`: the
    * score of a document from the term frequency and the document's
    * byte-quantized length. */
  def scorer(idfSum: Double): (Int, Int) => Double = { (freq, quantizedLen) =>
    val f = freq.toDouble
    idfSum * (f / (f + k1 * (1 - b + b * quantizedLen / avgdl)))
  }

  /** [[scorer]] of one term with document frequency `df`. */
  def termScorer(df: Int): (Int, Int) => Double = scorer(idf(df))

  private def bm25(idfSum: Double, freq: Int, docId: Long): Double =
    scorer(idfSum)(freq, doclenQ(docId.toInt))

  private def docsOf(t: String) = postings.getOrElse(t, scala.collection.mutable.HashMap.empty[Long, Array[Int]])

  def docFreq(t: String): Int = docsOf(t).size

  /** The postings of `t` in doc-id order: (doc id, sorted positions). */
  def postingsOf(t: String): Seq[(Long, Array[Int])] = docsOf(t).toSeq.sortBy(_._1)

  private def termScores(t: String): Map[Long, Double] = {
    val ds = docsOf(t)
    val w = idf(ds.size)
    ds.map { case (d, ps) => d -> bm25(w, ps.length, d) }.toMap
  }

  /** Every matching doc with its score. */
  def scored(q: Query): Map[Long, Double] = q match {
    case TermQuery(t) => termScores(t)
    case BooleanQuery(clauses, msm) =>
      val terms = clauses.map { case (o, c) => (o, c.asInstanceOf[TermQuery].term) }
      val must = terms.collect { case (Occur.MUST, t) => termScores(t) }
      val should = terms.collect { case (Occur.SHOULD, t) => termScores(t) }
      val not = terms.collect { case (Occur.MUST_NOT, t) => docsOf(t).keySet }.flatten.toSet
      val base: Map[Long, Double] =
        if (must.nonEmpty) {
          require(should.isEmpty, "MUST with SHOULD is not a mix shape")
          must.map(_.keySet).reduce(_ intersect _).map(d => d -> must.map(_(d)).sum).toMap
        } else {
          val need = math.max(msm, 1)
          should.flatMap(_.keySet).distinct
            .map(d => d -> should.flatMap(_.get(d)))
            .collect { case (d, ss) if ss.length >= need => d -> ss.sum }.toMap
        }
      base -- not
    case PhraseQuery(ts, 0) =>
      val lists = ts.map(docsOf)
      if (lists.exists(_.isEmpty)) Map.empty
      else {
        val w = ts.map(t => idf(docsOf(t).size)).sum
        lists.map(_.keySet).reduce(_ intersect _).toSeq.flatMap { d =>
          val ps = lists.map(_(d))
          val freq = ps.head.count(p0 => ps.indices.forall(j => java.util.Arrays.binarySearch(ps(j), p0 + j) >= 0))
          if (freq > 0) Some(d -> bm25(w, freq, d)) else None
        }.toMap
      }
    case PrefixQuery(pre) => constant(sortedTerms.filter(_.startsWith(pre)))
    case TermRangeQuery(lo, hi, il, ih) =>
      constant(sortedTerms.filter { t =>
        lo.forall(l => if (il) t >= l else t > l) && hi.forall(h => if (ih) t <= h else t < h)
      })
    case other => throw new IllegalArgumentException(s"no oracle for $other")
  }

  private def constant(terms: Seq[String]): Map[Long, Double] =
    terms.flatMap(t => docsOf(t).keys).map(_ -> 1.0).toMap

  /** The first `limit` hits in (score desc, docId asc) order. */
  def topK(q: Query, limit: Int): Seq[(Long, Double)] =
    scored(q).toSeq.sortBy { case (d, s) => (-s, d) }.take(limit)
}
