package graft.core

/** Collection-level statistics needed to bind a scorer.
  * Mirrors the reference's `CollectionStatistics` (docCount, sumTotalTermFreq);
  * see `lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:106-108`.
  */
final case class CollectionStats(docCount: Long, sumTotalTermFreq: Long) {
  /** avgdl computed exactly like the reference: long/long in double, cast to float. */
  def avgFieldLength: Float = (sumTotalTermFreq / docCount.toDouble).toFloat

  /** The statistics of the union of two disjoint doc sets. */
  def +(o: CollectionStats): CollectionStats =
    CollectionStats(docCount + o.docCount, sumTotalTermFreq + o.sumTotalTermFreq)
}

/** Per-term statistics (df = number of docs containing the term). */
final case class TermStats(docFreq: Long, totalTermFreq: Long)

/** A bound per-term scorer: score(freq, normByte).
  * Semantics follow the reference's `SimScorer` contract
  * (`lucene/core/src/java/org/apache/lucene/search/similarities/Similarity.java:44-215`).
  */
trait SimScorer extends Serializable {
  def score(freq: Float, normByte: Byte): Float
  /** Upper bound of score for any (freq <= maxFreq, any norm) — used for
    * block-max pruning. */
  def maxScore(maxFreq: Float): Float
}

trait Similarity extends Serializable {
  def scorer(boost: Float, collectionStats: CollectionStats, termStats: TermStats): SimScorer
}

/** BM25 with the reference's exact float arithmetic:
  * `idf = ln(1 + (N - n + 0.5)/(n + 0.5))` (double math, cast to float),
  * `score = weight - weight / (1 + freq * normInverse)` in float, where
  * `normInverse = 1/(k1*((1-b) + b*dl/avgdl))` is precomputed for all 256
  * quantized length bytes. Reference:
  * `lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:100-233`.
  */
final case class BM25Similarity(k1: Float = 1.2f, b: Float = 0.75f) extends Similarity {
  require(java.lang.Float.isFinite(k1) && k1 >= 0, s"illegal k1 value: $k1")
  require(b >= 0 && b <= 1, s"illegal b value: $b")

  def idf(docFreq: Long, docCount: Long): Float =
    math.log(1 + (docCount - docFreq + 0.5d) / (docFreq + 0.5d)).toFloat

  override def scorer(boost: Float, cs: CollectionStats, ts: TermStats): SimScorer = {
    val avgdl = cs.avgFieldLength
    val cache = new Array[Float](256)
    var i = 0
    while (i < 256) {
      cache(i) = 1f / (k1 * ((1 - b) + b * SmallFloat.LengthTable(i) / avgdl))
      i += 1
    }
    val weight = boost * idf(ts.docFreq, cs.docCount)
    new BM25Scorer(weight, cache)
  }

  private final class BM25Scorer(weight: Float, cache: Array[Float]) extends SimScorer {
    override def score(freq: Float, normByte: Byte): Float = {
      val normInverse = cache(normByte & 0xFF)
      weight - weight / (1f + freq * normInverse)
    }
    override def maxScore(maxFreq: Float): Float = {
      // largest normInverse over all 256 entries bounds the score for any norm
      var maxInv = 0f
      var i = 0
      while (i < 256) { if (cache(i) > maxInv) maxInv = cache(i); i += 1 }
      weight - weight / (1f + maxFreq * maxInv)
    }
  }
}

/** Classic TF-IDF: `tf = sqrt(freq)`, `idf = ln((N+1)/(n+1)) + 1`,
  * `lengthNorm = 1/sqrt(dl)`; reference
  * `lucene/core/src/java/org/apache/lucene/search/similarities/ClassicSimilarity.java:45-72`.
  */
final case class ClassicSimilarity() extends Similarity {
  def idf(docFreq: Long, docCount: Long): Float =
    (math.log((docCount + 1) / (docFreq + 1.0d)) + 1.0d).toFloat

  override def scorer(boost: Float, cs: CollectionStats, ts: TermStats): SimScorer = {
    val i = idf(ts.docFreq, cs.docCount)
    val weight = boost * i * i
    val normTable = new Array[Float](256)
    var j = 0
    while (j < 256) {
      val dl = SmallFloat.LengthTable(j)
      normTable(j) = if (dl == 0) 0f else (1.0 / math.sqrt(dl.toDouble)).toFloat
      j += 1
    }
    new SimScorer {
      override def score(freq: Float, normByte: Byte): Float =
        weight * math.sqrt(freq.toDouble).toFloat * normTable(normByte & 0xFF)
      override def maxScore(maxFreq: Float): Float =
        weight * math.sqrt(maxFreq.toDouble).toFloat * 1f // dl>=1 => norm<=1
    }
  }
}
