package graft.search

import graft.core._
import graft.index.InvertedIndex
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Row}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.hash.Murmur3_x86_32
import org.apache.spark.unsafe.types.UTF8String
import scala.jdk.CollectionConverters._

/** Positional window matcher for span-near verification (executor-side). */
object SpanMatcher extends Serializable {
  /** True iff one position can be chosen from each array (all distinct) such
    * that the span max-min < window, and (if inOrder) choices are strictly
    * increasing in array order. Backtracking over small per-doc lists. */
  def matches(arrays: Array[Array[Int]], window: Int, inOrder: Boolean): Boolean = {
    val k = arrays.length
    val chosen = new Array[Int](k)
    def rec(i: Int): Boolean = {
      if (i == k) {
        var mn = Int.MaxValue; var mx = Int.MinValue
        var j = 0
        while (j < k) { val p = chosen(j); if (p < mn) mn = p; if (p > mx) mx = p; j += 1 }
        mx - mn < window
      } else {
        val ps = arrays(i)
        var j = 0
        while (j < ps.length) {
          val p = ps(j)
          var ok = true
          var m = 0
          while (ok && m < i) {
            if (chosen(m) == p) ok = false
            else if (inOrder && chosen(m) >= p) ok = false
            m += 1
          }
          if (ok) {
            // prune: current partial span already too wide
            var mn = p; var mx = p
            var m2 = 0
            while (m2 < i) { val q = chosen(m2); if (q < mn) mn = q; if (q > mx) mx = q; m2 += 1 }
            if (mx - mn < window) {
              chosen(i) = p
              if (rec(i + 1)) return true
            }
          }
          j += 1
        }
        false
      }
    }
    rec(0)
  }
}

/** A decoded, scorable posting entry. */
final case class Hit(docId: Long, freq: Int, doclen: Int)

/** How scores are computed.
  *
  *  - [[ScoringMode.LuceneBM25]]: the reference's exact float arithmetic —
  *    byte-quantized length norms, 256-entry norm-inverse cache, float ops
  *    (`lucene/core/src/java/org/apache/lucene/search/similarities/BM25Similarity.java:220-233`).
  *    This is the rank-identity mode.
  *  - [[ScoringMode.PreciseBM25]]: the same model in double precision on the
  *    byte-quantized doc length (`SmallFloat.byte4ToInt(intToByte4(dl))` — the
  *    value the reference itself scores against), using only
  *    ANSI-SQL-expressible arithmetic
  *    (`idf(df) * freq / (freq + k1*(1 - b + b*dlq/avgdl))`), so an external
  *    SQL engine (DuckDB) can serve as a row-exact oracle (the oracle applies
  *    the same quantization via a 256-level lookup).
  *  - [[ScoringMode.Classic]]: TF-IDF (`ClassicSimilarity.java:45-72`).
  */
sealed trait ScoringMode extends Serializable
object ScoringMode {
  final case class LuceneBM25(k1: Float = 1.2f, b: Float = 0.75f) extends ScoringMode
  final case class PreciseBM25(k1: Double = 1.2, b: Double = 0.75) extends ScoringMode
  final case class Classic() extends ScoringMode
  /** Classic TF-IDF in double precision on quantized doc lengths (the
    * SQL-oracle-reproducible variant of [[Classic]]):
    * `idf = ln((N+1)/(df+1)) + 1`, `score = idf² · √freq / √dlq`. */
  final case class PreciseClassic() extends ScoringMode
  /** Dirichlet-smoothed query-likelihood language model
    * (`lucene/core/src/java/org/apache/lucene/search/similarities/LMDirichletSimilarity.java:76-81`):
    * `score = boost · (ln(1 + freq/(μ·P(t|C))) + ln(μ/(dl+μ)))` clamped at 0,
    * with `P(t|C) = (ttf+1)/(sumTTF+1)`
    * (`LMSimilarity.java:151` DefaultCollectionModel), `μ = 2000`.
    * Double precision on quantized doc lengths — SQL-oracle-reproducible. */
  final case class PreciseLMDirichlet(mu: Double = 2000.0) extends ScoringMode
  /** Jelinek-Mercer–smoothed query-likelihood language model
    * (`lucene/core/src/java/org/apache/lucene/search/similarities/LMJelinekMercerSimilarity.java:50-58`):
    * `score = boost · ln(1 + ((1−λ)·freq/dl) / (λ·P(t|C)))`,
    * `P(t|C) = (ttf+1)/(sumTTF+1)`. Double precision on quantized doc
    * lengths — SQL-oracle-reproducible. */
  final case class PreciseLMJelinekMercer(lambda: Double = 0.1) extends ScoringMode
  /** DFR I(n)L2 — divergence from randomness with the inverse-document-
    * frequency basic model, Laplace after-effect and H2 length normalization
    * (`lucene/core/src/java/org/apache/lucene/search/similarities/DFRSimilarity.java:63`,
    * `BasicModelIn.java`, `AfterEffectL.java`, `NormalizationH2.java`):
    * `tfn = freq · log2(1 + c·avgdl/dl)`,
    * `score = boost · log2((N+1)/(df+0.5)) · tfn/(tfn+1)`.
    * Double precision on quantized doc lengths — SQL-oracle-reproducible. */
  final case class PreciseDFRInL2(c: Double = 1.0) extends ScoringMode
  /** Information-based model with log-logistic distribution, document-
    * frequency lambda and H2 normalization
    * (`lucene/core/src/java/org/apache/lucene/search/similarities/IBSimilarity.java:53`,
    * `DistributionLL.java:29`, `LambdaDF.java:26`):
    * `tfn = freq · log2(1 + c·avgdl/dl)`, `λ = (df+1)/(N+1)`,
    * `score = boost · ln(1 + tfn/λ)`. SQL-oracle-reproducible. */
  final case class PreciseIBLL(c: Double = 1.0) extends ScoringMode
  /** Axiomatic F2-EXP
    * (`lucene/core/src/java/org/apache/lucene/search/similarities/AxiomaticF2EXP.java:30`):
    * `score = boost · ((N+1)/df)^k · freq/(freq + s + s·dl/avgdl)`,
    * defaults `s = 0.5`, `k = 0.35`. SQL-oracle-reproducible. */
  final case class PreciseAxiomaticF2EXP(s: Double = 0.5, k: Double = 0.35) extends ScoringMode
  /** Divergence-from-independence with the chi-squared measure
    * (`lucene/core/src/java/org/apache/lucene/search/similarities/DFISimilarity.java:44`,
    * `IndependenceChiSquared.java:25`):
    * `expected = (ttf+1)·dl/(sumTTF+1)`; 0 when `freq ≤ expected`, else
    * `score = boost · log2(1 + (freq−expected)²/expected)`.
    * SQL-oracle-reproducible. */
  final case class PreciseDFIChiSquared() extends ScoringMode
}

/** A query answered by one kernel over the posting blocks of its terms
  * (`dfs`: term → df): `kernel(rows, accept)` scores the docs `accept`
  * holds of the `(term, block)` rows it is given. No terms: no rows.
  * [[Searcher]] plans it as doc-range slices or runs it on the driver. */
private[search] final case class Routed(dfs: Map[String, Long],
    kernel: (Iterator[(String, PostingBlock)], Accept) => Iterator[(Long, Double)]) {

  /** Σdf of the terms. */
  def postings: Long = dfs.valuesIterator.sum

  /** The kernel over the blocks `blocks(t)` of each term t. */
  def over(blocks: String => Iterator[PostingBlock], accept: Accept): Iterator[(Long, Double)] =
    kernel(dfs.keysIterator.flatMap(t => blocks(t).map(b => (t, b))), accept)
}

/** One statistics lookup of [[Searcher]]: the exact terms' statistics and
  * each constant-score expansion's matched terms (term → df). */
private[search] final case class Lookup(stats: Map[String, TermStats], matched: Map[Query, Map[String, Long]])

/** Distributed query execution over an [[InvertedIndex]].
  *
  * Every query compiles to a DataFrame of `(docId: long, score: double)`;
  * boolean composition is join/union/anti-join algebra; top-k is
  * `ORDER BY score DESC, docId LIMIT k`, which Catalyst executes as
  * TakeOrderedAndProject — per-partition bounded heaps merged on the driver,
  * the exact distributed analog of the reference's per-slice collectors +
  * `TopDocs.merge` (`lucene/core/src/java/org/apache/lucene/search/TopDocs.java:203`).
  *
  * Flat term queries — a term, or a boolean of (boosted) term clauses with
  * MUST / SHOULD / MUST_NOT / msm, FILTER only without a `queryCache` — have
  * one top-k plan ([[flatPlan]]), the reference's one collector per index
  * slice merged by `TopDocs.merge`
  * (`lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:106`):
  * the query's `(term, block)` rows are cut into R doc-range slices, each
  * slice is scored by one [[SingleTask.flatTopK]] kernel — a doc-at-a-time
  * merge of per-clause cursors over its own docs into one bounded heap, the
  * reference's `DisjunctionSumScorer` feeding a `TopScoreDocCollector` —
  * and one TakeOrdered merges the slices. R grows with the
  * query's postings (Σdf) up to the default parallelism; slice s runs in
  * reduce task s. A [[InvertedIndex.warm]]ed index always takes the plan.
  * A cold index takes it above `pruneThreshold` postings, after its one
  * statistics lookup, and runs the exhaustive join plan below.
  *
  * Positional queries — exact and sloppy phrases, multi-phrases, span-near
  * and interval / span sources — have one plan on every index layout
  * ([[positionalRoute]]): the same doc-range slices, each matched by one
  * [[Positional.matchingDocs]] kernel, the reference's one phrase matcher
  * or interval iterator per leaf. The kernel decodes the query's lead (its
  * rarest term, or for a multi-phrase the cheapest position's alternatives)
  * first, decodes another term's block only where it holds a candidate
  * doc, and verifies positions per candidate. Only the query terms' encoded
  * blocks are shuffled, so the shuffle is bounded by the query's postings
  * whatever the shape. The plan yields every match; top-k takes
  * TakeOrdered over it.
  *
  * Constant-score expansions (prefix, range, term-set, fuzzy, regexp) take
  * the same slices on every reader: the statistics lookup resolves their
  * terms ([[lookup]]), and one [[SingleTask.smallestDocs]] kernel per slice
  * keeps the k smallest doc ids — the constant score's top-k.
  *
  * Driver route: a warm index whose encoded blocks fit the driver
  * ([[InvertedIndex.residentBlocks]]) answers every R = 1 query of these
  * three families — the reference's `IndexSearcher` over a
  * page-cache-resident reader, one thread and one collector. The kernel runs
  * on the driver over the resident blocks ([[onDriver]]), and the rows come
  * back as a local relation; top-k ranks them there, so `search` and its
  * `collect` run no Spark job. [[searchBatch]] answers the same queries
  * from the same kernels, their rows gathered into one local relation, so
  * a batch of them runs no job either; its other routed queries share ONE
  * slice plan, every slice running each query's kernel. A local relation
  * inside a larger plan (a phrase in a boolean) is an ordinary DataFrame.
  * A warm index without resident blocks reads the R = 1 rows into ONE
  * partition instead: one job, one stage, one task. Pending tombstones
  * change no plan: each kernel's [[Accept]] holds the deleted ids
  * ([[InvertedIndex.deadDocIds]], the reference's `liveDocs` passed to
  * `BulkScorer.score`); only the exhaustive join plans anti-join them.
  */
final class Searcher(
    val index: InvertedIndex,
    val mode: ScoringMode = ScoringMode.PreciseBM25(),
    /** postings (Σdf of a flat query's distinct terms) up to which a cold
      * index scores the query with the exhaustive join plan; above it the
      * query takes the sliced top-k plan ([[flatPlan]]). A warm index
      * ignores it. `Long.MaxValue` keeps every cold query exhaustive. */
    val pruneThreshold: Long = 1000L,
    /** per-FILTER result cache with the reference's usage-tracking
      * admission policy ([[LRUQueryCache]]); None = no filter caching */
    val queryCache: Option[LRUQueryCache] = None) {

  private val spark = index.spark
  import spark.implicits._

  private val cs: CollectionStats = index.collectionStats

  // a filter cache serves persisted docId frames — bind it to this reader's
  // snapshot identity (first searcher wins) and refuse a cache carried over
  // from a different index/snapshot, which would silently serve stale frames
  queryCache.foreach { qc =>
    require(qc.bind(index.identityKey, cs.docCount),
      s"LRUQueryCache is bound to index '${qc.boundIndexKey.getOrElse("")}' but this " +
        s"Searcher reads '${index.identityKey}' — discard the cache when the index changes")
  }

  // ---------------------------------------------------------------- scoring

  private def idfPrecise(df: Long): Double =
    math.log(1 + (cs.docCount - df + 0.5) / (df + 0.5))

  private val avgdlPrecise: Double = cs.sumTotalTermFreq / cs.docCount.toDouble

  /** Per-term scorer: (freq, quantized doclen) => score. The doclen a decoded
    * block carries is already `byte4ToInt(norm byte)`; `intToByte4` is
    * idempotent on it, so the byte-table modes stay bit-exact. */
  private def termScorer(stats: TermStats, boost: Double): (Int, Int) => Double = mode match {
    case ScoringMode.PreciseBM25(k1, b) =>
      val idf = idfPrecise(stats.docFreq) * boost
      val avgdl = avgdlPrecise
      (freq, dl) => idf * (freq / (freq + k1 * (1 - b + b * dl / avgdl)))
    case ScoringMode.LuceneBM25(k1, b) =>
      val s = BM25Similarity(k1, b).scorer(boost.toFloat, cs, stats)
      (freq, dl) => s.score(freq.toFloat, SmallFloat.intToByte4(dl)).toDouble
    case ScoringMode.Classic() =>
      val s = ClassicSimilarity().scorer(boost.toFloat, cs, stats)
      (freq, dl) => s.score(freq.toFloat, SmallFloat.intToByte4(dl)).toDouble
    case ScoringMode.PreciseClassic() =>
      val idf = math.log((cs.docCount + 1) / (stats.docFreq + 1.0)) + 1.0
      val weight = boost * idf * idf
      (freq, dl) => weight * math.sqrt(freq.toDouble) / math.sqrt(dl.toDouble)
    case ScoringMode.PreciseLMDirichlet(mu) =>
      val p = (stats.totalTermFreq + 1.0) / (cs.sumTotalTermFreq + 1.0)
      (freq, dl) => {
        val s = boost * (math.log(1 + freq / (mu * p)) + math.log(mu / (dl + mu)))
        if (s > 0.0) s else 0.0
      }
    case ScoringMode.PreciseLMJelinekMercer(lambda) =>
      val p = (stats.totalTermFreq + 1.0) / (cs.sumTotalTermFreq + 1.0)
      (freq, dl) => boost * math.log(1 + ((1 - lambda) * freq / dl) / (lambda * p))
    case ScoringMode.PreciseDFRInL2(c) =>
      val avgdl = avgdlPrecise
      val basic = math.log((cs.docCount + 1.0) / (stats.docFreq + 0.5)) / math.log(2)
      (freq, dl) => {
        val tfn = freq * (math.log1p(c * avgdl / dl) / math.log(2))
        boost * basic * tfn / (tfn + 1.0)
      }
    case ScoringMode.PreciseIBLL(c) =>
      val avgdl = avgdlPrecise
      val lambda = (stats.docFreq + 1.0) / (cs.docCount + 1.0)
      (freq, dl) => {
        val tfn = freq * (math.log1p(c * avgdl / dl) / math.log(2))
        boost * math.log1p(tfn / lambda)
      }
    case ScoringMode.PreciseAxiomaticF2EXP(s, k) =>
      val avgdl = avgdlPrecise
      val idfPow = math.pow((cs.docCount + 1.0) / stats.docFreq, k)
      (freq, dl) => boost * idfPow * freq / (freq + s + s * dl / avgdl)
    case ScoringMode.PreciseDFIChiSquared() =>
      val expectedPerLen = (stats.totalTermFreq + 1.0) / (cs.sumTotalTermFreq + 1.0)
      (freq, dl) => {
        val expected = expectedPerLen * dl
        if (freq <= expected) 0.0
        else {
          val d = freq - expected
          boost * (math.log1p(d * d / expected) / math.log(2))
        }
      }
  }

  /** Scorer for phrase hits: idf is the sum of the member terms' idfs
    * (`BM25Similarity.idfExplain` over a term array). freq is a Double —
    * sloppy-phrase frequency is fractional (Σ 1/(1+matchLength)). */
  private def phraseScorer(stats: Seq[TermStats], boost: Double): (Double, Int) => Double = mode match {
    case ScoringMode.PreciseBM25(k1, b) =>
      val idf = stats.map(s => idfPrecise(s.docFreq)).sum * boost
      val avgdl = avgdlPrecise
      (freq, dl) => idf * (freq / (freq + k1 * (1 - b + b * dl / avgdl)))
    case ScoringMode.LuceneBM25(k1, b) =>
      val sim = BM25Similarity(k1, b)
      val idfSum = stats.map(s => sim.idf(s.docFreq, cs.docCount).toDouble).sum.toFloat
      // a scorer with weight = boost * idfSum, using the term scorer's cache math
      val cache = Array.tabulate(256)(i => 1f / (k1 * ((1 - b) + b * SmallFloat.LengthTable(i) / cs.avgFieldLength)))
      val weight = boost.toFloat * idfSum
      (freq: Double, dl: Int) => {
        val inv = cache(SmallFloat.intToByte4(dl) & 0xFF)
        (weight - weight / (1f + freq.toFloat * inv)).toDouble
      }
    case ScoringMode.Classic() =>
      val sim = ClassicSimilarity()
      val idfSum = stats.map(s => sim.idf(s.docFreq, cs.docCount).toDouble).sum
      (freq: Double, dl: Int) => {
        val weight = (boost * idfSum * idfSum).toFloat
        val dlq = SmallFloat.LengthTable(SmallFloat.intToByte4(dl) & 0xFF)
        val norm = if (dlq == 0) 0f else (1.0 / math.sqrt(dlq.toDouble)).toFloat
        (weight * math.sqrt(freq).toFloat * norm).toDouble
      }
    case ScoringMode.PreciseClassic() =>
      val idfSum = stats.map(s => math.log((cs.docCount + 1) / (s.docFreq + 1.0)) + 1.0).sum
      val weight = boost * idfSum * idfSum
      (freq: Double, dl: Int) => weight * math.sqrt(freq) / math.sqrt(dl.toDouble)
    case ScoringMode.PreciseLMDirichlet(_) | ScoringMode.PreciseLMJelinekMercer(_) |
         ScoringMode.PreciseDFRInL2(_) | ScoringMode.PreciseIBLL(_) |
         ScoringMode.PreciseAxiomaticF2EXP(_, _) | ScoringMode.PreciseDFIChiSquared() =>
      throw new UnsupportedOperationException(
        s"$mode phrase statistics are not defined in this engine; use a term query")
  }

  // ------------------------------------------------------------- statistics

  /** All exact terms a query needs statistics for (one driver-side stats
    * lookup per search, like the reference's `TermStates.build`,
    * `lucene/core/src/java/org/apache/lucene/search/TermQuery.java:205-213`). */
  private def exactTerms(q: Query): Set[String] = q match {
    case TermQuery(t) => Set(t)
    case SynonymQuery(ts) => ts.toSet
    case PhraseQuery(ts, _) => ts.toSet
    case MultiPhraseQuery(ps) => ps.flatten.toSet
    case SpanNearQuery(ts, _, _) => ts.toSet
    case SpanQuery(s) => Spans.toIntervals(s).terms
    case IntervalQuery(src) => src.terms
    case DocIdRangeQuery(inner, _, _) => exactTerms(inner)
    case IndexOrDocValuesQuery(scoring, _) => exactTerms(scoring)
    case BooleanQuery(cs, _) => cs.flatMap(c => exactTerms(c._2)).toSet
    case BoostQuery(inner, _) => exactTerms(inner)
    case ConstantScoreQuery(inner) => exactTerms(inner)
    case DisjunctionMaxQuery(ds, _) => ds.flatMap(exactTerms).toSet
    case _ => Set.empty
  }

  private def lookupStats(terms: Set[String]): Map[String, TermStats] = lookup(terms, Nil).stats

  /** The lookup of the exact terms and the expansions of `queries`. */
  private def lookupFor(queries: Seq[Query]): Lookup =
    lookup(queries.flatMap(exactTerms).toSet, queries.flatMap(expansionOf))

  /** A warm reader answers `terms` from its dictionary and resolves
    * prefix, range and term-set expansions over its sorted terms
    * ([[dictionaryMatches]]), with no job. The rest — a cold reader's
    * terms, fuzzy and regexp expansions — comes from ONE collect over
    * `termStats`, with one boolean column per expansion of `exps`. */
  private def lookup(terms: Set[String], exps: Seq[Query]): Lookup = {
    val warm = index.warmTermStats
    val (onDictionary, scanned) = exps.distinct.partition {
      case _: PrefixQuery | _: TermRangeQuery | _: TermInSetQuery => warm.isDefined
      case _ => false
    }
    val exact = if (warm.isDefined || terms.isEmpty) Nil else Seq(col("term").isin(terms.toSeq: _*))
    val preds = scanned.map(expansionPred)
    val rows =
      if (exact.isEmpty && preds.isEmpty) Array.empty[Row]
      else index.termStats.filter((exact ++ preds).reduce(_ || _))
        .select(Seq(col("term"), col("df"), col("ttf")) ++ preds: _*).collect()
    // warm serving mode: a RAM lookup, no Spark job
    val known = warm.getOrElse(rows.iterator.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
    val matched = scanned.indices.map { i =>
      scanned(i) -> rows.iterator.filter(_.getBoolean(3 + i)).map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    Lookup(terms.iterator.flatMap(t => known.get(t).map(s => t -> TermStats(s._1, s._2))).toMap,
      (onDictionary.map(e => e -> dictionaryMatches(e)) ++ matched).toMap)
  }

  // ---------------------------------------------------------------- leaves

  private def blocksOf(term: String): Dataset[PostingBlock] =
    index.postings
      .filter(col("term") === lit(term))
      .select(explode(col("blocks")).as("b"))
      .select("b.*")
      .as[PostingBlock]

  /** The doc ids of `blocks`, decoded without freqs or norms. */
  private def docIds(blocks: Dataset[PostingBlock]): Dataset[Long] =
    blocks.mapPartitions(it => it.flatMap(b => PostingsCodec.decodeDocIds(b).iterator))

  private def decodeScored(blocks: Dataset[PostingBlock], scorer: (Int, Int) => Double): DataFrame =
    blocks.mapPartitions { it =>
      it.flatMap { b =>
        val d = PostingsCodec.decodeBlock(b)
        Iterator.tabulate(d.docs.length)(i => (d.docs(i), scorer(d.freqs(i), d.doclens(i))))
      }
    }.toDF("docId", "score")

  private def emptyFrame: DataFrame = localFrame(Iterator.empty)

  private val ScoredSchema = StructType(Seq(
    StructField("docId", LongType, nullable = false), StructField("score", DoubleType, nullable = false)))

  /** `(docId, score)` rows held on the driver as a local relation: collecting
    * it, or taking its top-k with [[topK]], runs no job. */
  private def localFrame(rows: Iterator[(Long, Double)]): DataFrame =
    spark.createDataFrame(rows.map { case (d, sc) => Row(d, sc) }.toSeq.asJava, ScoredSchema)

  /** Single-term scored doc set. */
  private def termFrame(term: String, stats: Map[String, TermStats], boost: Double): DataFrame =
    stats.get(term) match {
      case None => emptyFrame
      case Some(ts) => decodeScored(blocksOf(term), termScorer(ts, boost))
    }

  /** Synonym: union postings, sum freqs per doc, score as one pseudo-term with
    * df = max clause df (`lucene/core/src/java/org/apache/lucene/search/SynonymQuery.java:54`). */
  private def synonymFrame(terms: Seq[String], stats: Map[String, TermStats], boost: Double): DataFrame = {
    val present = terms.filter(stats.contains)
    if (present.isEmpty) return emptyFrame
    val df = present.map(t => stats(t).docFreq).max
    val ttf = present.map(t => stats(t).totalTermFreq).sum
    val scorer = termScorer(TermStats(df, ttf), boost)
    val hits = present.map { t =>
      blocksOf(t).mapPartitions { it =>
        it.flatMap { b =>
          val d = PostingsCodec.decodeBlock(b)
          Iterator.tabulate(d.docs.length)(i => Hit(d.docs(i), d.freqs(i), d.doclens(i)))
        }
      }.toDF("docId", "freq", "doclen")
    }.reduce(_ unionAll _)
    val scoreUdf = udf((freq: Int, dl: Int) => scorer(freq, dl))
    hits.groupBy("docId")
      .agg(sum("freq").cast("int").as("freq"), first("doclen").as("doclen"))
      .select(col("docId"), scoreUdf(col("freq"), col("doclen")).as("score"))
  }

  // ------------------------------------------ lead filter (rarest-first)

  /** Doc-count bound for an EXACT lead broadcast: 1M doc ids ≈ 8 MB. Above
    * it the lead degrades to a coarse bucket filter, never to no filter. */
  private val LeapfrogMaxDf = 1000000L

  /** Bucket-count bound of the coarse lead: 2^16 sorted longs ≈ 512 KB
    * broadcast regardless of lead df — the cliff-free upper tier. */
  private val CoarseLeadBuckets = 16 // log2

  /** Postings (Σdf of the distinct terms) scored by one task or on the
    * driver: the slice size of [[sliced]]. One slice must stay cheaper
    * than the jobs and stages it replaces (the bare one-job floor,
    * `spark.range(1).collect()`, is ≈ 21 ms, p50 of 31 at `local[4]` on a
    * 4-vCPU host). The scoring
    * loops alone run ≈ 9M postings/s (≈ 7 ms at the bound); moving the rows into the one
    * task and decoding them raises that to ≈ 0.8 µs per posting. Measured at
    * 100k pages (warm merged index, `local[4]`), p50 of the single-task plan
    * vs the former two-pass pruned plan for the same query: a head term
    * (Σdf 99,997) 134 vs 332 ms, a 4-term OR (Σdf 97,605) 110 vs 645 ms, a
    * 4-term OR of rarer terms (Σdf 6,273) 73 vs 470 ms. */
  private val SingleTaskMaxPostings = 1L << 16

  /** The rarest scoring term's doc set as a broadcast membership filter —
    * the distributed analog of the reference's cost-sorted conjunction lead
    * (`lucene/core/src/java/org/apache/lucene/search/ConjunctionDISI.java:36`).
    * Only [[IndexOrDocValuesQuery]]'s "doc-values" plan
    * ([[indexOrDocValuesFrame]]) uses it: the filter's expansion blocks are
    * (a) block-skipped on [firstDoc, lastDoc] overlap and (b) row-filtered
    * by membership before any decode. Positional queries lead inside their
    * slice kernel instead ([[Positional.matchingDocs]]).
    *
    * Two tiers, both bounded, so there is NO df beyond which the filter
    * silently disables (the r2 cliff):
    *  - df ≤ [[LeapfrogMaxDf]]: the exact sorted doc-id array (shift 0);
    *  - df > cap: doc ids quantized to ≤ 2^16 buckets over the lead's doc-id
    *    span — a conservative superset (never drops a true match), ~512 KB
    *    broadcast at ANY df. When the lead is dense the buckets pass
    *    everything, which is exactly when no doc-level filter could prune. */
  private final class LeadFilter(
      bc: org.apache.spark.broadcast.Broadcast[Array[Long]], shift: Int) extends Serializable {
    def blockOverlaps(first: Long, last: Long): Boolean = {
      val a = bc.value
      var i = java.util.Arrays.binarySearch(a, first >> shift)
      if (i < 0) i = -i - 1
      i < a.length && a(i) <= (last >> shift)
    }
    def contains(docId: Long): Boolean =
      java.util.Arrays.binarySearch(bc.value, docId >> shift) >= 0
  }

  /** Build the lead filter over `term`'s postings (`df` of them). */
  private def buildLeadFilter(term: String, df: Long): LeadFilter = {
    if (df <= LeapfrogMaxDf) {
      val docs = docIds(blocksOf(term)).collect()
      java.util.Arrays.sort(docs)
      new LeadFilter(spark.sparkContext.broadcast(docs), 0)
    } else {
      // coarse tier: one metadata-only pass over the lead's block ranges —
      // no posting payload decoded, collect bounded at 2^16 bucket ids
      val ranges = index.postings
        .filter(col("term") === lit(term))
        .select(explode(col("blocks")).as("b"))
        .select(col("b.firstDoc"), col("b.lastDoc"))
        .as[(Long, Long)]
      val maxLast = ranges.agg(max(col("lastDoc"))).as[Long].head()
      val bits = 64 - java.lang.Long.numberOfLeadingZeros(math.max(maxLast, 1L))
      val shift = math.max(0, bits - CoarseLeadBuckets)
      val buckets = ranges
        .flatMap { case (f, l) => ((f >> shift) to (l >> shift)).iterator }
        .distinct().collect()
      java.util.Arrays.sort(buckets)
      new LeadFilter(spark.sparkContext.broadcast(buckets), shift)
    }
  }

  // ------------------------------------------------------------ positional

  /** The route of a positional query: the blocks of its `terms` (all
    * present in `stats`) matched by one [[Positional.matchingDocs]] kernel
    * per doc-range slice of [[sliced]], led by `lead` (empty: every term),
    * and each match `(freq, doclen)` scored by `score`. */
  private def positionalRoute(terms: Seq[String], lead: Seq[String], stats: Map[String, TermStats],
      freq: (String => Array[Int]) => Double, score: (Double, Int) => Double): Routed = {
    val leadSet = lead.toSet
    Routed(terms.map(t => t -> stats(t).docFreq).toMap, (rows, accept) =>
      Positional.matchingDocs(SingleTask.byTerm(rows), leadSet, accept, freq)
        .map { case (doc, f, dl) => (doc, score(f, dl)) })
  }

  /** The route of a phrase, multi-phrase, span-near, interval or span query
    * (see [[positionalRoute]]). */
  private def positional(q: Query, stats: Map[String, TermStats], boost: Double): Routed = q match {
    case PhraseQuery(ts, slop) => phraseRoute(ts, slop, stats, boost)
    case MultiPhraseQuery(ps) => multiPhraseRoute(ps, stats, boost)
    case SpanNearQuery(ts, slop, inOrder) => spanNearRoute(ts, slop, inOrder, stats, boost)
    case IntervalQuery(src) => intervalRoute(src, stats, boost)
    case SpanQuery(s) => intervalRoute(Spans.toIntervals(s), stats, boost)
    case other => throw new IllegalArgumentException(s"not a positional query: $other")
  }

  /** Exact and sloppy phrases (`"a b"~slop`), led by the rarest term. A
    * sloppy phrase's frequency is the reference's fractional sloppy freq
    * (Σ 1/(1+matchLength) over [[SloppyMatcher]]'s greedy minimal-width
    * enumeration — `SloppyPhraseMatcher.java:54`, `PhraseQuery.java:71-101`);
    * its repeated query terms would need the reference's repeat-group
    * machinery and are rejected. */
  private def phraseRoute(terms: Seq[String], slop: Int,
                          stats: Map[String, TermStats], boost: Double): Routed = {
    if (slop != 0 && terms.distinct.size != terms.size)
      throw new UnsupportedOperationException(
        "sloppy phrases with repeated terms are not supported (use slop=0)")
    if (terms.isEmpty || terms.exists(t => !stats.contains(t))) return NoRows
    val ts = terms.toArray
    positionalRoute(terms, Seq(terms.minBy(stats(_).docFreq)), stats, pos => {
      val arrays = ts.map(pos)
      if (arrays.contains(null)) 0.0 else PhraseSegment.phraseFreq(arrays, slop)
    }, phraseScorer(terms.map(stats), boost))
  }

  /** Phrase with term alternatives per position
    * (`lucene/core/src/java/org/apache/lucene/search/MultiPhraseQuery.java:54`):
    * a match at start position p requires, for every position index i, some
    * alternative of position i at p+i. freq = number of distinct start
    * positions; idf = sum over all (present) member terms. Led by the
    * alternatives of the position with the smallest summed df: their docs'
    * union bounds every match. */
  private def multiPhraseRoute(positions: Seq[Seq[String]],
                               stats: Map[String, TermStats], boost: Double): Routed = {
    // a position whose alternatives are all absent can never match
    if (positions.isEmpty || positions.exists(_.forall(t => !stats.contains(t)))) return NoRows
    val allTerms = positions.flatten.distinct.filter(stats.contains)
    val alts = positions.map(_.filter(stats.contains).toArray).toArray
    val lead = alts.minBy(_.map(stats(_).docFreq).sum)
    positionalRoute(allTerms, lead.toSeq, stats, pos => {
      // each position's alternatives' positions, unioned
      val byIdx = alts.map(_.flatMap(t => Option(pos(t)).getOrElse(Array.empty[Int])).distinct.sorted)
      if (byIdx.exists(_.isEmpty)) 0.0 else PhraseSegment.phraseFreq(byIdx, 0)
    }, phraseScorer(allTerms.map(stats), boost))
  }

  /** Span-near: docs where all terms occur within a window of
    * `terms.size + slop` positions (optionally in order), constant-scored
    * (`lucene/queries/src/java/org/apache/lucene/queries/spans/SpanNearQuery.java`),
    * led by the rarest term. Duplicate query terms must match *distinct*
    * occurrences. */
  private def spanNearRoute(terms: Seq[String], slop: Int, inOrder: Boolean,
                            stats: Map[String, TermStats], boost: Double): Routed = {
    if (terms.isEmpty || terms.exists(t => !stats.contains(t))) return NoRows
    val ts = terms.toArray
    val window = terms.size + slop
    positionalRoute(terms, Seq(terms.minBy(stats(_).docFreq)), stats, pos => {
      val arrays = ts.map(pos)
      if (!arrays.contains(null) && SpanMatcher.matches(arrays, window, inOrder)) 1.0 else 0.0
    }, (_, _) => boost)
  }

  /** Expand multiterm interval sources (prefix/wildcard) against the term
    * dictionary — the reference's `MultiTermIntervalsSource` rewrite: the
    * matching terms in term order become an [[Intervals.Or]] of term
    * sources, throwing IllegalStateException past `maxExpansions`
    * (`queries/.../intervals/MultiTermIntervalsSource.java:52-66`).
    * Dictionary-first: one pushed/predicate scan of `termStats` per
    * multiterm node, never a postings scan. */
  private def expandIntervalSource(src: IntervalsSource): IntervalsSource = {
    def expand(label: String, max: Int, pred: org.apache.spark.sql.Column): IntervalsSource = {
      val matched = index.termStats.filter(pred)
        .select("term").orderBy("term").limit(max + 1)
        .collect().map(_.getString(0)).toSeq
      if (matched.size > max)
        throw new IllegalStateException(
          s"Expansion of $label matched more than $max terms")
      Intervals.Or(matched.map(Intervals.Term.apply))
    }
    src match {
      case Intervals.Prefix(p, max) =>
        expand(s"$p*", max, col("term").startsWith(p))
      case Intervals.Wildcard(glob, max) =>
        val rx = "^" + glob.flatMap {
          case '*' => ".*"
          case '?' => "."
          case c if "\\.[]{}()+-^$|".contains(c) => "\\" + c
          case c => c.toString
        } + "$"
        expand(glob, max, col("term").rlike(rx))
      case Intervals.Ordered(ss) => Intervals.Ordered(ss.map(expandIntervalSource))
      case Intervals.Unordered(ss) => Intervals.Unordered(ss.map(expandIntervalSource))
      case Intervals.Or(ss) => Intervals.Or(ss.map(expandIntervalSource))
      case Intervals.AtLeast(n, ss) => Intervals.AtLeast(n, ss.map(expandIntervalSource))
      case Intervals.MaxWidth(w, s) => Intervals.MaxWidth(w, expandIntervalSource(s))
      case Intervals.MaxGaps(g, s) => Intervals.MaxGaps(g, expandIntervalSource(s))
      case Intervals.FirstEnding(l, s) => Intervals.FirstEnding(l, expandIntervalSource(s))
      case Intervals.Extend(s, b, a) => Intervals.Extend(expandIntervalSource(s), b, a)
      case Intervals.Containing(b, s) =>
        Intervals.Containing(expandIntervalSource(b), expandIntervalSource(s))
      case Intervals.ContainedBy(s, b) =>
        Intervals.ContainedBy(expandIntervalSource(s), expandIntervalSource(b))
      case Intervals.NotContaining(m, s) =>
        Intervals.NotContaining(expandIntervalSource(m), expandIntervalSource(s))
      case Intervals.NotContainedBy(s, b) =>
        Intervals.NotContainedBy(expandIntervalSource(s), expandIntervalSource(b))
      case Intervals.Overlapping(s, r) =>
        Intervals.Overlapping(expandIntervalSource(s), expandIntervalSource(r))
      case Intervals.NonOverlapping(m, s) =>
        Intervals.NonOverlapping(expandIntervalSource(m), expandIntervalSource(s))
      case Intervals.NotNear(pre, post, m, s) =>
        Intervals.NotNear(pre, post, expandIntervalSource(m), expandIntervalSource(s))
      case Intervals.Before(s, r) =>
        Intervals.Before(expandIntervalSource(s), expandIntervalSource(r))
      case Intervals.After(s, r) =>
        Intervals.After(expandIntervalSource(s), expandIntervalSource(r))
      case leaf => leaf
    }
  }

  /** Interval algebra: per-doc minimal-interval evaluation
    * ([[IntervalEval]]), constant-scored like the span paths, led by
    * [[Intervals.leadTerms]]: the rarest required term, or for a source with
    * none (an `Or`, at the root or nested) a term set whose docs' union
    * holds every match — every present term only when no such set is
    * found. */
  private def intervalRoute(src0: IntervalsSource, stats0: Map[String, TermStats],
                            boost: Double): Routed = {
    val src = expandIntervalSource(src0)
    // multiterm expansion can introduce terms the pre-gathered stats lack
    val stats = if (Intervals.hasMultiTerm(src0)) stats0 ++ lookupStats(src.terms -- stats0.keySet) else stats0
    val present = src.terms.toSeq.filter(stats.contains)
    if (present.isEmpty) return NoRows
    // the doc-level conjunction hidden in the algebra: any required term
    // absent from the index ⇒ nothing can match
    val required = Intervals.requiredTerms(src)
    if (required.exists(t => !stats.contains(t))) return NoRows
    val lead = Intervals.leadTerms(src, t => stats.get(t).map(_.docFreq).getOrElse(0L))
    val ts = present.toArray
    positionalRoute(present, lead.toSeq, stats, pos => {
      var m = Map.empty[String, Array[Int]]
      ts.foreach { t => val a = pos(t); if (a != null) m = m.updated(t, a) }
      if (IntervalEval.matches(src, m)) 1.0 else 0.0
    }, (_, _) => boost)
  }

  /** Multi-term expansion (prefix/range/set/fuzzy/regexp) with constant score
    * — the reference's CONSTANT_SCORE rewrite
    * (`lucene/core/src/java/org/apache/lucene/search/MultiTermQuery.java:38-83`).
    *
    * `dictFirst` routes non-pushable predicates (levenshtein, rlike) through
    * the term dictionary first — ONE predicate evaluation per distinct term
    * (`termStats`), not one per (term × blockGroup × segment) postings row —
    * then rewrites to a pushed-down `term IN (...)` scan, the
    * `IntersectTermsEnum` → `TermInSetQuery` rewrite
    * (`lucene/core/src/java/org/apache/lucene/index/...`/`MultiTermQuery`).
    * Pushable predicates (prefix/range/set) skip it: parquet min/max + pushed
    * filters already prune those scans directly. */
  private def expansionBlocks(termPred: org.apache.spark.sql.Column,
                              dictFirst: Boolean): Option[Dataset[PostingBlock]] = {
    val pred =
      if (!dictFirst) termPred
      else {
        // bounded collect: a degenerate predicate (`/.*/`) over a large
        // vocabulary must not pull millions of terms into the driver or a
        // million-literal isin into the plan — past the cap, evaluate the
        // predicate on the (more numerous) postings rows instead
        val cap = 65536
        val matched = index.termStats.filter(termPred).select("term").as[String]
          .limit(cap + 1).collect()
        if (matched.isEmpty) return None
        if (matched.length > cap) termPred
        else col("term").isin(matched.toSeq: _*)
      }
    Some(index.postings
      .filter(pred)
      .select(explode(col("blocks")).as("b")).select("b.*")
      .as[PostingBlock])
  }

  private def expansionFrame(termPred: org.apache.spark.sql.Column, boost: Double,
                             dictFirst: Boolean = false): DataFrame =
    expansionBlocks(termPred, dictFirst) match {
      case None => emptyFrame
      case Some(blocks) =>
        // doc-ids-only decode: a wide expansion (e.g. [a TO z]) touches much
        // of the vocabulary — skipping freq/norm decode cuts the scan ~3x
        docIds(blocks).toDF("docId")
          .distinct()
          .withColumn("score", lit(boost))
    }

  /** Scored fuzzy ([[ScoredFuzzyQuery]]) — the reference's default
    * `TopTermsBlendedFreqScoringRewrite` re-expressed dictionary-first:
    * ONE ranked scan of `termStats` (levenshtein evaluated once per distinct
    * term, top-N by df with term-asc tiebreak resolved IN the plan, ≤ N rows
    * collected), then each kept term's postings scored with the blended
    * (max) df and the edit-similarity boost, summed per doc.
    * Ref: `lucene/core/src/java/org/apache/lucene/search/FuzzyQuery.java:60`,
    * `TopTermsRewrite.java:36`. */
  private def scoredFuzzyFrame(qterm: String, maxEdits: Int, maxExpansions: Int,
                               boost: Double): DataFrame = {
    val top = topTerms(levenshtein(col("term"), lit(qterm)) <= maxEdits, maxExpansions)
    if (top.isEmpty) return emptyFrame
    val blendedDf = top.map(_._2).max
    val q = qterm.codePoints().toArray
    val frames = top.toSeq.map { case (t, _, ttf) =>
      val cp = t.codePoints().toArray
      val sim = 1.0 - editDistance(cp, q).toDouble / math.min(cp.length, q.length)
      decodeScored(blocksOf(t), termScorer(TermStats(blendedDf, ttf), boost * sim))
    }
    disjunction(frames, 1)
  }

  /** Scored prefix/wildcard expansion — the reference's
    * `TopTermsScoringBooleanQueryRewrite` (`MultiTermQuery.java:38-83`,
    * `TopTermsRewrite.java:36`): the top `maxExpansions` matching dictionary
    * terms by docFreq (term-asc tiebreak) rewrite to a SHOULD boolean of
    * plain BM25 term queries, each keeping its OWN statistics — unlike the
    * fuzzy rewrite there is no df blending. ONE ranked dictionary scan
    * (pushed predicate where the format allows), ≤ N rows collected.
    *
    * INTENTIONAL DIVERGENCE from the reference's selection ORDER: prefix/
    * wildcard expansions carry a constant boost, so the reference's
    * boost-ranked queue degenerates to a lexicographic tie-break — an
    * arbitrary `maxExpansions`-subset when more terms match. Ranking by
    * descending df instead keeps the expansions that dominate recall and
    * scores (a dropped rare term perturbs few docs; a dropped head term
    * loses the matches that matter), which is the right cut at web scale.
    * Results differ from the reference only when the match set exceeds
    * `maxExpansions`. */
  private def scoredExpansionFrame(pred: org.apache.spark.sql.Column,
                                   maxExpansions: Int, boost: Double): DataFrame = {
    val top = topTerms(pred, maxExpansions)
    if (top.isEmpty) return emptyFrame
    val frames = top.toSeq.map { case (t, df, ttf) =>
      decodeScored(blocksOf(t), termScorer(TermStats(df, ttf), boost))
    }
    disjunction(frames, 1)
  }

  /** `(term, df, ttf)` of the `n` dictionary terms `pred` matches with the
    * highest df (term asc on ties): one ranked scan, ≤ n rows collected. */
  private def topTerms(pred: org.apache.spark.sql.Column, n: Int): Array[(String, Long, Long)] =
    index.termStats.filter(pred).orderBy(desc("df"), asc("term")).limit(n)
      .select("term", "df", "ttf").collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))

  /** Levenshtein distance over code points (driver-side, for the per-term
    * boost): the distance Spark's `levenshtein`, which selects the terms,
    * and the reference's `FuzzyTermsEnum` count. */
  private def editDistance(a: Array[Int], b: Array[Int]): Int = {
    val prev = new Array[Int](b.length + 1)
    val cur = new Array[Int](b.length + 1)
    var j = 0
    while (j <= b.length) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= a.length) {
      cur(0) = i
      j = 1
      while (j <= b.length) {
        val cost = if (a(i - 1) == b(j - 1)) 0 else 1
        cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1), prev(j - 1) + cost)
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, b.length + 1)
      i += 1
    }
    prev(b.length)
  }

  /** The term-dictionary predicate of a multi-term (expansion) query. */
  private def expansionPred(q: Query): org.apache.spark.sql.Column = q match {
    case PrefixQuery(p) => col("term").startsWith(p)
    case TermRangeQuery(lo, hi, il, ih) =>
      val lower = lo.map(v => if (il) col("term") >= v else col("term") > v)
      val upper = hi.map(v => if (ih) col("term") <= v else col("term") < v)
      (lower.toSeq ++ upper.toSeq).reduceOption(_ && _).getOrElse(lit(true))
    case TermInSetQuery(ts) => col("term").isin(ts.toSeq: _*)
    case FuzzyQuery(t, maxEdits) => levenshtein(col("term"), lit(t)) <= maxEdits
    case RegexpQuery(p) => col("term").rlike("^(?:" + p + ")$")
    case other => throw new IllegalArgumentException(s"not an expansion query: $other")
  }

  // ----------------------------------------------------------- composition

  private def sumJoin(l: DataFrame, r: DataFrame): DataFrame =
    l.toDF("docId", "s1").join(r.toDF("docId2", "s2"), col("docId") === col("docId2"))
      .select(col("docId"), (col("s1") + col("s2")).as("score"))

  /** Union scored frames; keep docs matching ≥ msm clauses; sum scores. */
  private def disjunction(frames: Seq[DataFrame], msm: Int): DataFrame = {
    val u = frames.map(_.toDF("docId", "score")).reduce(_ unionAll _)
    val agg = u.groupBy("docId").agg(sum("score").as("score"),
      org.apache.spark.sql.functions.count(lit(1)).as("cnt"))
    (if (msm > 1) agg.filter(col("cnt") >= lit(msm)) else agg).select("docId", "score")
  }

  // ------------------------------------------------------------- compile

  /** liveDocs filter of the exhaustive plans: drop tombstoned docs
    * ([[graft.index.Deletes]]) from a match set. Statistics stay
    * deletion-blind by design — the reference's docFreq/docCount also count
    * deleted docs until segments are rewritten. */
  private def applyLive(df: DataFrame): DataFrame = index.deletedDocs match {
    case Some(d) => df.join(broadcast(d.select(col("docId").as("delId"))),
      col("docId") === col("delId"), "left_anti").drop("delId")
    case None => df
  }

  /** [[InvertedIndex.deadDocIds]] for the tasks of the slice plans. */
  private lazy val deadIds: Broadcast[Array[Long]] = spark.sparkContext.broadcast(index.deadDocIds)

  /** Compile a query to its full scored doc set `(docId, score)`. */
  def scored(q: Query): DataFrame = {
    val rewritten = QueryRewriter.rewrite(q)
    val stats = lookupStats(exactTerms(rewritten))
    applyLive(compile(rewritten, stats, 1.0))
  }

  private def compile(q: Query, stats: Map[String, TermStats], boost: Double): DataFrame = q match {
    case MatchNoDocsQuery => emptyFrame
    case MatchAllDocsQuery =>
      index.docs.select(col("docId")).withColumn("score", lit(boost))
    case TermQuery(t) => termFrame(t, stats, boost)
    case SynonymQuery(ts) => synonymFrame(ts, stats, boost)
    case p @ (_: PhraseQuery | _: MultiPhraseQuery | _: SpanNearQuery | _: IntervalQuery | _: SpanQuery) =>
      sliced(positional(p, stats, boost))
    case DocIdRangeQuery(TermQuery(t), lo, hi) =>
      // sorted-index range: block-level skip on (firstDoc, lastDoc) metadata
      // before any decode — only boundary blocks need the per-doc filter
      stats.get(t) match {
        case None => emptyFrame
        case Some(ts) =>
          val blocks = blocksOf(t)
            .filter(col("lastDoc") >= lit(lo) && col("firstDoc") <= lit(hi))
          decodeScored(blocks, termScorer(ts, boost))
            .filter(col("docId").between(lo, hi))
      }
    case DocIdRangeQuery(inner, lo, hi) =>
      compile(inner, stats, boost).filter(col("docId").between(lo, hi))
    case q @ (_: PrefixQuery | _: TermRangeQuery | _: TermInSetQuery) => expansionFrame(expansionPred(q), boost)
    case q @ (_: FuzzyQuery | _: RegexpQuery) => expansionFrame(expansionPred(q), boost, dictFirst = true)
    case ScoredFuzzyQuery(t, e, n) => scoredFuzzyFrame(t, e, n, boost)
    case ScoredPrefixQuery(p, n) =>
      scoredExpansionFrame(expansionPred(PrefixQuery(p)), n, boost)
    case ScoredWildcardQuery(p, n) =>
      // lower the glob exactly like the constant-score path (prefix when
      // trailing-star-only, regexp otherwise), then rank-expand
      QueryRewriter.rewrite(WildcardQuery(p)) match {
        case t: TermQuery => compile(t, stats, boost)
        case lowered => scoredExpansionFrame(expansionPred(lowered), n, boost)
      }
    case w: WildcardQuery => compile(QueryRewriter.rewrite(w), stats, boost)
    case BoostQuery(inner, b) => compile(inner, stats, boost * b)
    case ConstantScoreQuery(inner) =>
      compile(inner, stats, 1.0).select(col("docId")).distinct()
        .withColumn("score", lit(boost))
    case DisjunctionMaxQuery(ds, tie) =>
      val u = ds.map(d => compile(d, stats, boost)).reduce(_ unionAll _)
      u.groupBy("docId")
        .agg((max(col("score")) + lit(tie.toDouble) * (sum(col("score")) - max(col("score")))).as("score"))
        .select("docId", "score")
    case BooleanQuery(clauses, msm) => compileBoolean(clauses, msm, stats, boost)
    case IndexOrDocValuesQuery(scoring, filterQ) =>
      indexOrDocValuesFrame(scoring, filterQ, stats, boost)
  }

  // --------------------------------------- cost-based scorer choice (IODV)

  /** Summed df over the dictionary terms the filter predicate matches — the
    * filter's "index plan" cost, one action over the (small) term dictionary
    * like every other dictionary-first estimate. */
  private def filterScanCost(pred: org.apache.spark.sql.Column): Long =
    index.termStats.filter(pred)
      .agg(coalesce(sum(col("df")), lit(0L)))
      .as[Long].head()

  /** The scoring side's lead cost: its rarest exact term's df (the
    * reference's `ScorerSupplier.cost()` of the lead,
    * `IndexOrDocValuesQuery.java:139-151`). No exact terms ⇒ unbounded. */
  private def leadCost(scoring: Query, stats: Map[String, TermStats]): Long = {
    val dfs = exactTerms(scoring).toSeq.collect {
      case t if stats.contains(t) => stats(t).docFreq
    }
    if (dfs.isEmpty) Long.MaxValue else dfs.min
  }

  /** Which plan [[IndexOrDocValuesQuery]] takes — `"index"` or
    * `"docvalues"` — exposed so plans are assertable (the compile path
    * makes the same decision from the same estimates). */
  def iodvPlan(scoring: Query, filterQ: Query): String = {
    val stats = lookupStats(exactTerms(scoring))
    if (leadCost(scoring, stats) < filterScanCost(expansionPred(filterQ))) "docvalues"
    else "index"
  }

  /** `scoring` required and scored, `filterQ` a non-scoring FILTER evaluated
    * by the cheaper of two plans ([[IndexOrDocValuesQuery]] scaladoc). The
    * semi-join at the end enforces correctness in BOTH plans — the lead
    * filter only prunes, so a coarse-tier (bucketed) lead never changes
    * results, it just verifies more rows. */
  private def indexOrDocValuesFrame(scoring: Query, filterQ: Query,
      stats: Map[String, TermStats], boost: Double): DataFrame = {
    val pred = expansionPred(filterQ)
    val scoredLead = compile(scoring, stats, boost)
    val lc = leadCost(scoring, stats)
    val filterDocs: DataFrame =
      if (lc < filterScanCost(pred)) {
        // "doc-values" plan: candidates verify — the rarest scoring term's
        // doc set (exact or coarse tier, cliff-free) block-skips and
        // row-filters the filter's expansion scan before any decode
        val lt = exactTerms(scoring).filter(stats.contains).minBy(t => stats(t).docFreq)
        val lf = buildLeadFilter(lt, stats(lt).docFreq)
        val overlaps = udf((first: Long, last: Long) => lf.blockOverlaps(first, last))
        expansionBlocks(pred, dictFirst = true) match {
          case None => return emptyFrame
          case Some(blocks) =>
            blocks.filter(overlaps(col("firstDoc"), col("lastDoc")))
              .mapPartitions(it => it.flatMap(b =>
                PostingsCodec.decodeDocIds(b).iterator.filter(lf.contains)))
              .toDF("docId").distinct()
        }
      } else {
        // "index" plan: the narrow filter is scanned wholesale
        expansionFrame(pred, 1.0).select("docId")
      }
    scoredLead.join(filterDocs, Seq("docId"), "left_semi")
  }

  private def compileBoolean(
      clauses: Seq[(Occur.Value, Query)], msm: Int,
      stats: Map[String, TermStats], boost: Double): DataFrame = {
    val must = clauses.collect { case (Occur.MUST, c) => compile(c, stats, boost) }
    val should = clauses.collect { case (Occur.SHOULD, c) => compile(c, stats, boost) }
    val filters = clauses.collect { case (Occur.FILTER, c) =>
      queryCache match {
        case Some(qc) =>
          qc.filterDocs(c, () => compile(c, stats, 1.0).select("docId").distinct())
            .withColumn("score", lit(0.0))
        case None => compile(c, stats, 1.0)
      }
    }
    val nots = clauses.collect { case (Occur.MUST_NOT, c) => compile(c, stats, 1.0) }

    var base: DataFrame =
      if (must.nonEmpty) {
        val conj = must.reduce(sumJoin)
        if (should.nonEmpty) {
          val sAgg = disjunction(should, 1).toDF("sDocId", "sScore")
          if (msm > 0) {
            val sAggMsm = disjunction(should, msm).toDF("sDocId", "sScore")
            conj.join(sAggMsm, col("docId") === col("sDocId"))
              .select(col("docId"), (col("score") + col("sScore")).as("score"))
          } else {
            conj.join(sAgg, col("docId") === col("sDocId"), "left")
              .select(col("docId"),
                (col("score") + coalesce(col("sScore"), lit(0.0))).as("score"))
          }
        } else conj
      } else if (should.nonEmpty) {
        disjunction(should, math.max(msm, 1))
      } else if (filters.nonEmpty) {
        // filter-only boolean: matching docs, score 0
        filters.map(_.select("docId")).reduce((a, b) => a.join(b, "docId"))
          .distinct().withColumn("score", lit(0.0))
      } else emptyFrame

    filters.foreach { f =>
      if (must.nonEmpty || should.nonEmpty)
        base = base.join(f.select("docId").distinct(), Seq("docId"), "left_semi")
    }
    if (nots.nonEmpty) {
      val excluded = nots.map(_.select("docId")).reduce(_ unionAll _).distinct()
      base = base.join(excluded, Seq("docId"), "left_anti")
    }
    base.select("docId", "score")
  }

  // ------------------------------------------------------ flat term queries

  /** A (possibly boost-wrapped) single term — the flat-clause building block. */
  private def flatTerm(q: Query, mult: Double): Option[(String, Double)] = q match {
    case TermQuery(t) => Some((t, mult))
    case BoostQuery(inner, b) => flatTerm(inner, mult * b)
    case _ => None
  }

  /** Flatten a term query or a boolean of (boosted) term clauses into
    * [[FlatQuery]] clauses; None for any other shape.
    * The match rule is [[compileBoolean]]'s: FILTER clauses are required with
    * boost 0, MUST_NOT clauses carry boost 0, pure disjunctions need at least
    * one optional match, and `minimumShouldMatch` is ignored when there are
    * no SHOULD clauses. A boolean of only MUST_NOT clauses matches nothing
    * and is not flattened. */
  private def flatten(q: Query, mult: Double = 1.0): Option[FlatQuery] = q match {
    case BoostQuery(inner, b) => flatten(inner, mult * b)
    case TermQuery(t) => Some(FlatQuery(Seq(FlatClause(t, mult, 1)), 0, 1))
    case BooleanQuery(clauses, msm)
        if clauses.nonEmpty &&
          clauses.forall { case (_, c) => flatTerm(c, 1.0).isDefined } &&
          clauses.exists(_._1 != Occur.MUST_NOT) =>
      val flat = clauses.map {
        case (Occur.MUST, c) => val (t, b) = flatTerm(c, mult).get; FlatClause(t, b, 0)
        case (Occur.FILTER, c) => FlatClause(flatTerm(c, 0.0).get._1, 0.0, 0)
        case (Occur.SHOULD, c) => val (t, b) = flatTerm(c, mult).get; FlatClause(t, b, 1)
        case (_, c) => FlatClause(flatTerm(c, 0.0).get._1, 0.0, 2)
      }
      val hasMust = clauses.exists(_._1 == Occur.MUST)
      val hasShould = clauses.exists(_._1 == Occur.SHOULD)
      val msmEff = if (!hasShould) 0 else if (!hasMust) math.max(msm, 1) else msm
      Some(FlatQuery(flat, flat.count(_.kind == 0), msmEff))
    case _ => None
  }

  // ------------------------------------------------------------ top-k plans

  /** One `(term, block)` row per posting block of `terms`. Past the values
    * a scan pushes down (`spark.sql.parquet.pushdown.inFilterThreshold`)
    * the terms are data, not a literal `IN` list: their UTF-8 range is
    * pushed and a broadcast set keeps them. */
  private def termBlocks(terms: Seq[String]): Dataset[(String, PostingBlock)] = {
    val pushedValues = spark.conf.get("spark.sql.parquet.pushdown.inFilterThreshold", "10").toInt
    val matched =
      if (terms.size <= pushedValues) col("term").isin(terms: _*)
      else {
        val utf8 = terms.map(UTF8String.fromString)
        val set = spark.sparkContext.broadcast(terms.toSet)
        val member = udf((t: String) => set.value.contains(t))
        col("term").between(utf8.min.toString, utf8.max.toString) && member(col("term"))
      }
    index.postings
      .filter(matched)
      .select(col("term"), explode(col("blocks")).as("b"))
      .as[(String, PostingBlock)]
  }

  /** The k best rows by score desc, docId asc. Rows on the driver (a
    * [[localFrame]]) are ranked there and stay local: a sort planned over
    * them would run a job. */
  private def topK(hits: DataFrame, k: Int): DataFrame = hits.queryExecution.logical match {
    case l: LocalRelation if l.output.map(_.name) == ScoredSchema.fieldNames.toSeq =>
      localFrame(SingleTask.topK(l.data.iterator.map(r => (r.getLong(0), r.getDouble(1))), k))
    case _ => hits.orderBy(desc("score"), asc("docId")).limit(k)
  }

  /** `keys(s)` is an int key that Spark's hash partitioning into `r`
    * partitions (`pmod(murmur3(key, seed 42), r)`) sends to partition s. */
  private def partitionKeys(r: Int): Array[Int] = {
    val keys = Array.fill(r)(-1)
    var found = 0
    var i = 0
    while (found < r) {
      val p = Math.floorMod(Murmur3_x86_32.hashInt(i, 42), r)
      if (keys(p) < 0) { keys(p) = i; found += 1 }
      i += 1
    }
    keys
  }

  private val NoRows = Routed(Map.empty, (_, _) => Iterator.empty)

  /** R = ceil(postings / 2^16) doc-range slices, at most the default
    * parallelism. */
  private def sliceCount(postings: Long): Int =
    math.max(1, math.min((postings + SingleTaskMaxPostings - 1) / SingleTaskMaxPostings,
      spark.sparkContext.defaultParallelism.toLong).toInt)

  /** `route`'s rows computed on the driver over the
    * [[InvertedIndex.residentBlocks]] — when the index holds them and the
    * route is one slice (R = 1) — else None. Builds no DataFrame and runs
    * no job. */
  private def onDriver(route: Routed): Option[Iterator[(Long, Double)]] =
    index.residentBlocks.filter(_ => sliceCount(route.postings) == 1).map { blocks =>
      route.over(t => blocks.get(t).iterator.flatMap(_.iterator), Accept(dead = index.deadDocIds))
    }

  /** The scored rows of `route`'s kernel over the doc-range slices of its
    * terms' blocks ([[slices]]); at R = 1 a resident index runs the kernel on
    * the driver ([[onDriver]]) and returns a [[localFrame]] (no job). */
  private def sliced(route: Routed): DataFrame =
    if (route.dfs.isEmpty) emptyFrame
    else onDriver(route).map(localFrame)
      .getOrElse(slices(route.dfs, route.kernel).toDF("docId", "score"))

  /** `kernel`'s rows over the doc-range slices of the blocks of `dfs`'
    * terms. R slices ([[sliceCount]] of their Σdf) cut the doc-id line at
    * multiples of `w = ceil(docCount / R)`: doc d belongs to slice
    * `min(d / w, R − 1)`, a block goes to every slice its
    * `[firstDoc, lastDoc]` overlaps, so each slice holds the complete
    * postings of its docs on a built index and on a merged one, and the
    * kernel keeps only the docs of `[lo, hi]` (its [[Accept]], which also
    * holds the broadcast deleted ids), so the clamp keeps the slices exact
    * for any spread of doc ids. At R = 1 a [[InvertedIndex.warm]]ed
    * index reads the rows into ONE partition (one job, one stage, one
    * task). Everything else shuffles the terms' encoded blocks into R
    * partitions, slice s to reduce task s. */
  private def slices[T: Encoder](dfs: Map[String, Long],
      kernel: (Iterator[(String, PostingBlock)], Accept) => Iterator[T]): Dataset[T] = {
    val terms = dfs.keys.toSeq
    val r = sliceCount(dfs.valuesIterator.sum)
    val dead = deadIds
    if (r == 1 && index.warmTermStats.isDefined)
      termBlocks(terms).coalesce(1).mapPartitions(it => kernel(it, Accept(dead = dead.value)))
    else {
      val w = math.max(1L, (cs.docCount + r - 1) / r)
      val sliceOf: Long => Int = d => math.min(math.max(d / w, 0L), r - 1L).toInt
      val keys = partitionKeys(r)
      // an explicit partition count: AQE leaves the shuffle uncoalesced
      termBlocks(terms)
        .flatMap { case (t, b) =>
          (sliceOf(b.firstDoc) to sliceOf(b.lastDoc)).iterator.map(s => (keys(s), s, t, b)) }
        .repartition(r, col("_1"))
        .mapPartitions { it =>
          val rows = it.buffered
          if (!rows.hasNext) Iterator.empty
          else {
            val s = rows.head._2
            kernel(rows.map(x => (x._3, x._4)), Accept(
              if (s == 0) Long.MinValue else s * w,
              if (s == r - 1) Long.MaxValue else (s + 1) * w - 1, dead.value))
          }
        }
    }
  }

  /** `q` flattened for [[flatRoute]], or None: other shapes, and FILTER
    * clauses under a `queryCache`, take the compiled plans. */
  private def flatQuery(q: Query): Option[FlatQuery] =
    flatten(q).filter(_ => queryCache.isEmpty || !hasFilter(q))

  /** A flat term query's route over the terms `stats` holds (see the class
    * doc): one [[SingleTask.flatTopK]] per slice. */
  private def flatRoute(f: FlatQuery, stats: Map[String, TermStats], k: Int): Routed = {
    val clauses = f.clauses.toArray
    val scorers = clauses.map { c =>
      if (c.kind == 2 || c.boost == 0.0 || !stats.contains(c.term)) null
      else termScorer(stats(c.term), c.boost)
    }
    val (nMust, msm) = (f.nMust, f.msm)
    val dfs = clauses.iterator.map(_.term).filter(stats.contains).map(t => t -> stats(t).docFreq).toMap
    Routed(dfs, (rows, accept) => SingleTask.flatTopK(rows, clauses, scorers, nMust, msm, k, accept))
  }

  /** The top-k plan of a flat term query, merged by one TakeOrdered over
    * its slices, or None for any other shape. A cold index runs the
    * exhaustive join plan, live docs only, up to `pruneThreshold` postings. */
  private def flatPlan(q: Query, k: Int): Option[DataFrame] = flatQuery(q).map { f =>
    val stats = lookupStats(f.clauses.map(_.term).toSet)
    val route = flatRoute(f, stats, k)
    if (index.warmTermStats.isEmpty && route.dfs.nonEmpty && route.postings <= pruneThreshold)
      topK(applyLive(compile(q, stats, 1.0)), k)
    else topK(sliced(route), k)
  }

  /** The constant-score expansion `q` is under its boosts, or None. */
  private def expansionOf(q: Query): Option[Query] = q match {
    case BoostQuery(inner, _) => expansionOf(inner)
    case e @ (_: PrefixQuery | _: TermRangeQuery | _: TermInSetQuery | _: FuzzyQuery | _: RegexpQuery) => Some(e)
    case _ => None
  }

  /** The route of the rewritten query `q` under `boost`, or None: a flat
    * term query (a boosted one is flat itself); a constant-score expansion
    * ([[SingleTask.smallestDocs]] over its matched terms); a positional
    * query without prefix or wildcard interval sources. `found` covers its
    * exact terms and its expansion; other shapes do not read it. */
  private def route(q: Query, found: => Lookup, k: Int, boost: Double = 1.0): Option[Routed] =
    flatQuery(q).map(flatRoute(_, found.stats, k)).orElse(q match {
      case BoostQuery(inner, b) => route(inner, found, k, boost * b)
      case e if expansionOf(e).isDefined =>
        Some(Routed(found.matched(e), (rows, accept) =>
          SingleTask.smallestDocs(rows.map(_._2), k, accept).map(d => (d, boost))))
      case IntervalQuery(src) if Intervals.hasMultiTerm(src) => None
      case SpanQuery(s) if Intervals.hasMultiTerm(Spans.toIntervals(s)) => None
      case p @ (_: PhraseQuery | _: MultiPhraseQuery | _: SpanNearQuery | _: IntervalQuery | _: SpanQuery) =>
        Some(positional(p, found.stats, boost))
      case _ => None
    })

  private def hasFilter(q: Query): Boolean = q match {
    case BooleanQuery(clauses, _) => clauses.exists(_._1 == Occur.FILTER)
    case BoostQuery(inner, _) => hasFilter(inner)
    case _ => false
  }

  /** The terms a prefix / range / term-set query matches in the warm
    * dictionary, with their dfs. Prefix and range bounds compare in UTF-8
    * byte order over [[InvertedIndex.warmSortedTerms]], so the matches
    * equal Catalyst's `startsWith` and string comparisons in
    * [[expansionPred]]. */
  private def dictionaryMatches(q: Query): Map[String, Long] = {
    val stats = index.warmTermStats.get
    val dict = index.warmSortedTerms.get
    // index of the first term ≥ v (inclusive) or > v
    def firstIndex(v: String, inclusive: Boolean): Int = {
      val i = java.util.Arrays.binarySearch(dict.asInstanceOf[Array[AnyRef]], UTF8String.fromString(v))
      if (i < 0) -i - 1 else if (inclusive) i else i + 1
    }
    val candidates: Iterator[String] = q match {
      case PrefixQuery(p) =>
        val pu = UTF8String.fromString(p)
        dict.iterator.drop(firstIndex(p, inclusive = true)).takeWhile(_.startsWith(pu)).map(_.toString)
      case TermRangeQuery(lo, hi, il, ih) =>
        val from = lo.map(firstIndex(_, il)).getOrElse(0)
        val until = hi.map(firstIndex(_, !ih)).getOrElse(dict.length)
        dict.iterator.slice(from, until).map(_.toString)
      case TermInSetQuery(ts) => ts.iterator.filter(stats.contains)
      case _ => Iterator.empty
    }
    candidates.map(t => t -> stats(t)._1).toMap
  }

  // ---------------------------------------------------------------- public

  /** Score explanation for ONE document — the reference's
    * `IndexSearcher.explain(Query, docID)`
    * (`lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:710`):
    * the per-clause breakdown a user reads to debug relevance. The reference
    * returns a nested `Explanation` tree; relationally this flattens to one
    * row per SCORING LEAF — `(clause, occur, score)` — plus a `total` row
    * whose value equals `scored(q)` at the doc (asserted by ExplainSpec).
    * MUST_NOT / FILTER clauses gate matching but contribute no score, like
    * the reference's non-scoring sub-explanations; a leaf that does not
    * match the doc is simply absent (`Explanation.noMatch`). Any shape
    * without a flat decomposition explains as the single `query` leaf. */
  def explain(q: Query, docId: Long): DataFrame = {
    val rewritten = QueryRewriter.rewrite(q)
    // flatten to scoring leaves with effective boosts + occur labels
    def leaves(query: Query, occur: String, boost: Double): Seq[(String, String, Query, Double)] =
      query match {
        case BooleanQuery(clauses, _) =>
          clauses.flatMap {
            case (Occur.MUST, c) => leaves(c, "MUST", boost)
            case (Occur.SHOULD, c) => leaves(c, "SHOULD", boost)
            case (Occur.FILTER, _) | (Occur.MUST_NOT, _) => Nil // non-scoring
          }
        case BoostQuery(inner, b) => leaves(inner, occur, boost * b)
        case t @ TermQuery(term) => Seq((term, occur, t, boost))
        case d @ DisjunctionMaxQuery(ds, _) if d.tieBreaker == 0f =>
          ds.flatMap(leaves(_, "MAX", boost))
        case other => Seq(("query", occur, other, boost))
      }
    val parts = leaves(rewritten, "MUST", 1.0)
    val stats = lookupStats(exactTerms(rewritten))
    val rows = parts.map { case (label, occur, leaf, boost) =>
      applyLive(compile(leaf, stats, boost))
        .filter(col("docId") === lit(docId))
        .select(lit(label).as("clause"), lit(occur).as("occur"), col("score"))
    }
    val total = applyLive(compile(rewritten, stats, 1.0))
      .filter(col("docId") === lit(docId))
      .select(lit("total").as("clause"), lit("TOTAL").as("occur"), col("score"))
    (rows :+ total).reduce(_ unionAll _)
  }

  /** Index-order-sorted top-k with EARLY TERMINATION — the reference's
    * `TopFieldCollector` when the search sort matches the index sort
    * (`lucene/core/src/java/org/apache/lucene/search/TopFieldCollector.java:51`
    * `canEarlyTerminate`; each segment stops collecting after k hits because
    * docs arrive already in sort order).
    *
    * The term is a route like any other: each of its R slices keeps its k
    * smallest live docs with [[SingleTask.smallestPostings]], decoding
    * O(k) blocks whatever the df and the pending tombstones, and the ≤ R·k
    * rows are sorted by docId (at R = 1 on a resident index: on the driver,
    * no job). */
  def searchByIndexOrder(t: String, k: Int): DataFrame =
    lookupStats(Set(t)).get(t) match {
      case None => emptyFrame
      case Some(ts) =>
        val score = termScorer(ts, 1.0)
        val route = Routed(Map(t -> ts.docFreq), (rows, accept) =>
          SingleTask.smallestPostings(rows.map(_._2), k, accept).map { case (d, f, dl) => (d, score(f, dl)) })
        // the driver's one slice is already the k smallest, ascending
        onDriver(route).map(localFrame).getOrElse(
          slices(route.dfs, route.kernel).toDF("docId", "score").orderBy(asc("docId")).limit(k))
    }

  /** Top-k search: `(docId, score)` ordered by score desc, docId asc —
    * the reference's `TopDocs.merge` tiebreak. Routed shapes — flat term
    * queries, constant-score expansions, positional queries — take their
    * route (see the class doc); other shapes rank [[scored]]'s doc set. */
  def search(q: Query, k: Int): DataFrame = {
    val rewritten = QueryRewriter.rewrite(q)
    flatPlan(rewritten, k)
      .orElse(route(rewritten, lookupFor(Seq(rewritten)), k).map(r => topK(sliced(r), k)))
      .getOrElse(topK(scored(rewritten), k))
  }

  private val BatchSchema = StructType(Seq(
    StructField("queryId", StringType, nullable = false), StructField("docId", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false), StructField("rank", LongType, nullable = false)))

  /** Batched top-k for a SET of queries, each with a distinct id. Output:
    * `(queryId, docId, score, rank)`, rank 1..k per query, each query's rows
    * equal to [[search]]'s.
    *
    * The batch rewrites every query and looks up the statistics of all of
    * their exact terms and the matched terms of all of their expansions at
    * once ([[lookup]]: on a cold reader one job), then routes each query as
    * [[search]] does: a flat term query, a constant-score expansion, a
    * positional query. On an index with resident blocks
    * ([[InvertedIndex.residentBlocks]]) a route of one slice runs its kernel
    * on the driver, one collector per query like the reference's
    * `IndexSearcher` over a resident reader; those ranked rows form one local
    * relation, and a batch of only such queries runs no job. Every other
    * route joins ONE slice plan ([[slices]]) over the blocks of all of their
    * terms: each slice runs every route's kernel over its own terms and
    * keeps that query's top-k of the slice — the reference's per-slice
    * collectors — and one window ranks each query's rows. Only the shapes
    * without a route (dismax, nested trees, scored expansions, interval
    * sources with prefix leaves) run their own [[search]], unioned in.
    * Pending tombstones change no route: the kernels skip the deleted
    * docs. */
  def searchBatch(queries: Seq[(String, Query)], k: Int): DataFrame = {
    val ids = queries.map(_._1)
    require(ids.distinct.size == ids.size,
      s"searchBatch: duplicate query ids ${ids.diff(ids.distinct).distinct.mkString(", ")}")
    val rewritten = queries.map { case (id, q) => (id, QueryRewriter.rewrite(q)) }
    lazy val found = lookupFor(rewritten.map(_._2))
    val served = Vector.newBuilder[Row]
    val planned = Vector.newBuilder[(String, Routed)]
    val rest = Vector.newBuilder[DataFrame]
    rewritten.foreach { case (id, q) =>
      route(q, found, k) match {
        case Some(r) => onDriver(r) match {
          case Some(hits) =>
            SingleTask.topK(hits, k).zipWithIndex.foreach { case ((d, sc), i) => served += Row(id, d, sc, i + 1L) }
          case None => if (r.dfs.nonEmpty) planned += ((id, r))
        }
        case None => rest += search(q, k).select(lit(id).as("queryId"), col("docId"), col("score"))
      }
    }
    val servedRows = served.result()
    val local = spark.createDataFrame(servedRows.asJava, BatchSchema)
    val routes = planned.result()
    val others = (if (routes.isEmpty) Nil else Seq(slicedBatch(routes, k))) ++ rest.result()
    if (others.isEmpty) local
    else {
      val w = Window.partitionBy("queryId").orderBy(desc("score"), asc("docId"))
      val ranked = others.reduce(_ unionAll _)
        .withColumn("rank", row_number().over(w)).filter(col("rank") <= k)
        .select(col("queryId"), col("docId"), col("score"), col("rank").cast("long").as("rank"))
      if (servedRows.isEmpty) ranked else local.unionAll(ranked)
    }
  }

  /** `(queryId, docId, score)`: each route's top-k per doc-range slice of
    * ONE slice plan over the blocks of all of the routes' terms. Each slice
    * groups its blocks by term once and runs every route's kernel over that
    * route's terms. */
  private def slicedBatch(routes: Seq[(String, Routed)], k: Int): DataFrame = {
    val rs = routes.toArray
    slices(routes.map(_._2.dfs).reduce(_ ++ _), (rows, accept) => {
      val byTerm = SingleTask.byTerm(rows)
      rs.iterator.flatMap { case (id, r) =>
        SingleTask.topK(r.over(t => byTerm.get(t).iterator.flatMap(_.iterator), accept), k)
          .map { case (d, sc) => (id, d, sc) }
      }
    }).toDF("queryId", "docId", "score")
  }

  /** Keyset pagination: top-k strictly after a previous (score, docId) anchor
    * (`lucene/core/src/java/org/apache/lucene/search/IndexSearcher.java:576`). */
  def searchAfter(q: Query, k: Int, afterScore: Double, afterDocId: Long): DataFrame =
    scored(q)
      .filter(col("score") < lit(afterScore) ||
        (col("score") === lit(afterScore) && col("docId") > lit(afterDocId)))
      .orderBy(desc("score"), asc("docId")).limit(k)

  /** Total hit count (`lucene/core/src/java/org/apache/lucene/search/TotalHitCountCollector.java:27`).
    *
    * Short-circuits like the reference (`IndexSearcher.java:495`):
    *  - a single term's count IS its precomputed docFreq — a pure stats
    *    lookup, zero scan (df = distinct docs per CheckIndex invariant);
    *  - flat term disjunctions/conjunctions count doc ids from the
    *    delta-chain-only decode ([[PostingsCodec.decodeDocIds]]) — no freq or
    *    norm decode and no scoring in the plan, ~⅓ the scan work;
    *  - everything else falls back to the scored doc set.
    * With pending tombstones the count must exclude deleted docs, but the
    * short-circuits above return the deletion-blind df (the reference's
    * `TermWeight.count` likewise answers `docFreq` only for a leaf without
    * deletions), so the deletion-aware exhaustive path runs instead. */
  def count(q: Query): Long = {
    val rewritten = QueryRewriter.rewrite(q)
    if (index.deletedDocs.isDefined) return scored(rewritten).count()
    def docIdsOf(t: String): DataFrame = docIds(blocksOf(t)).toDF("docId")
    rewritten match {
      case TermQuery(t) =>
        lookupStats(Set(t)).get(t).map(_.docFreq).getOrElse(0L)
      case BooleanQuery(clauses, msm)
          if msm <= 1 && clauses.nonEmpty &&
            clauses.forall(_._2.isInstanceOf[TermQuery]) &&
            (clauses.forall(_._1 == Occur.SHOULD) || clauses.forall(_._1 == Occur.MUST)) =>
        val terms = clauses.map(_._2.asInstanceOf[TermQuery].term).distinct
        val stats = lookupStats(terms.toSet)
        val present = terms.filter(stats.contains)
        if (clauses.head._1 == Occur.MUST) {
          if (present.size < terms.size) 0L
          else if (present.size == 1) stats(present.head).docFreq
          else present.map(docIdsOf).reduce((a, b) => a.join(b, "docId")).count()
        } else {
          if (present.isEmpty) 0L
          else if (present.size == 1) stats(present.head).docFreq
          else present.map(docIdsOf).reduce(_ unionAll _).distinct().count()
        }
      case other => scored(other).count()
    }
  }

  /** Second-pass re-ranking — the reference's `QueryRescorer.rescore`
    * (`lucene/core/src/java/org/apache/lucene/search/QueryRescorer.java`):
    * take the top `topN` of `base`, combine each hit's score with the rescore
    * query's score on those docs (`combine = first + weight × second`, 0 when
    * the rescore query misses), return the top `k` of the combined order. */
  def rescore(base: Query, rescoreQuery: Query, weight: Double, topN: Int, k: Int): DataFrame = {
    val firstPass = search(base, topN)
    val second = scored(rescoreQuery).toDF("docId2", "score2")
    firstPass.join(second, col("docId") === col("docId2"), "left")
      .select(col("docId"),
        (col("score") + lit(weight) * coalesce(col("score2"), lit(0.0))).as("score"))
      .orderBy(desc("score"), asc("docId")).limit(k)
  }

  /** More-like-this — the reference's `MoreLikeThis.like(Reader)`
    * (`lucene/queries/src/java/org/apache/lucene/queries/mlt/MoreLikeThis.java:149`):
    * analyze `text`, rank its terms by tf × idf (tiebreak: term asc), build a
    * SHOULD-disjunction of the top `maxQueryTerms`, return the top `k` docs
    * (excluding `excludeDocId`, the source doc). */
  def moreLikeThis(text: String, maxQueryTerms: Int, k: Int,
                   excludeDocId: Option[Long] = None): DataFrame = {
    val termFreqs = index.analyzer.tokenize(text)
      .groupBy(_.term).view.mapValues(_.size).toMap
    moreLikeThisFromFreqs(termFreqs, maxQueryTerms, k, excludeDocId)
  }

  /** MoreLikeThis seeded from a STORED term vector instead of re-analyzed
    * text — the reference's `MoreLikeThis.like(int docNum)` term-vector path
    * (`lucene/queries/src/java/org/apache/lucene/queries/mlt/MoreLikeThis.java:755-770`):
    * one doc-pruned vector read replaces the stored-text fetch + analysis.
    * `tvec` is the table from [[graft.index.TermVectors.build]]. */
  def moreLikeThisByDoc(tvec: DataFrame, docId: Long, maxQueryTerms: Int, k: Int): DataFrame = {
    val termFreqs = graft.index.TermVectors.vector(tvec, docId)
      .select("term", "freq").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    moreLikeThisFromFreqs(termFreqs, maxQueryTerms, k, excludeDocId = Some(docId))
  }

  private def moreLikeThisFromFreqs(termFreqs: Map[String, Int], maxQueryTerms: Int,
                                    k: Int, excludeDocId: Option[Long]): DataFrame = {
    val stats = lookupStats(termFreqs.keySet)
    val ranked = termFreqs.toSeq
      .flatMap { case (t, f) => stats.get(t).map(s => (t, f * idfPrecise(s.docFreq))) }
      .sortBy { case (t, s) => (-s, t) }
      .take(maxQueryTerms)
      .map(_._1)
    if (ranked.isEmpty) return emptyFrame
    val q = BooleanQuery(ranked.map(t => Occur.SHOULD -> TermQuery(t)))
    val hits = scored(q)
    val filtered = excludeDocId match {
      case Some(id) => hits.filter(col("docId") =!= lit(id))
      case None => hits
    }
    filtered.orderBy(desc("score"), asc("docId")).limit(k)
  }
}
