package graft

import graft.core._
import graft.index._
import graft.search._
import graft.webtext._
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end tests over the north-rule `pages` input shape
  * (url, warc_ts, html, text, lang): deterministic synthesis, the
  * byte-identical extraction invariant, parallelism-independent doc-id
  * assignment, resume, and rank-identity of the sliced top-k search plan against
  * exhaustive scoring over the reference query set (FIXTURES.md §1-2).
  */
class WebtextSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _
  private val p = PageGen.Params(meanLen = 60, maxLen = 2000, vocabSize = 5000)
  private val nDocs = 1500L

  private var dir: String = _
  private var index: InvertedIndex = _

  override def beforeAll(): Unit = {
    spark = SparkTestEnv.spark
    dir = java.nio.file.Files.createTempDirectory("graft-webtext-").toString
    index = WebIndex.build(PageGen.synthesize(spark, nDocs, 4, p), dir,
      IndexConfig(SimpleAnalyzer, withPositions = true), numPartitions = 4)
  }

  // shared SparkTestEnv session — never stopped here (other suites use it)

  test("synthesis is deterministic and partitioning-independent") {
    val a = PageGen.synthesize(spark, 200, 2, p).collect().sortBy(_.url)
    val b = PageGen.synthesize(spark, 200, 7, p).collect().sortBy(_.url)
    assert(a.length == b.length)
    a.zip(b).foreach { case (x, y) =>
      assert(x.url == y.url && x.text == y.text && x.lang == y.lang &&
        x.warc_ts == y.warc_ts && java.util.Arrays.equals(x.html, y.html))
    }
  }

  test("per-row invariant: HtmlStrip(html) is byte-identical to text") {
    assert(WebIndex.extractionMismatches(PageGen.synthesize(spark, 500, 3, p)) == 0L)
  }

  test("doc-id assignment is dense, unique, url-ordered, and independent of input partitioning") {
    val pages = PageGen.synthesize(spark, 400, 5, p)
    val a = WebIndex.assignDocIds(pages, 4)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val b = WebIndex.assignDocIds(pages.repartition(11), 7)
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(a.map(_._1).toSeq == (0L until 400L))
    assert(a.toSeq == b.toSeq)
    assert(a.map(_._2).toSeq == a.map(_._2).sorted.toSeq)
  }

  test("WebIndex.build leaves in storage memory only what the caller cached") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pages = PageGen.synthesize(spark, 300, 3, p).cache()
    pages.count()
    val callers = sc.getPersistentRDDs.keySet -- before
    assert(callers.nonEmpty)
    val d = java.nio.file.Files.createTempDirectory("graft-webtext-cache-").toString
    try {
      val idx = WebIndex.build(pages, d, IndexConfig(SimpleAnalyzer, withPositions = true), numPartitions = 4)
      assert(idx.collectionStats.docCount == 300L)
      assert(sc.getPersistentRDDs.keySet -- before == callers)
    } finally {
      pages.unpersist()
      graft.tools.Rm.rmTree(d)
    }
  }

  test("corpus has head terms in >50% of docs and doc lengths past the lossy norm range") {
    val stats = index.termStats
    val n = index.collectionStats.docCount
    val headDf = stats.filter(org.apache.spark.sql.functions.col("term") === "hw0")
      .collect()(0).getLong(1)
    assert(headDf > n / 2, s"head term df $headDf should exceed ${n / 2}")
    val maxLen = index.docs.agg(org.apache.spark.sql.functions.max("doclen"))
      .collect()(0).getInt(0)
    assert(maxLen > 39, "need doc lengths in the lossy SmallFloat range")
  }

  /** Exhaustive in-memory BM25 oracle over the corpus (PreciseBM25 mode). */
  private lazy val oracle: ExhaustiveOracle = {
    val docs = PageGen.synthesize(spark, nDocs, 4, p).collect()
      .sortBy(_.url).zipWithIndex
      .map { case (pg, i) => (i.toLong, SimpleAnalyzer.tokenize(pg.text)) }
    new ExhaustiveOracle(docs)
  }

  test("pruned search is rank-identical to exhaustive scoring over the reference query set") {
    val searcher = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 50)
    val queries = PageGen.querySet(p).filter {
      case _: PrefixQuery | _: TermRangeQuery => false // constant-score; covered elsewhere
      case _ => true
    }
    // a representative subset keeps the suite fast; seeded selection
    val rnd = new scala.util.Random(7)
    val sample = rnd.shuffle(queries.toVector).take(12)
    sample.foreach { q =>
      val got = searcher.search(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1)))
      val want = oracle.topK(q, 10)
      assert(got.length == want.length, s"size mismatch for $q: got ${got.toSeq}, want $want")
      got.zip(want).foreach { case ((gd, gs), (wd, ws)) =>
        assert(gd == wd, s"doc order mismatch for $q: got ${got.toSeq}, want $want")
        assert(math.abs(gs - ws) < 1e-9, s"score mismatch for $q doc $gd: $gs vs $ws")
      }
    }
  }

  test("resumed build produces an identical index") {
    val dir2 = java.nio.file.Files.createTempDirectory("graft-webtext-resume-").toString
    val pages = PageGen.synthesize(spark, 300, 4, p)
    WebIndex.build(pages, dir2, IndexConfig(SimpleAnalyzer), numPartitions = 4)
    val idx1 = InvertedIndex.open(spark, dir2)
    val docs1 = idx1.docs.collect().map(r => (r.getLong(0), r.getInt(2))).sortBy(_._1).toSeq
    val ts1 = idx1.termStats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    // resume over the same committed state: all partitions checkpointed → no-op
    val idx2 = WebIndex.build(pages, dir2, IndexConfig(SimpleAnalyzer), numPartitions = 4, resume = true)
    val docs2 = idx2.docs.collect().map(r => (r.getLong(0), r.getInt(2))).sortBy(_._1).toSeq
    val ts2 = idx2.termStats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(docs1 == docs2)
    assert(ts1 == ts2)
  }
}

/** Driver-side exhaustive scorer used as the metamorphic oracle
  * (pattern of the reference's TestBoolean2 brute-force comparisons,
  * `lucene/core/src/test/org/apache/lucene/search/TestBoolean2.java`). */
final class ExhaustiveOracle(docs: Array[(Long, IndexedSeq[Token])]) {
  private val n = docs.length.toLong
  // scoring reads the byte-quantized length (the engine's one-byte norm);
  // avgdl stays exact (collection stats are exact sums)
  private val dl: Map[Long, Int] = docs.map { case (id, ts) =>
    id -> SmallFloat.byte4ToInt(SmallFloat.intToByte4(ts.length))
  }.toMap
  private val avgdl = docs.map(_._2.length.toLong).sum / n.toDouble
  private val tf: Map[String, Map[Long, Int]] = docs
    .flatMap { case (id, ts) => ts.map(t => (t.term, id)) }
    .groupBy(_._1).map { case (t, xs) =>
      t -> xs.groupBy(_._2).map { case (id, g) => id -> g.length }
    }

  private def idf(df: Long): Double = math.log(1 + (n - df + 0.5) / (df + 0.5))

  private def termScores(t: String): Map[Long, Double] = tf.get(t) match {
    case None => Map.empty
    case Some(m) =>
      val w = idf(m.size.toLong)
      m.map { case (id, f) =>
        id -> w * (f / (f + 1.2 * (1 - 0.75 + 0.75 * dl(id) / avgdl)))
      }
  }

  private def phraseScores(terms: Seq[String]): Map[Long, Double] = {
    val w = terms.map(t => idf(tf.get(t).map(_.size.toLong).getOrElse(0L))).sum
    docs.flatMap { case (id, toks) =>
      val pos: Map[String, Set[Int]] = toks.groupBy(_.term).map { case (t, g) => t -> g.map(_.position).toSet }
      if (terms.forall(pos.contains)) {
        val freq = pos(terms.head).count(p0 =>
          terms.zipWithIndex.tail.forall { case (t, i) => pos(t).contains(p0 + i) })
        if (freq > 0)
          Some(id -> w * (freq / (freq + 1.2 * (1 - 0.75 + 0.75 * dl(id) / avgdl))))
        else None
      } else None
    }.toMap
  }

  def scores(q: graft.search.Query): Map[Long, Double] = {
    import graft.search._
    q match {
      case TermQuery(t) => termScores(t)
      case PhraseQuery(ts, _) => phraseScores(ts)
      case BooleanQuery(clauses, msm) =>
        val must = clauses.collect { case (Occur.MUST, TermQuery(t)) => termScores(t) }
        val should = clauses.collect { case (Occur.SHOULD, TermQuery(t)) => termScores(t) }
        val nots = clauses.collect { case (Occur.MUST_NOT, TermQuery(t)) => termScores(t).keySet }
          .foldLeft(Set.empty[Long])(_ ++ _)
        val base: Map[Long, Double] =
          if (must.nonEmpty) {
            val inAll = must.map(_.keySet).reduce(_ intersect _)
            val m = inAll.map(id => id -> must.map(_(id)).sum).toMap
            if (should.nonEmpty)
              m.map { case (id, s) => id -> (s + should.flatMap(_.get(id)).sum) }
            else m
          } else {
            val k = math.max(msm, 1)
            should.flatMap(_.keySet).toSet
              .filter(id => should.count(_.contains(id)) >= k)
              .map(id => id -> should.flatMap(_.get(id)).sum).toMap
          }
        base.filterNot { case (id, _) => nots.contains(id) }
      case other => throw new IllegalArgumentException(s"oracle does not model $other")
    }
  }

  def topK(q: graft.search.Query, k: Int): Seq[(Long, Double)] =
    scores(q).toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
}
