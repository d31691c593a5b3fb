package perfbench

import graft.core.SimpleAnalyzer
import graft.index._
import graft.search.{ScoringMode, Searcher}
import graft.streaming.StreamingIndexer
import graft.webtext.{Page, PageGen, WebIndex}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

/** Input sizes of one run. Only the corpus size, and with it the query path
  * single-term top-k takes, varies between workloads.
  *
  * @param headsPruned whether every `term_head` word's document frequency
  *                    passes the searcher's pruning threshold, so that
  *                    single-term top-k takes the pruned path; checked on
  *                    every run */
final case class Sizing(corpusDocs: Int, headsPruned: Boolean,
                        nrtBatchDocs: Int = 500, nrtSteps: Int = 4, perShape: Int = 5)

object Sizing {
  /** Per workload. At 1,200 pages the most frequent words occur in more
    * than 1,000 pages, the searcher's pruning threshold; at 600 pages no
    * word can. */
  def of(workload: String): Sizing = workload match {
    case "serve" => Sizing(corpusDocs = 1200, headsPruned = true)
    case "small" => Sizing(corpusDocs = 600, headsPruned = false)
  }
  /** Timed set-ups per run; `setup_s` is their median. */
  val SetupReps = 3

  /** For the benchmark's own smoke tests. */
  val Tiny: Sizing = Sizing(corpusDocs = 600, headsPruned = false, nrtBatchDocs = 100, nrtSteps = 2, perShape = 2)
}

/** Samples gathered by one run. Times are in the unit their name says. */
final class Samples {
  val setupS = ArrayBuffer.empty[Double]
  val buildS = ArrayBuffer.empty[Double]
  val queryMs = ArrayBuffer.empty[Double]
  val batchS = ArrayBuffer.empty[Double]
  val nrtVisibleMs = ArrayBuffer.empty[Double]
  val nrtQueryMs = ArrayBuffer.empty[Double]
  var cacheMb = 0.0
  var indexBytesPerTextByte = 0.0
}

/** The phases of a run over one Spark session: set-up (seeded corpus
  * written as a pages table, build, merge, open, warm), queries, batches,
  * and in a traced run an NRT episode. The workload sets the sizes. */
final class Workloads(spark: SparkSession, work: java.io.File, seed: Long, sizing: Sizing) {
  import spark.implicits._

  val k = 10
  /** Reference rows kept beyond k, so ties at rank k stay visible. */
  val refLimit = k + 10
  private val sc = spark.sparkContext
  private val parts = sc.defaultParallelism
  private val p = PageGen.Params(seed = seed)
  private val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
  val N: Long = sizing.corpusDocs.toLong

  var attempted = 0L
  var failed = 0L
  val failures = ArrayBuffer.empty[String]
  var tracer: Option[Tracer] = None

  private def span[T](name: String, query: String = null)(body: => T): T =
    tracer.fold(body)(_.span(name, query)(body))

  private def fail(what: String, why: String): Unit = {
    failed += 1
    if (failures.length < 20) failures += s"$what: $why"
  }

  /** One operation: counted as attempted, failed on an exception or when
    * `body` returns a problem; its value is used only when it succeeded. */
  private def op[T](what: String)(body: => Either[String, T]): Option[T] = {
    attempted += 1
    try body match {
      case Right(v) => Some(v)
      case Left(why) => fail(what, why); None
    } catch { case NonFatal(e) => fail(what, e.toString); None }
  }

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def path(name: String): String = new java.io.File(work, name).getAbsolutePath
  private def rm(p: String): Unit = graft.tools.Rm.rmTree(p)

  // ------------------------------------------------------------ build

  /** Write the first `n` corpus pages as a parquet pages table. */
  def writePages(dir: String, n: Long): Unit =
    Corpus.pages(spark, n, parts, p).write.mode("overwrite").parquet(dir)

  final case class Built(dir: String, merged: InvertedIndex)

  private def mergedDir(dir: String) = s"$dir-merged"

  /** `WebIndex.build` then `SegmentMerger.merge` over the pages table. */
  private def buildIndex(pagesDir: String, dir: String): Built = {
    val pages = spark.read.parquet(pagesDir).as[Page]
    val idx = WebIndex.build(pages, dir, cfg, parts)
    Built(dir, SegmentMerger.merge(idx, mergedDir(dir), computeMetrics = false)._1)
  }

  /** The same build split into its public steps, one span each. */
  private def tracedBuild(pagesDir: String, dir: String): Built = span("index.build") {
    val pages = spark.read.parquet(pagesDir).as[Page]
    val withIds = span("webtext.assign_ids") {
      val w = WebIndex.assignDocIds(pages, parts).cache()
      w.count()
      w
    }
    span("webtext.urlmap") {
      withIds.select($"docId", $"url", $"warc_ts", $"lang").write.mode("overwrite").parquet(s"$dir/urlmap")
    }
    val idx = span("index.flush") { IndexBuilder.build(withIds.select($"docId", $"text").as[InputDoc], dir, cfg) }
    withIds.unpersist()
    Built(dir, span("index.merge") { SegmentMerger.merge(idx, mergedDir(dir), computeMetrics = false)._1 })
  }

  private def checkBuild(b: Built): Either[String, Built] = {
    val n = b.merged.collectionStats.docCount
    if (n != N) Left(s"docCount $n, expected $N")
    else {
      val v = CheckIndex.check(b.merged)
      if (v.nonEmpty) Left(s"CheckIndex: ${v.take(3).mkString("; ")}") else Right(b)
    }
  }


  /** Bytes of every file under `dir`, skipping paths that contain `skip`. */
  private def diskBytes(dir: String, skip: String = "\u0000"): Long = {
    val root = java.nio.file.Paths.get(dir)
    val st = java.nio.file.Files.walk(root)
    try st.filter(f => java.nio.file.Files.isRegularFile(f) && !f.toString.contains(skip))
      .mapToLong(f => java.nio.file.Files.size(f)).sum()
    finally st.close()
  }

  // ------------------------------------------------------------ setup

  private var pagesDir: String = _
  private var served: Built = _
  private var searcher: Searcher = _
  private var mix: Seq[MixQuery] = Nil
  private var refs: Map[String, Seq[(Long, Double)]] = Map.empty

  /** Storage memory held by cached data, in MB. */
  private def cachedMb(): Double = sc.getRDDStorageInfo.map(_.memSize).sum / 1e6


  /** Corpus, build, merge, open and warm from scratch: once untimed while
    * the JVM is cold, then [[Sizing.SetupReps]] times timed; the last one is
    * served. Each timed repetition's build is also a `build_docs_per_s`
    * sample. */
  def setup(s: Samples): Unit = {
    (-1 until Sizing.SetupReps).foreach { rep =>
      spark.catalog.clearCache()
      Option(served).foreach(b => { rm(mergedDir(b.dir)); rm(b.dir) })
      Option(pagesDir).foreach(rm)
      val t0 = System.nanoTime()
      pagesDir = path(s"pages$rep")
      writePages(pagesDir, N)
      val tb = System.nanoTime()
      val b = buildIndex(pagesDir, path(s"index$rep"))
      val buildSec = secsSince(tb)
      val idx = InvertedIndex.open(spark, mergedDir(b.dir)).warm()
      val setupSec = secsSince(t0)
      System.err.println(f"[perfbench] set-up $rep: $N%d pages, $setupSec%.2f s, build and merge $buildSec%.2f s")
      served = b.copy(merged = idx)
      op("setup build") {
        val got = idx.collectionStats.docCount
        if (got != N) Left(s"docCount $got, expected $N") else Right(())
      }.filter(_ => rep >= 0).foreach { _ =>
        s.setupS += setupSec
        s.buildS += buildSec
      }
    }
    s.cacheMb = cachedMb()
    // the text bytes are counted outside the timed set-ups
    val cdf = PageGen.zipfCdf(p)
    val textBytes = (0L until N).map(i => Corpus.text(i, p, cdf).getBytes("UTF-8").length.toLong).sum
    s.indexBytesPerTextByte =
      (diskBytes(servedDir) + diskBytes(served.dir, skip = "kind=1")).toDouble / textBytes
    op("setup check")(checkBuild(served))
    searcher = new Searcher(served.merged, ScoringMode.PreciseBM25())
    mix = QueryMix.build(seed, p, N, sizing.perShape)
    val oracle = new Oracle(p, sizing.corpusDocs)
    refs = mix.map(q => q.id -> oracle.topK(q.query, refLimit)).toMap
    op("term_head path") {
      QueryMix.headPathProblem(mix, oracle.docFreq, searcher.pruneThreshold, sizing.headsPruned).toLeft(())
    }
  }

  def queryMix: Seq[MixQuery] = mix

  /** The served (merged) index directory. */
  def servedDir: String = mergedDir(served.dir)

  // ------------------------------------------------------------ serve

  private def check(q: MixQuery, rows: Seq[(Long, Double)]): Either[String, Unit] =
    TopK.compare(rows, refs(q.id), k, refLimit, exactIds = q.constantScore).toLeft(())

  /** One `search(q, 10).collect()`; its latency in ms when the result is right. */
  private def timedQuery(q: MixQuery): Option[Double] = op(s"query ${q.id} ${q.query}") {
    val (ms, rows) = span("search.query", q.id) {
      val t0 = System.nanoTime()
      val df = span("search.construct") { searcher.search(q.query, k) }
      val rows = span("search.execute") { df.collect() }
      ((System.nanoTime() - t0) / 1e6, rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    }
    check(q, rows).map(_ => ms)
  }

  def queryPass(s: Samples): Unit = mix.foreach(q => timedQuery(q).foreach(s.queryMs += _))

  /** Run `body` without the tracer and its listener. */
  def untraced[T](body: => T): T = {
    val tr = tracer
    tr.foreach(_.close())
    tracer = None
    try body
    finally {
      tracer = tr
      tr.foreach(_.reopen())
    }
  }

  /** Passes in which every query runs twice back to back, untraced and
    * traced, alternating which goes first (a repeat runs warmer): the two
    * latency sets differ only by tracing. As many passes as [[queryPhase]]
    * needs for `minSamples`. */
  def pairedQueryPasses(plain: Samples, traced: Samples, minSamples: Int = 50): Unit = {
    val passes = (minSamples + mix.length - 1) / mix.length
    (0 until passes).foreach { _ =>
      mix.zipWithIndex.foreach { case (q, i) =>
        def off(): Unit = untraced(timedQuery(q).foreach(plain.queryMs += _))
        def on(): Unit = timedQuery(q).foreach(traced.queryMs += _)
        if (i % 2 == 0) { off(); on() } else { on(); off() }
      }
    }
  }

  /** One untimed query of each shape, so the measured pass does not pay for
    * first-use planning and compilation of each query path. */
  def warmQueries(): Unit = QueryMix.Shapes.flatMap(sh => mix.find(_.shape == sh)).foreach(timedQuery)

  /** Passes over the mix until `seconds` have passed and there are at least
    * `minSamples` latencies (enough for a p80 with 10 samples beyond it). */
  def queryPhase(s: Samples, seconds: Double, minSamples: Int = 50): Unit = {
    val t0 = System.nanoTime()
    val maxPasses = 3 * ((minSamples + mix.length - 1) / mix.length)
    var passes = 0
    while ((s.queryMs.length < minSamples && passes < maxPasses) || secsSince(t0) < seconds) {
      queryPass(s)
      passes += 1
    }
  }

  /** The batchable part of the mix as one `searchBatch(queries, 10)`, every
    * query's rows checked. */
  def batchMix: Seq[MixQuery] = mix.filter(q => QueryMix.BatchShapes.contains(q.shape))

  def batch(s: Samples): Unit = op("searchBatch") {
    val qs = batchMix
    val t0 = System.nanoTime()
    val rows = span("search.batch") {
      searcher.searchBatch(qs.map(q => (q.id, q.query)), k).collect()
    }
    val sec = secsSince(t0)
    val byQuery = rows.groupBy(_.getString(0)).map { case (id, rs) =>
      id -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    }
    val bad = qs.flatMap(q => check(q, byQuery.getOrElse(q.id, Nil)).left.toOption.map(w => s"${q.id}: $w"))
    if (bad.nonEmpty) Left(bad.take(3).mkString("; ")) else Right(sec)
  }.foreach(s.batchS += _)

  /** Drop the cache, then open and warm the served index again; returns the
    * storage memory it holds afterwards, in MB. */
  def rewarm(): Double = {
    spark.catalog.clearCache()
    val idx = span("index.warm") { InvertedIndex.open(spark, servedDir).warm() }
    served = served.copy(merged = idx)
    searcher = new Searcher(idx, ScoringMode.PreciseBM25())
    cachedMb()
  }

  // ------------------------------------------------------------ traced build

  /** One timed build split into spans, with its correctness check (not
    * timed). */
  def tracedBuildOnce(s: Samples): Unit = {
    // WebIndex.build leaves its url-sorted pages cached; a build over the
    // same table would reuse them instead of shuffling
    spark.catalog.clearCache()
    val dir = path("build-traced")
    op("build") {
      val t0 = System.nanoTime()
      val b = tracedBuild(pagesDir, dir)
      val sec = secsSince(t0)
      checkBuild(b).map(_ => sec)
    }.foreach(s.buildS += _)
    rm(mergedDir(dir)); rm(dir)
  }

  // ------------------------------------------------------------ nrt

  private var nrtEpisodes = 0
  var lastSegments = 0L

  /** A fresh stream with no base index: `nrtSteps` micro-batches, each
    * appended, committed and reopened, then probed with a few mix queries on
    * the un-warmed view. All steps but the first are sampled. */
  def nrtEpisode(s: Samples): Unit = {
    val ep = nrtEpisodes
    nrtEpisodes += 1
    val dir = path(s"nrt-$ep")
    val ckpt = path(s"nrt-$ep-ckpt")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val source = MemoryStream[InputDoc]
    val stream = StreamingIndexer.start(source.toDS(), dir, cfg, ckpt)
    val cdf = PageGen.zipfCdf(p)
    val probes = QueryMix.NrtShapes.map(sh => mix.filter(_.shape == sh))
    var committed = 0L
    var view: Option[InvertedIndex] = None
    try {
      (0 until sizing.nrtSteps).foreach { step =>
        // pages past the served corpus, so the stream indexes fresh text
        val docs = (0 until sizing.nrtBatchDocs).map { i =>
          val id = committed + i
          InputDoc(id, Corpus.text(N + id, p, cdf))
        }
        val seen = op("nrt step") {
          val t0 = System.nanoTime()
          span("streaming.append") {
            tracer.foreach(_.alias(stream.runId.toString))
            source.addData(docs)
            stream.processAllAvailable()
          }
          val (idx, nrtSearcher) = span("streaming.reopen") {
            val idx = StreamingIndexer.reopen(spark, dir)
            (idx, new Searcher(idx, ScoringMode.PreciseBM25()))
          }
          val ms = (System.nanoTime() - t0) / 1e6
          val n = idx.collectionStats.docCount
          if (n != committed + docs.length) Left(s"reopened view has $n docs, expected ${committed + docs.length}")
          else Right((ms, idx, nrtSearcher))
        }
        committed += docs.length
        // the first step starts the stream and meets every code path cold:
        // it is checked but not sampled
        val sample = step > 0
        seen.foreach { case (ms, idx, nrtSearcher) =>
          if (sample) s.nrtVisibleMs += ms
          view = Some(idx)
          probes.foreach { qs =>
            val q = qs((ep * sizing.nrtSteps + step) % qs.length)
            op(s"nrt query ${q.id}") {
              span("search.nrt", q.id) {
                val t0 = System.nanoTime()
                val df = span("search.nrt.construct") { nrtSearcher.search(q.query, k) }
                span("search.nrt.execute") { df.collect() }
                Right((System.nanoTime() - t0) / 1e6)
              }
            }.filter(_ => sample).foreach(s.nrtQueryMs += _)
          }
        }
      }
    } finally stream.stop()
    view.foreach(v => lastSegments = MergePolicy.segmentStats(v).count())
    rm(dir); rm(ckpt)
  }

  def cleanup(): Unit = {
    spark.catalog.clearCache()
    rm(work.getAbsolutePath)
  }
}
