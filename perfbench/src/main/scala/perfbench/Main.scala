package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point (launched by `run.py`, which builds the classpath).
  *
  * {{{
  * Main --workload serve|small --seed N --seconds S --trace 0|1
  *      --work DIR --report FILE
  * }}}
  *
  * Prints a `host` line, a `detail` line (sample counts, failures) and, last,
  * the result object. With `--trace 1` the run is followed by a traced pass
  * whose per-layer metrics replace the end-to-end ones in the result. */
object Main {

  val Workloads: Seq[String] = Seq("serve", "small")

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, report: String, sizing: Sizing)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Args(w, need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("work"), need("report"),
      Sizing.of(w))
  }

  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      // see InvertedIndex.open: bounds per-task buffering of postings scans
      .config("spark.sql.parquet.columnarReaderBatchSize", 256)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  final case class Metric(value: Double, unit: String)

  /** End-to-end metrics of an untraced run, plus their sample counts. */
  def endToEnd(w: Workloads, s: Samples): (Map[String, Metric], Map[String, Int]) = {
    val m = Map(
      "setup_s" -> Metric(Stats.median(s.setupS.toSeq), "s"),
      "build_docs_per_s" -> Metric(w.N / Stats.median(s.buildS.toSeq), "docs/s"),
      "index_bytes_per_text_byte" -> Metric(s.indexBytesPerTextByte, "ratio"),
      "query_p50_ms" -> Metric(Stats.percentile(s.queryMs.toSeq, 50), "ms"),
      "query_p80_ms" -> Metric(Stats.percentile(s.queryMs.toSeq, 80), "ms"),
      "batch_queries_per_s" -> Metric(w.batchMix.length / Stats.median(s.batchS.toSeq), "queries/s"),
      "serve_cache_mb" -> Metric(s.cacheMb, "MB"))
    val n = Map(
      "setup_s" -> s.setupS.length, "build_docs_per_s" -> s.buildS.length,
      "index_bytes_per_text_byte" -> 1, "query_p50_ms" -> s.queryMs.length,
      "query_p80_ms" -> s.queryMs.length, "batch_queries_per_s" -> s.batchS.length,
      "serve_cache_mb" -> 1)
    (m, n)
  }

  /** One run: set-up, then the query pass (at least `seconds`) and the
    * batches. */
  def measure(w: Workloads, a: Args, phases: collection.mutable.LinkedHashMap[String, Double]): Samples = {
    def phase(name: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      phases(name) = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] phase $name ${phases(name)}%.1f s")
    }
    val s = new Samples
    phase("setup")(w.setup(s))
    phase("queries") {
      w.warmQueries()
      w.queryPhase(s, a.seconds)
    }
    phase("batch")((0 until 9).foreach(_ => w.batch(s)))
    s
  }

  /** The traced pass: every layer once, with spans and Spark counters. */
  def traced(w: Workloads, spark: SparkSession): (Map[String, Metric], Tracer) = {
    val tr = new Tracer(spark)
    w.tracer = Some(tr)
    val s = new Samples
    val plain = new Samples
    w.tracedBuildOnce(s)
    val cacheMb = w.rewarm()
    w.pairedQueryPasses(plain, s)
    (0 until 2).foreach { _ => w.batch(s); w.untraced(w.batch(plain)) }
    w.nrtEpisode(s)
    w.tracer = None
    tr.close()
    val kernels = Kernels.measure(graft.webtext.PageGen.Params())

    def one(name: String): Span = tr.named(name).last
    def sec(sp: Span) = sp.durNs / 1e9
    def ms(sp: Span) = sp.durNs / 1e6
    def frac(a: Long, b: Long) = if (b == 0) 0.0 else a.toDouble / b
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Metric]
    val assign = one("webtext.assign_ids")
    out("webtext.assign_ids.s") = Metric(sec(assign), "s")
    out("webtext.assign_ids.shuffle_write_mb") = Metric(tr.inclusive(assign).shuffleWriteBytes / 1e6, "MB")
    Seq("flush", "merge").foreach { phase =>
      val sp = one(s"index.$phase")
      val c = tr.inclusive(sp)
      out(s"index.$phase.s") = Metric(sec(sp), "s")
      out(s"index.$phase.task_ms") = Metric(c.taskMs.toDouble, "ms")
      out(s"index.$phase.cpu_frac") = Metric(frac(c.cpuMs, c.taskMs), "ratio")
      out(s"index.$phase.gc_frac") = Metric(frac(c.gcMs, c.taskMs), "ratio")
      if (phase == "merge") out("index.merge.shuffle_write_mb") = Metric(c.shuffleWriteBytes / 1e6, "MB")
      out(s"index.$phase.bytes_written_mb") = Metric(c.outputBytes / 1e6, "MB")
    }
    val build = one("index.build")
    val bc = tr.inclusive(build)
    out("index.build.jobs") = Metric(bc.jobs.toDouble, "count")
    out("index.build.parallelism") = Metric(bc.taskMs / 1e3 / sec(build), "ratio")
    out("index.warm.s") = Metric(sec(one("index.warm")), "s")
    out("index.warm.cache_mb") = Metric(cacheMb, "MB")

    val shapeOf = w.queryMix.map(q => q.id -> q.shape).toMap
    val queries = tr.named("search.query").groupBy(sp => shapeOf(sp.query))
    QueryMix.Shapes.foreach { shape =>
      val qs = queries.getOrElse(shape, Nil)
      def child(sp: Span, name: String) = tr.children(sp).filter(_.name == name).map(ms).sum
      val cs = qs.map(tr.inclusive)
      out(s"search.$shape.construct_ms") = Metric(Stats.mean(qs.map(child(_, "search.construct"))), "ms")
      out(s"search.$shape.execute_ms") = Metric(Stats.mean(qs.map(child(_, "search.execute"))), "ms")
      out(s"search.$shape.jobs") = Metric(Stats.mean(cs.map(_.jobs.toDouble)), "count")
      out(s"search.$shape.stages") = Metric(Stats.mean(cs.map(_.stages.toDouble)), "count")
      out(s"search.$shape.task_ms") = Metric(Stats.mean(cs.map(_.taskMs.toDouble)), "ms")
    }
    val batch = one("search.batch")
    out("search.batch.s") = Metric(sec(batch), "s")
    out("search.batch.jobs") = Metric(tr.inclusive(batch).jobs.toDouble, "count")
    out("search.batch.task_ms") = Metric(tr.inclusive(batch).taskMs.toDouble, "ms")
    val appends = tr.named("streaming.append")
    out("streaming.append.ms") = Metric(Stats.mean(appends.map(ms)), "ms")
    out("streaming.append.jobs") = Metric(Stats.mean(appends.map(tr.inclusive(_).jobs.toDouble)), "count")
    out("streaming.append.task_ms") = Metric(Stats.mean(appends.map(tr.inclusive(_).taskMs.toDouble)), "ms")
    out("streaming.reopen.ms") = Metric(Stats.mean(tr.named("streaming.reopen").map(ms)), "ms")
    out("search.nrt.construct_ms") = Metric(Stats.mean(tr.named("search.nrt.construct").map(ms)), "ms")
    out("search.nrt.execute_ms") = Metric(Stats.mean(tr.named("search.nrt.execute").map(ms)), "ms")
    out("search.nrt.jobs") = Metric(Stats.mean(tr.named("search.nrt").map(tr.inclusive(_).jobs.toDouble)), "count")
    out("index.segments") = Metric(w.lastSegments.toDouble, "count")
    out("nrt.visible_p50_ms") = Metric(Stats.median(s.nrtVisibleMs.toSeq), "ms")
    out("nrt.query_p50_ms") = Metric(Stats.median(s.nrtQueryMs.toSeq), "ms")
    kernels.foreach { case (name, v) =>
      out(name) = Metric(v, if (name.endsWith("mb_per_s")) "MB/s" else if (name.contains("postings")) "postings/s" else "blocks/s")
    }
    // tracing overhead: traced minus untraced, measured back to back on the
    // same warm index (positive = slower for latencies, faster for rates)
    def e2e(x: Samples) = Map(
      "query_p50_ms" -> Metric(Stats.percentile(x.queryMs.toSeq, 50), "ms"),
      "query_p80_ms" -> Metric(Stats.percentile(x.queryMs.toSeq, 80), "ms"),
      "batch_queries_per_s" -> Metric(w.batchMix.length / Stats.median(x.batchS.toSeq), "queries/s"))
    val (withTrace, without) = (e2e(s), e2e(plain))
    withTrace.foreach { case (name, m) =>
      out(s"trace.overhead.$name") = Metric(m.value - without(name).value, m.unit)
    }
    (out.toMap, tr)
  }

  private def hostJson(a: Args, spark: SparkSession): String = {
    val memTotalKb = scala.util.Try {
      scala.io.Source.fromFile("/proc/meminfo").getLines()
        .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong).get
    }.toOption
    Json.obj(
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "mem_total_kb" -> memTotalKb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"),
      "spark" -> spark.version,
      "master" -> spark.sparkContext.master,
      "commit" -> sys.env.getOrElse("PERFBENCH_COMMIT", "unknown"),
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds, "trace" -> a.trace,
      "corpus_docs" -> a.sizing.corpusDocs, "nrt_batch_docs" -> a.sizing.nrtBatchDocs,
      "nrt_steps" -> a.sizing.nrtSteps, "setup_reps" -> Sizing.SetupReps)
  }

  /** What one run produced. `metrics` is what the run reports: the
    * end-to-end metrics, or with `trace` the per-layer ones. */
  final case class Outcome(attempted: Long, failed: Long, metrics: Map[String, Metric],
                           endToEnd: Map[String, Metric], host: String, detail: String) {
    def resultJson: String = Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, m) =>
        k -> Json.Raw(Json.obj("value" -> m.value, "unit" -> m.unit))
      }: _*)))
  }

  def execute(a: Args, spark: SparkSession): Outcome = {
    val host = hostJson(a, spark)
    val w = new Workloads(spark, new java.io.File(a.work, "data"), a.seed, a.sizing)
    try {
      val phases = collection.mutable.LinkedHashMap.empty[String, Double]
      val s = measure(w, a, phases)
      val (e2e, counts) =
        try endToEnd(w, s)
        catch {
          case e: IllegalArgumentException =>
            System.err.println(s"perfbench: no metrics: ${e.getMessage}; failures: ${w.failures.mkString(" | ")}")
            throw e
        }
      val (metrics, spans) =
        if (a.trace) { val (m, tr) = traced(w, spark); (m, Some(tr)) } else (e2e, None)
      val detail = Json.obj(
        "samples" -> counts, "phase_s" -> phases.toMap, "failures" -> w.failures.toSeq,
        "end_to_end" -> e2e.map { case (k, m) => k -> m.value })
      java.nio.file.Files.writeString(java.nio.file.Paths.get(a.report),
        Json.obj("host" -> Json.Raw(host), "detail" -> Json.Raw(detail),
          "spans" -> Json.Raw(spans.map(_.toJson).getOrElse("[]"))) + "\n")
      Outcome(w.attempted, w.failed, metrics, e2e, host, detail)
    } finally w.cleanup()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    try {
      val out = execute(a, spark)
      println("host " + out.host)
      println("detail " + out.detail)
      println(out.resultJson)
    } finally spark.stop()
  }
}
