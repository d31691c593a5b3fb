package graft

import graft.core.SimpleAnalyzer
import graft.index.{IndexConfig, SegmentMerger}
import graft.search.{ScoringMode, Searcher}
import graft.webtext.{PageGen, WebIndex}
import org.apache.spark.sql.SparkSession

/** Round benchmark (driver contract: ONE JSON line on stdout; the same line
  * is also written to `BENCH.json` in the working directory because sbt
  * prefixes stdout with `[info]`, which broke driver-side parsing in r1).
  *
  * Three phases:
  *  1. the driver-harness operator queries on `SPARK_GRAFT_SF_DIR` at
  *     `local[SPARK_GRAFT_CPUS]` (default: the JVM's available processors)
  *     — per-query seconds in `"queries"`;
  *  2. the north-rule scaling run: the identical index build (late-mat url
  *     doc-id assignment → segment build → salted merge) over the identical
  *     deterministic webtext corpus at `local[2]` (N) and `local[8]` (4N)
  *     — both below this box's memory-bandwidth saturation, so the ratio
  *     measures job scaling, the property an N- vs 4N-executor cluster has —
  *     plus `local[32]` for the hardware-ceiling-bound secondary pair; input
  *     and shuffle partitioning fixed so only core count varies. Reports
  *     docs/sec at each, both efficiencies, and per-point task evidence
  *     (achieved parallelism, CPU fraction, GC fraction, bytes written) so a
  *     slow/contended environment is diagnosable from the JSON alone
  *     (BASELINE.md §2-3);
  *  3. BM25 top-k p95 latency over the reference query set (FIXTURES.md §2)
  *     on the merged index at `local[SPARK_GRAFT_CPUS]`.
  *
  * Env knobs: `SPARK_GRAFT_BENCH_DOCS` (default 1500000) scales phase 2/3;
  * `SPARK_GRAFT_SCALING=0` skips phases 2-3; `SPARK_GRAFT_QUERIES=0` skips
  * phase 1 (fast iteration loops).
  */
object Bench {

  private def session(cores: Int, shufflePartitions: Int,
                      smallScanBatch: Boolean = false): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.ui.enabled", "false")
    // index-wholesale sessions (build/merge/serve): bound the vectorized
    // reader batch so threads × (rows × multi-KB postings payload) stays in
    // heap — see InvertedIndex.open scaladoc
    val b2 = if (smallScanBatch) b.config("spark.sql.parquet.columnarReaderBatchSize", 256) else b
    val s = b2.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def rmTree(path: String): Unit = graft.tools.Rm.rmTree(path)

  /** `s` as a JSON string literal. */
  private def jsonString(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }.mkString("\"", "", "\"")

  /** Per-build task-level evidence: achieved parallelism, CPU/GC fractions,
    * volume written — enough to tell "the job stopped scaling" apart from
    * "the environment throttled CPU or IO" straight from BENCH.json. */
  private final class TaskProbe(spark: SparkSession) {
    private val wall = new java.util.concurrent.atomic.AtomicLong
    private val cpu = new java.util.concurrent.atomic.AtomicLong
    private val gc = new java.util.concurrent.atomic.AtomicLong
    private val outBytes = new java.util.concurrent.atomic.AtomicLong
    private val shufBytes = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
        val m = te.taskMetrics
        if (m != null) {
          wall.addAndGet(m.executorRunTime)
          cpu.addAndGet(m.executorCpuTime / 1000000)
          gc.addAndGet(m.jvmGCTime)
          outBytes.addAndGet(m.outputMetrics.bytesWritten)
          shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def json(wallSec: Double): String = {
      Thread.sleep(300) // listener bus drain
      val tw = math.max(wall.get, 1L)
      f""""task_sec":${tw / 1e3}%.1f,"parallelism":${tw / 1e3 / wallSec}%.2f,""" +
        f""""cpu_frac":${cpu.get.toDouble / tw}%.2f,"gc_frac":${gc.get.toDouble / tw}%.2f,""" +
        f""""bytes_written":${outBytes.get},"shuffle_write_bytes":${shufBytes.get}"""
    }
  }

  /** Full build incl. merge at `cores`, repeated `SPARK_GRAFT_BUILD_REPS`
    * times (default 2) taking the MIN wall — per-point noise reduction for
    * the scaling ratio: this box throttles per-core throughput in windows
    * (BASELINE.md §3: n8 task-CPU-seconds swing up to 2x at identical bytes
    * written), noise only ever ADDS time, and a throttle window rarely spans
    * both reps of the same point. Every rep's wall is reported in the
    * point's evidence (`walls`), so the JSON shows the spread, not just the
    * chosen value. Returns (min wall, evidence json of the min rep, merged
    * dir of the last rep). */
  private def timedBuild(cores: Int, nDocs: Long, p: PageGen.Params,
                         keep: Boolean = false): (Double, String, String) = {
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BUILD_REPS", "2").toInt)
    val results = (1 to reps).map { r =>
      timedBuildOnce(cores, nDocs, p, keep = keep && r == reps)
    }
    val walls = results.map(_._1)
    val best = walls.indexOf(walls.min)
    val evidence = results(best)._2 +
      s""","walls":[${walls.map(w => f"$w%.1f").mkString(",")}]"""
    (walls.min, evidence, results.last._3)
  }

  /** One build+merge at `cores`; returns (wall seconds, evidence json,
    * merged dir).
    *
    * The JOB is identical across core counts — 64 input partitions, 64
    * shuffle partitions, same deterministic corpus bytes — only the number of
    * executor threads varies, which is the sandbox stand-in for an N- vs
    * 4N-executor cluster running the same partitioned job.
    *
    * Deletes its work dirs unless `keep` (the per-round driver disk is
    * finite). */
  private def timedBuildOnce(cores: Int, nDocs: Long, p: PageGen.Params,
                             keep: Boolean = false): (Double, String, String) = {
    val spark = session(cores, shufflePartitions = 64, smallScanBatch = true)
    val probe = new TaskProbe(spark)
    val dir = java.nio.file.Files.createTempDirectory(s"graft-bench-n$cores-").toString
    val t0 = System.nanoTime()
    val idx = WebIndex.buildGenerated(spark, nDocs, 64, p, dir,
      IndexConfig(SimpleAnalyzer, withPositions = true))
    SegmentMerger.merge(idx, s"$dir-merged", computeMetrics = false)
    val sec = (System.nanoTime() - t0) / 1e9
    val evidence = probe.json(sec)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    if (!keep) { rmTree(s"$dir-merged"); rmTree(dir) }
    (sec, evidence, s"$dir-merged")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    // sized so parallel work amortizes the ~10 s of per-build serial overhead
    // (driver actions, job scheduling, parquet commits) — Amdahl demands
    // ~1000 s of single-core-equivalent work for eff >= 0.8 at 4x cores
    val benchDocs = sys.env.getOrElse("SPARK_GRAFT_BENCH_DOCS", "1500000").toLong
    val doScaling = sys.env.getOrElse("SPARK_GRAFT_SCALING", "1") != "0"
    val doQueries = sys.env.getOrElse("SPARK_GRAFT_QUERIES", "1") != "0"
    val p = PageGen.Params()

    // ---- phase 1: driver-harness operator queries
    var qs = "{}"
    var gateErrors = "{}"
    var total = 0.0
    var prepSec = 0.0
    var evQueries = ""
    if (doQueries) {
      val spark1 = session(cpus, cpus)
      val probe1 = new TaskProbe(spark1)
      val tPhase1 = System.nanoTime()
      // build the shared documents index up front so per-query seconds
      // measure the QUERY, not whichever query happens to run first in the
      // per-process Indexes cache; variant-index builds (stop/title/deletes/
      // snapshot/shingle) stay attributed to their gate queries — that build
      // IS those operators' cost
      val tPrep = System.nanoTime()
      Indexes.documentsIndex(spark1, sfDir)
      // the title pseudo-field index is shared by q46/q47/q48 — persist it in
      // prep like the documents index so those gates measure the QUERY, not
      // whichever of them happens to build the field first (r2: q47 3.8 s)
      Indexes.titleIndex(spark1, sfDir)
      prepSec = (System.nanoTime() - tPrep) / 1e9
      // a gate that throws is an error, never a timing: it is reported under
      // "gate_errors" and left out of "queries" and the total
      val (results, errors) = SparkEntry.queries.toSeq.partitionMap { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark1, sfDir).count(); Left(name -> (System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable => Right(name -> s"${e.getClass.getName}: ${e.getMessage}") }
      }
      // same environment evidence as phase 2, so a throttled/contended box is
      // diagnosable for the per-query numbers too (r2 verdict: phases 1 and 3
      // carried none, so a 4.5x serving discrepancy couldn't be adjudicated)
      evQueries = probe1.json((System.nanoTime() - tPhase1) / 1e9)
      spark1.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
      gateErrors = errors.map { case (k, msg) => "\"" + k + "\":" + jsonString(msg) }
        .mkString("{", ",", "}")
      // total keeps the r1 semantics (shared-index build included) — the
      // prep split is reported separately for per-query readability
      total = prepSec + results.map(_._2).sum
    }

    var scalingJson = ""
    if (doScaling) {
      // ---- phase 2: index-build throughput at N and 4N executor threads.
      // Primary pair is local[2] vs local[8]: both points sit below this
      // box's SMT/memory-bandwidth saturation (~10-16 effective cores for
      // memory-heavy work), so the ratio measures the JOB's scaling behavior
      // — the property a real N- vs 4N-executor cluster (with 4x memory
      // bandwidth) exercises. The 8-vs-32 pair is also reported; it is
      // hardware-ceiling-bound on shared silicon (per-core CPU throughput
      // halves at 32 threads; see BASELINE.md §3 analysis).
      timedBuildOnce(8, 2000, p) // JVM warmup: classloading + codegen, untimed
      // Primary pair runs as MATCHED CYCLES — (n2, n8) adjacent in time,
      // repeated — and the efficiency is the best cycle's ratio: the box
      // throttles per-core throughput in windows (BASELINE.md §3), and a
      // window that slows BOTH halves of a cycle uniformly cancels in the
      // ratio, while the n2,n2,n8,n8 ordering let one window hit only one
      // side. All cycle walls are reported; absolute throughputs and
      // evidence come from the best cycle (single-run provenance), min
      // walls ride alongside as sec_nX_min.
      val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BUILD_REPS", "2").toInt)
      val cycles = (1 to reps).map { _ =>
        val (w2, e2, _) = timedBuildOnce(2, benchDocs, p)
        val (w8, e8, _) = timedBuildOnce(8, benchDocs, p)
        (w2, w8, e2, e8)
      }
      // Reporting provenance (r4 advice): the absolute fields derive from ONE
      // named cycle — the best-ratio cycle carries sec_n2/sec_n8, docs/sec
      // and evidence, so docs_per_sec_n8/(4*docs_per_sec_n2) ==
      // scaling_efficiency_best_cycle exactly. The full per-cycle wall
      // spread stays in `walls`, the min walls in `sec_n2_min`/`sec_n8_min`,
      // and the MEDIAN cycle ratio (lower-middle for even rep counts) in
      // `scaling_efficiency_median`.
      val ratios = cycles.map { case (w2, w8, _, _) => w2 / w8 }
      val bestCycle = cycles.maxBy { case (w2, w8, _, _) => w2 / w8 }
      val effMedian = ratios.sorted.apply((ratios.size - 1) / 2) / 4.0
      // The headline `scaling_efficiency` can never report scaling above
      // 1.0: a cycle whose ratio claims more than linear scaling (a throttle
      // window that slowed only its n2 half) is excluded and listed under
      // `excluded_cycles`, and the headline is the lower of the median-cycle
      // and min-walls efficiencies of the remaining cycles — each at most
      // 1.0 — or null when no cycle remains.
      val (kept, excluded) = cycles.indices.partition(i => ratios(i) / 4.0 <= 1.0)
      val effHeadline =
        if (kept.isEmpty) "null"
        else {
          val keptEff = kept.map(ratios(_) / 4.0).sorted
          val minWalls = kept.map(cycles(_)._1).min / (4.0 * kept.map(cycles(_)._2).min)
          f"${math.min(keptEff((keptEff.size - 1) / 2), minWalls)}%.3f"
        }
      val excludedJson = excluded.map(i => f"""{"cycle":$i,"efficiency":${ratios(i) / 4.0}%.3f}""")
        .mkString("[", ",", "]")
      val sec2 = bestCycle._1
      val secN = bestCycle._2
      val ev2 = bestCycle._3 +
        s""","walls":[${cycles.map(c => f"${c._1}%.1f").mkString(",")}]"""
      val evN = bestCycle._4 +
        s""","walls":[${cycles.map(c => f"${c._2}%.1f").mkString(",")}]"""
      val (sec4N, ev4N, mergedDir) = timedBuild(32, benchDocs, p, keep = true)
      val dps2 = benchDocs / sec2
      val dpsN = benchDocs / secN
      val dps4N = benchDocs / sec4N
      val eff = bestCycle._1 / (4.0 * bestCycle._2)
      val effHw = dps4N / (4.0 * dpsN)

      // ---- phase 3: BM25 top-k p95 latency on the merged index built by
      // the 32-core phase-2 run (same corpus — no redundant rebuild)
      val spark3 = session(cpus, cpus, smallScanBatch = true)
      val probe3 = new TaskProbe(spark3)
      val tPhase3 = System.nanoTime()
      // serving mode: postings + stats pinned in cluster cache (the
      // page-cache-resident index analog) — queries scan memory, not parquet
      val midx = graft.index.InvertedIndex.open(spark3, mergedDir).warm()
      val searcher = new Searcher(midx, ScoringMode.PreciseBM25())
      val queries = PageGen.querySet(p)
      val lat = queries.map { q =>
        val t0 = System.nanoTime()
        searcher.search(q, 10).collect()
        (System.nanoTime() - t0) / 1e6
      }.sorted
      val p50 = lat(lat.size / 2)
      val p95 = lat(math.min(lat.size - 1, (lat.size * 0.95).toInt))
      // batched mode: the SAME query set in one call — on this warm index
      // the queries whose postings fit one slice run their kernels on the
      // driver with no job, the other routed ones share one slice plan, and
      // the shapes without a route run their own search
      val tb = System.nanoTime()
      val batchRows = searcher.searchBatch(
        queries.zipWithIndex.map { case (q, i) => (s"q$i", q) }, 10).count()
      val batchSec = (System.nanoTime() - tb) / 1e9
      val evServing = probe3.json((System.nanoTime() - tPhase3) / 1e9)
      spark3.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      rmTree(mergedDir)
      rmTree(mergedDir.stripSuffix("-merged"))

      scalingJson =
        f""","index_build":{"docs":$benchDocs,"sec_n2":$sec2%.1f,"sec_n8":$secN%.1f,"sec_n32":$sec4N%.1f,""" +
        f""""sec_n2_min":${cycles.map(_._1).min}%.1f,"sec_n8_min":${cycles.map(_._2).min}%.1f,""" +
        f""""docs_per_sec_n2":$dps2%.0f,"docs_per_sec_n8":$dpsN%.0f,"docs_per_sec_n32":$dps4N%.0f,""" +
        s""""scaling_efficiency":$effHeadline,""" + f""""scaling_efficiency_best_cycle":$eff%.3f,""" +
        s""""excluded_cycles":$excludedJson,""" +
        f""""scaling_efficiency_median":$effMedian%.3f,""" +
        f""""cycle_ratios":[${ratios.map(r => f"${r / 4.0}%.3f").mkString(",")}],""" +
        f""""scaling_efficiency_n8_n32_hw_bound":$effHw%.3f,""" +
        s""""evidence_n2":{$ev2},"evidence_n8":{$evN},"evidence_n32":{$ev4N}},""" +
        f""""bm25_topk":{"n_queries":${lat.size},"p50_ms":$p50%.0f,"p95_ms":$p95%.0f,""" +
        f""""batch_all_sec":$batchSec%.2f,"batch_rows":$batchRows,""" +
        s""""evidence_serving":{$evServing}}"""
    }

    val evQ = if (evQueries.nonEmpty) s""","evidence_queries":{$evQueries}""" else ""
    val json = f"""{"metric":"total","value":$total,"unit":"sec","prep_sec":$prepSec%.2f,"queries":$qs,"gate_errors":$gateErrors,"sf":"$sfDir"$evQ$scalingJson}"""
    // sbt's [info]/[error] stdout prefixes broke driver parsing of r1; the
    // file copy is the machine-readable channel
    java.nio.file.Files.writeString(java.nio.file.Paths.get("BENCH.json"), json + "\n")
    println(json)
  }
}
