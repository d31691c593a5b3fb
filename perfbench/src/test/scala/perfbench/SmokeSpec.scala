package perfbench

import graft.index.InvertedIndex
import graft.search.{ScoringMode, Searcher}
import graft.webtext.PageGen
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{asc, desc}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** A tiny-size run through the same code path as a real run, the oracle
  * against the engine's exhaustive searcher, and the query path each
  * workload's head terms take. */
class SmokeSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = {
    // the forked test JVM's tmpdir lies under target/, created on first use
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(System.getProperty("java.io.tmpdir")))
    java.nio.file.Files.createTempDirectory("perfbench-smoke-").toString
  }
  private lazy val spark: SparkSession = Main.session(work)

  override def afterAll(): Unit = {
    spark.stop()
    graft.tools.Rm.rmTree(work)
  }

  private def declared(key: String): Set[String] = {
    val json = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("..", "BENCHMARK.json")), "UTF-8")
    val section = json.substring(json.indexOf("\"" + key + "\""))
    val body = section.substring(section.indexOf('['), section.indexOf(']') + 1)
    "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(body).map(_.group(1)).toSet
  }

  /** The directory of a tiny served index (seed 5), kept until the suite ends. */
  private lazy val served: String = {
    val w = new Workloads(spark, new java.io.File(work, "served"), 5L, Sizing.Tiny)
    w.setup(new Samples)
    w.servedDir
  }

  test("the oracle ranks like the engine's exhaustive searcher") {
    val seed = 5L
    val idx = InvertedIndex.open(spark, served)
    val exhaustive = new Searcher(idx, ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)
    val oracle = new Oracle(PageGen.Params(seed = seed), Sizing.Tiny.corpusDocs)
    QueryMix.build(seed, PageGen.Params(seed = seed), Sizing.Tiny.corpusDocs, perShape = 3).foreach { q =>
      val engine = exhaustive.scored(q.query).orderBy(desc("score"), asc("docId")).limit(20)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val problem = TopK.compare(engine.take(10), oracle.topK(q.query, 20), 10, 20, q.constantScore)
      assert(problem.isEmpty, s"${q.query}: $problem")
    }
  }

  test("term_head takes the pruned single-term path on serve and only there") {
    val threshold = new Searcher(InvertedIndex.open(spark, served)).pruneThreshold
    Seq(1L, 2L, 3L).foreach { seed =>
      val p = PageGen.Params(seed = seed)
      Main.Workloads.foreach { workload =>
        val sizing = Sizing.of(workload)
        val mix = QueryMix.build(seed, p, sizing.corpusDocs, sizing.perShape)
        val problem = QueryMix.headPathProblem(mix, new Oracle(p, sizing.corpusDocs).docFreq,
          threshold, sizing.headsPruned)
        assert(problem.isEmpty, s"$workload seed $seed: $problem")
      }
    }
  }

  test("tiny traced run: no failures, every declared metric") {
    val a = Main.Args("serve", 3L, 1.0, trace = true, s"$work/tiny", s"$work/tiny.json", Sizing.Tiny)
    val out = Main.execute(a, spark)
    assert(out.failed == 0, out.detail)
    assert(out.attempted > 0)
    assert(out.endToEnd.keySet == declared("end_to_end"))
    assert(out.metrics.keySet == declared("per_layer"))
    assert(out.endToEnd.values.forall(m => m.value > 0), out.endToEnd)
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(a.report)))
  }
}
