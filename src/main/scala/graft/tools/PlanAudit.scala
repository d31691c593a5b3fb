package graft.tools

import graft.core.SimpleAnalyzer
import graft.index.{IndexBuilder, IndexConfig, InputDoc}
import graft.search._
import graft.webtext.PageGen
import org.apache.spark.sql.SparkSession

/** Physical-plan audit: prints the formatted plans of the hot query paths and
  * greps them for the properties that matter at scale — parquet filter
  * pushdown on `term` (the term-dictionary pruning analog), partition
  * pruning on `kind`, column pruning (ReadSchema), and whole-stage codegen
  * coverage. Run: runMain graft.tools.PlanAudit; runs
  * `local[SPARK_GRAFT_CPUS]` (default: the JVM's available processors). */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val dir = java.nio.file.Files.createTempDirectory("graft-audit-").toString
    val pages = PageGen.synthesize(spark, 2000, 4,
      PageGen.Params(meanLen = 80, vocabSize = 5000))
    val docs = pages.map(p => InputDoc(p.url.hashCode.toLong & 0xFFFFFFL, p.text))
    val idx = IndexBuilder.build(docs, dir, IndexConfig(SimpleAnalyzer))
    val searcher = new Searcher(idx, ScoringMode.PreciseBM25())

    def audit(name: String, df: org.apache.spark.sql.DataFrame,
              expect: Seq[String]): Unit = {
      val plan = df.queryExecution.executedPlan.toString
      println(s"===== $name =====")
      expect.foreach { e =>
        val ok = plan.contains(e)
        println(f"  ${if (ok) "OK  " else "MISS"} $e")
      }
      val pushed = "PushedFilters: \\[[^\\]]*\\]".r.findAllIn(plan).toSeq.distinct
      pushed.foreach(p => println("  " + p.take(150)))
    }

    audit("term postings scan", idx.postings.filter($"term" === "hw0"),
      Seq("PushedFilters: [IsNotNull(term), EqualTo(term,hw0)]"))
    audit("term-range scan", idx.postings.filter($"term" >= "ba" && $"term" <= "bo"),
      Seq("GreaterThanOrEqual(term,ba)"))
    audit("term scored frame", searcher.scored(TermQuery("hw0")),
      Seq("EqualTo(term,hw0)"))
    audit("docs scan (kind pruning)", idx.docs,
      Seq.empty)
    println("ReadSchema of term scan (column pruning):")
    ("ReadSchema: [^\\n]*".r.findFirstIn(
      idx.postings.filter($"term" === "hw0").select("term", "df")
        .queryExecution.executedPlan.toString)).foreach(s => println("  " + s.take(200)))
    // partition pruning: the data dir is partitioned by kind; a postings read
    // must only list kind=1 directories
    val scan = idx.postings.filter($"term" === "hw0").queryExecution.executedPlan.toString
    val pf = "PartitionFilters: \\[[^\\]]*\\]".r.findAllIn(scan).toSeq.distinct
    if (pf.isEmpty) println("  NO PartitionFilters line in the term-scan plan")
    else pf.foreach(p => println("  " + p.take(180)))

    // payload side table: once persisted as parquet (the deployment shape),
    // a PayloadScoreQuery is a PUSHED term filter + one partial aggregation —
    // no full-table scan at 100 TB
    val payDir = java.nio.file.Files.createTempDirectory("graft-audit-pay-").toString
    graft.search.Payloads.build(
        docs.toDF().select($"docId", org.apache.spark.sql.functions.concat_ws("|",
          $"text", org.apache.spark.sql.functions.lit("1.0")).as("text")))
      .write.mode("overwrite").parquet(payDir)
    val payTable = spark.read.parquet(payDir)
    audit("payload score (persisted side table)",
      graft.search.Payloads.payloadScore(payTable, "hw0", graft.search.Payloads.SumPayload),
      Seq("EqualTo(term,hw0)", "HashAggregate"))
    spark.stop()
  }
}
