package graft.tools

import graft.core.SimpleAnalyzer
import graft.index._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Diagnostic: isolate the cost phases of a small-corpus index build —
  * tokenize-only vs segment-flush vs parquet write (zstd vs snappy).
  * Usage: runMain graft.tools.BuildProbe [sfDir]; runs
  * `local[SPARK_GRAFT_CPUS]` (default: the JVM's available processors). */
object BuildProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docId"), col("text")).as[InputDoc]
      .repartition(cpus).cache()
    println("docs=" + docs.count())

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"BUILDPROBE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    // A: tokenize only
    timed("tokenize-only") {
      docs.mapPartitions { it =>
        var n = 0L
        val sink = new graft.core.TokenSink {
          override def accept(src: String, start: Int, end: Int, position: Int): Unit = n += 1
        }
        it.foreach(d => SimpleAnalyzer.tokenizeRaw(d.text, sink))
        Iterator.single(n)
      }.reduce(_ + _)
    }

    // B: flush to StageRows, count only (no write)
    timed("flush-count") {
      docs.mapPartitions { it =>
        val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
        var n = 0L
        IndexBuilder.flusherFor(cfg, 0L, 0, it).foreach(_ => n += 1)
        Iterator.single(n)
      }.reduce(_ + _)
    }

    // C/D: full build incl. write (zstd is wired in IndexBuilder)
    (1 to 2).foreach { r =>
      val dir = java.nio.file.Files.createTempDirectory("graft-bp-").toString
      timed(s"full-build-$r")(IndexBuilder.build(docs, dir, IndexConfig(SimpleAnalyzer, withPositions = true)))
      graft.tools.Rm.rmTree(dir)
    }
    spark.stop()
  }
}

object Rm {
  def rmTree(path: String): Unit = {
    import java.nio.file._
    val root = Paths.get(path)
    if (Files.exists(root)) {
      Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
    }
  }
}
