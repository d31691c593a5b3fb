package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** Targeted gate runner: dump selected SparkEntry queries (and their oracle
  * SQL) without paying the full Verify sweep — the builder's fast local
  * check for a single new gate.
  *
  * Usage: runMain graft.tools.OneQuery <sfDir> <outDir> <queryName>...;
  * runs `local[SPARK_GRAFT_CPUS]` (default: the JVM's available processors).
  */
object OneQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names = args.drop(2)
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir).coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/$name")
      println(f"[onequery] $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      SparkEntry.oracleSql.get(name).foreach { sql =>
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/$name.sql"), sql)
      }
    }
    spark.stop()
  }
}
