package graft.tools

import graft.core.SimpleAnalyzer
import graft.index.{IndexConfig, SegmentMerger}
import graft.search._
import graft.webtext.{PageGen, WebIndex}
import org.apache.spark.sql.SparkSession

/** Diagnostic: per-query latency over the reference query set, labeled by
  * query shape, on a warm merged index. Usage:
  * runMain graft.tools.LatencyProbe <nDocs>; runs `local[SPARK_GRAFT_CPUS]`
  * (default: the JVM's available processors). */
object LatencyProbe {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 200000L
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.parquet.columnarReaderBatchSize", 256) // see InvertedIndex.open
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val p = PageGen.Params()
    val dir = java.nio.file.Files.createTempDirectory("graft-lat-").toString
    val idx = WebIndex.buildGenerated(spark, nDocs, 32, p, dir,
      IndexConfig(SimpleAnalyzer, withPositions = true))
    val (midx, _) = SegmentMerger.merge(idx, s"$dir-merged", computeMetrics = false)
    midx.warm()
    val searcher = new Searcher(midx, ScoringMode.PreciseBM25())

    def shape(q: Query): String = q match {
      case TermQuery(t) => if (t.startsWith("hw")) "term-head" else "term"
      case _: PhraseQuery => "phrase"
      case BooleanQuery(cs, msm) =>
        val kinds = cs.map(_._1).distinct.mkString("+")
        s"bool[$kinds${if (msm > 0) s",msm=$msm" else ""}]"
      case _: PrefixQuery => "prefix"
      case _: TermRangeQuery => "range"
      case other => other.getClass.getSimpleName
    }

    val lats = PageGen.querySet(p).map { q =>
      val t0 = System.nanoTime()
      searcher.search(q, 10).collect()
      (shape(q), (System.nanoTime() - t0) / 1e6)
    }
    lats.sortBy(-_._2).take(12).foreach { case (s, ms) => println(f"SLOW $s%-28s $ms%8.0f ms") }
    lats.groupBy(_._1).toSeq.sortBy(-_._2.map(_._2).max).foreach { case (s, xs) =>
      println(f"SHAPE $s%-28s n=${xs.size}%2d max=${xs.map(_._2).max}%7.0f p50=${xs.map(_._2).sorted.apply(xs.size / 2)}%7.0f ms")
    }
    spark.stop()
    rmTree(s"$dir-merged")
    rmTree(dir)
  }

  private def rmTree(path: String): Unit = Rm.rmTree(path)
}
