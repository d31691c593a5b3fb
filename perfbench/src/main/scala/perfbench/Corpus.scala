package perfbench

import graft.webtext.{Page, PageGen}
import org.apache.spark.sql.{Dataset, SparkSession}

/** The benchmark corpus: page `i` is the generator's page at ordinal
  * `i * Stride`.
  *
  * `PageGen` seeds each page's random stream with `seed * 1000003 + ordinal`,
  * and the streams of consecutive ordinals are correlated: over 1,500
  * consecutive pages the total text size swings threefold from seed to seed
  * (1.1 to 3.2 MB for seeds 1 to 10). Spreading the ordinals by a prime
  * stride makes the streams independent (2.25 to 2.34 MB for the same seeds),
  * so runs with different seeds measure the same amount of work. */
object Corpus {
  val Stride = 7919L

  def ordinal(i: Long): Long = i * Stride

  def text(i: Long, p: PageGen.Params, cdf: Array[Double]): String = PageGen.textOf(ordinal(i), p, cdf)

  def url(i: Long, p: PageGen.Params): String = PageGen.urlOf(ordinal(i), p)

  /** Pages 0 until n, generated in `parts` partitions. */
  def pages(spark: SparkSession, n: Long, parts: Int, p: PageGen.Params): Dataset[Page] = {
    import spark.implicits._
    val cdf = PageGen.zipfCdf(p)
    spark.range(0, n, 1, parts).map(i => PageGen.page(ordinal(i), p, cdf))
  }
}
