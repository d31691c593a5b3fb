package graft.webtext

import graft.core.HtmlStrip
import graft.index.{IndexBuilder, IndexConfig, InputDoc, InvertedIndex}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end index build over the north-rule `pages` input shape
  * (`url, warc_ts, html, text, lang`).
  *
  * Responsibilities on top of [[IndexBuilder]]:
  *
  *  1. **Extraction invariant** — re-extract text from `html` with
  *     [[HtmlStrip]] and verify it is byte-identical (UTF-8) to the provided
  *     `text` per url (the north rule's per-row invariant; behavioral contract
  *     of the reference's `HTMLStripCharFilter`,
  *     `lucene/analysis/common/src/java/org/apache/lucene/analysis/charfilter/HTMLStripCharFilter.java:39`).
  *  2. **Deterministic doc ids** — stable (score-tiebreak-stable, resume-stable)
  *     dense ids assigned by global url order, independent of input
  *     partitioning/parallelism (SURVEY.md §7.3 "Checkpoint determinism").
  *  3. **Doc-id ↔ url map** — persisted next to the index so query results can
  *     be joined back to urls (the reference's stored-fields analog: the
  *     source table IS the row store, SURVEY.md §1.1).
  */
object WebIndex {

  /** Count of pages whose re-extracted text differs (byte-wise, UTF-8) from
    * the provided `text` column. 0 on a conforming corpus. Distributed check,
    * no collect. */
  def extractionMismatches(pages: Dataset[Page]): Long = {
    import pages.sparkSession.implicits._
    pages.filter { p =>
      val extracted = HtmlStrip(new String(p.html, java.nio.charset.StandardCharsets.UTF_8))
      !java.util.Arrays.equals(
        extracted.getBytes(java.nio.charset.StandardCharsets.UTF_8),
        p.text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }.count()
  }

  private def partitionOffsets(counts: Array[(Int, Long)]): Map[Int, Long] = {
    val byPid = counts.toMap
    val maxPid = if (counts.isEmpty) -1 else counts.map(_._1).max
    var acc = 0L
    (0 to maxPid).map { pid =>
      val o = pid -> acc
      acc += byPid.getOrElse(pid, 0L)
      o
    }.toMap
  }

  /** Assign dense doc ids by global url order, independent of the input's
    * partitioning: range-repartition on url, sort within partitions, then a
    * count pre-pass turns per-partition counts into global offsets (the
    * standard deterministic zip-with-index; one extra narrow job, no global
    * sort materialization on a single node).
    *
    * Returns `(docId, url, text, warc_ts, lang)`. The url-sorted pages the
    * frame reads stay cached until the caller releases them
    * (`spark.catalog.clearCache()`); [[build]] releases its own.
    */
  def assignDocIds(pages: Dataset[Page], numPartitions: Int): DataFrame =
    assignDocIdsOver(pages, numPartitions)._1

  /** [[assignDocIds]] plus the cached url-sorted pages the returned frame
    * reads, so a caller can release them once the frame is consumed. */
  private def assignDocIdsOver(pages: Dataset[Page], numPartitions: Int)
      : (DataFrame, Dataset[(String, String, java.sql.Timestamp, String)]) = {
    val spark = pages.sparkSession
    import spark.implicits._
    val sorted = pages
      .select($"url", $"text", $"warc_ts", $"lang")
      .repartitionByRange(numPartitions, $"url")
      .sortWithinPartitions($"url")
      .as[(String, String, java.sql.Timestamp, String)]
      .cache()
    val counts: Array[(Int, Long)] = sorted.mapPartitions { it =>
      Iterator.single((TaskContext.getPartitionId(), it.size.toLong))
    }.collect()
    val offsets: Map[Int, Long] = partitionOffsets(counts)
    val bc = spark.sparkContext.broadcast(offsets)
    val withIds = sorted.mapPartitions { it =>
      var next = bc.value(TaskContext.getPartitionId())
      it.map { case (url, text, ts, lang) =>
        val id = next; next += 1
        (id, url, text, ts, lang)
      }
    }.toDF("docId", "url", "text", "warc_ts", "lang")
    (withIds, sorted)
  }

  /** Build (or resume) the inverted index over a pages table at `dir`.
    *
    * Layout written under `dir`:
    *  - `data/`, `term_stats_v<N>/`, `snapshots/`, `analyzer` — the
    *    [[IndexBuilder]] index proper (the snapshot files carry the
    *    collection statistics);
    *  - `urlmap/` — `(docId, url, warc_ts, lang)`.
    */
  def build(pages: Dataset[Page], dir: String,
            config: IndexConfig = IndexConfig(),
            numPartitions: Int = 0,
            resume: Boolean = false): InvertedIndex = {
    val spark = pages.sparkSession
    import spark.implicits._
    val parts =
      if (numPartitions > 0) numPartitions
      else spark.sparkContext.defaultParallelism
    val (ids, sorted) = assignDocIdsOver(pages, parts)
    val withIds = ids.cache()
    withIds.select($"docId", $"url", $"warc_ts", $"lang")
      .write.mode("overwrite").parquet(s"$dir/urlmap")
    // the url map write filled the doc-id cache, which now holds every row
    sorted.unpersist()
    val input = withIds.select($"docId", $"text").as[InputDoc]
    val idx = IndexBuilder.build(input, dir, config, resume)
    withIds.unpersist()
    idx
  }

  /** Index build over the synthetic generator corpus with LATE
    * MATERIALIZATION: doc-id assignment shuffles only `(url, ordinal)` —
    * ~50 bytes/row instead of multi-KB page payloads — and each page's text
    * is generated exactly once, on the reduce side where its doc id lives.
    * On a real table the same shape is "range-shuffle the sort key + a row
    * pointer, fetch payloads after placement" (the classic late-materialized
    * sort); here the generator ordinal IS the row pointer. Compared to
    * synthesize→[[build]] this removes the full-payload range shuffle, the
    * full-corpus cache, and the double generation (range-partitioner sampling
    * + shuffle), yielding the identical index.
    */
  def buildGenerated(spark: SparkSession, nDocs: Long, numPartitions: Int,
                     p: PageGen.Params, dir: String,
                     config: IndexConfig = IndexConfig()): InvertedIndex = {
    import spark.implicits._
    val sorted = spark.range(0, nDocs, 1, numPartitions)
      .map(i => (PageGen.urlOf(i, p), i))
      .toDF("url", "ord")
      .repartitionByRange(numPartitions, $"url")
      .sortWithinPartitions($"url")
      .as[(String, Long)]
      .cache()
    val counts: Array[(Int, Long)] = sorted.mapPartitions { it =>
      Iterator.single((TaskContext.getPartitionId(), it.size.toLong))
    }.collect()
    val bc = spark.sparkContext.broadcast(partitionOffsets(counts))
    val withIds = sorted.mapPartitions { it =>
      var next = bc.value(TaskContext.getPartitionId())
      it.map { case (url, ord) => val id = next; next += 1; (id, url, ord) }
    }.toDF("docId", "url", "ord").as[(Long, String, Long)]
    withIds.map { case (id, url, ord) =>
      (id, url, PageGen.tsOf(ord), PageGen.langOf(ord, p))
    }.toDF("docId", "url", "warc_ts", "lang")
      .write.mode("overwrite").parquet(s"$dir/urlmap")
    val cdfBc = spark.sparkContext.broadcast(PageGen.zipfCdf(p))
    val input = withIds.map { case (id, _, ord) =>
      InputDoc(id, PageGen.textOf(ord, p, cdfBc.value))
    }
    val idx = IndexBuilder.build(input, dir, config)
    sorted.unpersist()
    idx
  }

  /** The url map of an index built by [[build]]. */
  def urlMap(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/urlmap")
}
