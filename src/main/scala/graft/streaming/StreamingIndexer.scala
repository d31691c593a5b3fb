package graft.streaming

import graft.index.{IndexBuilder, IndexConfig, InputDoc, InvertedIndex}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** Incremental (near-real-time) index ingestion via Structured Streaming —
  * the Spark-native re-expression of the reference's NRT surface
  * (`lucene/core/src/java/org/apache/lucene/index/DirectoryReader.java:48`
  * `openIfChanged`, `lucene/core/src/java/org/apache/lucene/search/SearcherManager.java:53`):
  *
  *  - each micro-batch flushes new immutable segments (append-only parquet
  *    under a per-batch segment-id namespace — exactly the "flushed but not
  *    yet merged" DWPT segments of the reference);
  *  - each batch's commit records the batch's doc count and Σdoclen, counted
  *    while its segments were written, in the snapshot it publishes, and
  *    refreshes the global term statistics; a reader that re-opens the
  *    index ([[reopen]]) sums the snapshot's entries, so it sees a
  *    consistent point-in-time view with no Spark job — the `maybeRefresh`
  *    analog;
  *  - foreachBatch is at-least-once, so replay safety comes from the SINK:
  *    each batch writes into its own `batchNs` partition with dynamic
  *    partition overwrite ([[graft.index.IndexBuilder.appendBatch]]), so a
  *    replayed batch REPLACES its earlier partial write instead of appending
  *    duplicates — effectively-once, mirroring the two-phase commit of
  *    `IndexWriter.commit`
  *    (`lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3582,4063`);
  *  - periodic compaction of the accumulated small segments is
  *    [[graft.index.SegmentMerger]], the `TieredMergePolicy` analog — run it
  *    out-of-band like the reference's background merge threads.
  *
  * Scale note: at production scale the per-batch term-stats refresh is the
  * only non-append work. It is a map-side-combined aggregation over the
  * postings rows' scalar columns (not their payloads), but it re-reads the
  * whole index, so it grows with the accumulated index size; it can be made
  * incremental (per-batch partial stats unioned at read time) when refresh
  * latency matters.
  */
object StreamingIndexer {

  /** Segment-id namespace for a batch: disjoint from build namespaces
    * (pid*4096+ord, < 2^32) and merge namespaces (1e9 × round). */
  private[graft] def namespace(batchId: Long): Long = (1L << 40) + batchId * (1L << 28)

  /** Start an indexing stream over `input`. Each micro-batch appends segments
    * to `dir` and commits them with their statistics. */
  def start(input: Dataset[InputDoc], dir: String, config: IndexConfig,
            checkpointDir: String): StreamingQuery = {
    val spark = input.sparkSession
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/analyzer"), config.analyzer.name)
    input.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[InputDoc], batchId: Long) =>
        val added = IndexBuilder.appendBatch(batch, dir, config, namespace(batchId))
        // term-stats refresh + snapshot commit: the batch becomes visible to
        // new readers only here; snapshot-pinned readers never see it
        IndexBuilder.commitAppend(spark, dir, namespace(batchId), added)
        ()
      }
      .start()
  }

  /** Re-open the latest committed view (the `openIfChanged` analog). Reads
    * the snapshot log and runs no Spark job. */
  def reopen(spark: SparkSession, dir: String): InvertedIndex =
    InvertedIndex.open(spark, dir)
}
