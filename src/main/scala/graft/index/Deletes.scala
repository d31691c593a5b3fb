package graft.index

import org.apache.spark.sql.{Dataset, SparkSession}

/** Document deletion, following the reference's lifecycle
  * (`lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:1844`
  * `deleteDocuments` → per-segment liveDocs → physical purge at merge):
  *
  *  - [[tombstone]] appends deleted doc ids under `dir/deletes` — a commit
  *    of intent, no data rewritten. A reopened [[InvertedIndex]] exposes
  *    them ([[InvertedIndex.deadDocIds]]): [[graft.search.Searcher]]'s
  *    kernels skip them and its exhaustive plans anti-join them (the
  *    liveDocs filter). Collection/term statistics intentionally
  *    KEEP counting tombstoned docs — exactly the reference's semantics,
  *    where docFreq/docCount ignore deletions until segments are rewritten;
  *  - [[SegmentMerger.merge]] purges: tombstoned postings are dropped during
  *    the rewrite, docs rows are filtered and counted as they are rewritten,
  *    term statistics recomputed — the merged index is standalone (no parent
  *    link) and tombstone-free, the `forceMergeDeletes` analog.
  *
  * Updating a document keeps the reference's shape: tombstone the doc id,
  * purge via merge, then append the new version (the external doc id is the
  * update key, like `updateDocument(Term, doc)`); re-adding an id while its
  * tombstone is still pending would delete both, so the purge must happen
  * first — [[updateDocuments]] sequences exactly that.
  */
object Deletes {

  /** Record doc ids as deleted. Visible to searchers on the next open. */
  def tombstone(spark: SparkSession, dir: String, ids: Dataset[java.lang.Long]): Unit =
    ids.toDF("docId").write.mode("append").parquet(s"$dir/deletes")

  /** Delete + re-add under new segments: purge-merge the tombstoned index to
    * `mergedDir`, then append the new versions there. Returns the updated
    * index view. */
  def updateDocuments(index: InvertedIndex, mergedDir: String,
                      newVersions: Dataset[InputDoc], config: IndexConfig,
                      segNamespace: Long): InvertedIndex = {
    import index.spark.implicits._
    Deletes.tombstone(index.spark, index.dir,
      newVersions.map(d => java.lang.Long.valueOf(d.docId)))
    val reopened = InvertedIndex.open(index.spark, index.dir)
    val (purged, _) = SegmentMerger.merge(reopened, mergedDir, computeMetrics = false)
    val added = IndexBuilder.appendBatch(newVersions, mergedDir, config, segNamespace)
    IndexBuilder.commitAppend(index.spark, mergedDir, segNamespace, added)
    InvertedIndex.open(index.spark, purged.dir)
  }
}
