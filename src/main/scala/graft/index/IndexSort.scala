package graft.index

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Generalized index sorting — the reference's
  * `IndexWriterConfig.setIndexSort(Sort)`
  * (`lucene/core/src/java/org/apache/lucene/index/IndexWriterConfig.java:483`):
  * documents are laid out in sort-field order, which turns sorted top-k into
  * early termination (`TopFieldCollector.canEarlyTerminate`) and sort-field
  * ranges into doc-id ranges.
  *
  * Doc ids in this engine are external keys, so sorting the INDEX means
  * assigning dense INTERNAL ids by global `(sortKey, externalId)` order and
  * keeping the id map beside the index (the same mechanism as the webtext
  * url-ordered build, generalized to any numeric sort column). Id assignment
  * is the deterministic distributed zip-with-index: range-repartition on the
  * sort key, sort within partitions, one count pre-pass for global offsets —
  * never a single-node global sort, and independent of input partitioning.
  */
object IndexSort {

  /** Per-partition global start offsets from (partitionId, count) pairs —
    * the count pre-pass half of the distributed zip-with-index (shared with
    * [[graft.search.Taxonomy.build]]'s ordinal assignment). */
  private[graft] def offsets(counts: Array[(Int, Long)]): Map[Int, Long] = {
    val byPid = counts.toMap
    val maxPid = if (counts.isEmpty) -1 else counts.map(_._1).max
    var acc = 0L
    (0 to maxPid).map { pid =>
      val o = pid -> acc
      acc += byPid.getOrElse(pid, 0L)
      o
    }.toMap
  }

  /** Build an index over `docs` sorted by `sortCol` (numeric), writing the
    * `(docId, extId, sortKey)` map to `dir/sortmap`. Returns the opened
    * index and the map. */
  def buildSorted(docs: DataFrame, extIdCol: String, sortCol: String,
                  textCol: String, dir: String, config: IndexConfig,
                  numPartitions: Int = 8): (InvertedIndex, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sorted = docs
      .select(col(extIdCol).cast("long"), col(sortCol).cast("long"), col(textCol).cast("string"))
      .as[(Long, Long, String)]
      .repartitionByRange(numPartitions, col(sortCol), col(extIdCol))
      .sortWithinPartitions(sortCol, extIdCol)
      .cache()
    val counts = sorted
      .mapPartitions(it => Iterator.single((TaskContext.getPartitionId(), it.size.toLong)))
      .collect()
    val bc = spark.sparkContext.broadcast(offsets(counts))
    val mapped = sorted.mapPartitions { it =>
      var next = bc.value(TaskContext.getPartitionId())
      it.map { case (ext, key, text) =>
        val id = next; next += 1
        (id, ext, key, text)
      }
    }.toDF("docId", "extId", "sortKey", "text").cache()
    IndexBuilder.build(mapped.select(col("docId"), col("text")).as[InputDoc], dir, config)
    mapped.select("docId", "extId", "sortKey")
      .write.mode("overwrite").parquet(s"$dir/sortmap")
    sorted.unpersist(); mapped.unpersist()
    (InvertedIndex.open(spark, dir), spark.read.parquet(s"$dir/sortmap"))
  }

  /** Sort-field top-k with early termination: the k best docs by
    * `(sortKey asc, extId asc)` matching `term`, scores intact — internal-id
    * order IS the sort order, so this is
    * [[graft.search.Searcher.searchByIndexOrder]] (blocks decoded in
    * `firstDoc` order until the k earliest live docs are found) plus a
    * broadcast map join back to external ids. */
  def topKBySortField(spark: SparkSession, index: InvertedIndex, sortMap: DataFrame,
                      term: String, k: Int): DataFrame = {
    val hits = new graft.search.Searcher(index, graft.search.ScoringMode.PreciseBM25())
      .searchByIndexOrder(term, k)
    // broadcast the ≤ k HITS side — the sortmap is one row per document
    // (the big side by construction: broadcasting it would ship the whole
    // doc-id map to every executor and OOM at 10^9+ docs)
    broadcast(hits).join(sortMap, "docId")
      .select(col("extId"), col("sortKey"), col("score"))
      .orderBy(asc("sortKey"), asc("extId"))
  }

  /** Sort-field RANGE as a doc-id range — the reference turns a range on the
    * index-sort field into a doc-id interval (BKD/metadata pruning analog):
    * the map bounds `[min docId with sortKey ≥ lo, max docId with
    * sortKey ≤ hi]` convert to a [[graft.search.DocIdRangeQuery]], which the
    * searcher answers with block-metadata skips before any decode. */
  def sortFieldRange(spark: SparkSession, index: InvertedIndex, sortMap: DataFrame,
                     term: String, lo: Long, hi: Long): DataFrame = {
    val bounds = sortMap.filter(col("sortKey").between(lo, hi))
      .agg(min("docId").as("lo"), max("docId").as("hi")).head()
    if (bounds.isNullAt(0)) return sortMap.sparkSession.emptyDataFrame
      .withColumn("extId", lit(0L)).withColumn("score", lit(0.0)).limit(0)
    val q = graft.search.DocIdRangeQuery(
      graft.search.TermQuery(term), bounds.getLong(0), bounds.getLong(1))
    // no broadcast hint on the per-doc sortmap (the big side); the hits
    // side is bounded by the doc-id range — let Catalyst/AQE pick the join
    // shape from measured sizes
    new graft.search.Searcher(index, graft.search.ScoringMode.PreciseBM25())
      .scored(q)
      .join(sortMap, "docId")
      .select(col("extId"), col("sortKey"), col("score"))
  }
}
