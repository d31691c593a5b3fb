package graft

import graft.core.{CollectionStats, SimpleAnalyzer}
import graft.index._
import graft.search._
import org.scalatest.funsuite.AnyFunSuite

/** Snapshot log: append atomicity, reader isolation, time travel, and the
  * purge-then-append update path's statistics. */
class SnapshotSpec extends AnyFunSuite {
  import SparkTestEnv._
  import spark.implicits._

  private def docsOf(pred: Long => Boolean) = {
    val rows = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").as("docId"),
        org.apache.spark.sql.functions.col("text"))
      .as[InputDoc]
    rows.filter(d => pred(d.docId)).repartition(4)
  }

  /** Append the odd doc ids as one committed micro-batch. */
  private def appendOdd(dir: String, cfg: IndexConfig): Unit = {
    val added = IndexBuilder.appendBatch(docsOf(_ % 2 == 1), dir, cfg, segNamespace = 1L << 40)
    IndexBuilder.commitAppend(spark, dir, 1L << 40, added)
  }

  private def topDocs(ix: InvertedIndex): Seq[(Long, Double)] =
    new Searcher(ix, ScoringMode.PreciseBM25())
      .search(TermQuery("spark"), 10).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  test("build commits v1; append commits v2 with both namespaces; readers are isolated") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-").toString
    val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
    IndexBuilder.build(docsOf(_ % 2 == 0), dir, cfg)
    assert(Snapshots.list(dir).map(s => (s.version, s.operation)) == Seq((1, "build")))

    // pin a reader to v1 BEFORE the append commits
    val pinned = InvertedIndex.open(spark, dir)
    val before = topDocs(pinned)
    val statsBefore = pinned.collectionStats

    val added = IndexBuilder.appendBatch(docsOf(_ % 2 == 1), dir, cfg, segNamespace = 1L << 40)
    // batch files exist but are uncommitted: a NEW reader still sees v1
    assert(InvertedIndex.open(spark, dir).snapshot.version == 1)
    IndexBuilder.commitAppend(spark, dir, 1L << 40, added)

    val snaps = Snapshots.list(dir)
    assert(snaps.map(_.version) == Seq(1, 2))
    assert(snaps.last.namespaces == Seq(0L, 1L << 40).sorted)

    // the pinned reader's results are byte-identical after the commit
    assert(topDocs(pinned) == before, "snapshot isolation violated")
    assert(pinned.collectionStats == statsBefore)

    // a fresh reader sees the union == the one-shot full build
    val latest = InvertedIndex.open(spark, dir)
    assert(latest.collectionStats.docCount == docCount)
    assert(topDocs(latest) == topDocs(index), "two-commit latest != one-shot build")
  }

  test("time travel: asOf v1 == the pre-append corpus, stats recomputed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-tt-").toString
    val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
    IndexBuilder.build(docsOf(_ % 2 == 0), dir, cfg)
    val expected = topDocs(InvertedIndex.open(spark, dir))
    val expectedStats = InvertedIndex.open(spark, dir).collectionStats
    appendOdd(dir, cfg)

    val tt = InvertedIndex.open(spark, dir, asOf = Some(1))
    assert(tt.collectionStats == expectedStats, "time-traveled stats differ")
    assert(topDocs(tt) == expected, "time-traveled results differ")
    assert(CheckIndex.check(tt).isEmpty, "time-traveled view fails CheckIndex")
  }

  test("expire drops old versions, their stats tables, and orphaned partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-exp-").toString
    val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
    IndexBuilder.build(docsOf(_ % 2 == 0), dir, cfg)
    appendOdd(dir, cfg)
    val latestBefore = topDocs(InvertedIndex.open(spark, dir))
    // each version records the doc count and Σdoclen of every namespace it
    // names: v1 the even ids, v2 those plus the odd ids
    val v1 = Snapshots.read(dir, 1)
    val evens = InvertedIndex.open(spark, dir, asOf = Some(1)).docs
      .agg(org.apache.spark.sql.functions.count("*"), org.apache.spark.sql.functions.sum("doclen"))
      .as[(Long, Long)].head()
    assert(v1.stats == Map(0L -> CollectionStats(evens._1, evens._2)))

    Snapshots.expire(dir, keepLast = 1)
    assert(Snapshots.list(dir).map(_.version) == Seq(2))
    // v1 term stats gone, v2 intact with the counts it recorded; namespace 0
    // still referenced by v2, retained
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(IndexBuilder.termStatsPath(dir, 1))))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(IndexBuilder.termStatsPath(dir, 2))))
    val v2 = Snapshots.read(dir, 2)
    assert(v2.namespaces == Seq(0L, 1L << 40))
    assert(v2.stats(0L) == v1.stats(0L))
    assert(v2.collectionStats.docCount == docCount)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$dir/data/kind=0/batchNs=0")))
    // latest reader unaffected
    assert(topDocs(InvertedIndex.open(spark, dir)) == latestBefore)
    intercept[Exception](InvertedIndex.open(spark, dir, asOf = Some(1)))
  }

  test("purge-merge of a two-commit index keeps appended docs' rows visible") {
    // regression: the docs rewrite used to preserve the SOURCE batchNs while
    // the purge snapshot names only namespace 0 — appended docs' rows were
    // silently filtered out of the purged reader's docs view
    val dir = java.nio.file.Files.createTempDirectory("graft-snap-purge-").toString
    val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
    IndexBuilder.build(docsOf(_ % 2 == 0), dir, cfg)
    appendOdd(dir, cfg)
    val full = InvertedIndex.open(spark, dir)
    val victim = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id").as[Long].collect().min
    Deletes.tombstone(spark, dir, spark.createDataset(Seq(java.lang.Long.valueOf(victim))))
    val (purged, _) = SegmentMerger.merge(InvertedIndex.open(spark, dir),
      dir + "-purged", computeMetrics = false)
    assert(purged.docs.count() == full.collectionStats.docCount - 1,
      "purged docs view must keep every live doc from BOTH commits")
    assert(purged.collectionStats.docCount == full.collectionStats.docCount - 1)
    assert(CheckIndex.check(purged).isEmpty)
  }

  test("updateDocuments: purge + re-add keeps statistics and results consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft-upd-").toString
    val cfg = IndexConfig(SimpleAnalyzer, withPositions = true)
    IndexBuilder.build(docsOf(_ => true), dir, cfg)
    val n0 = InvertedIndex.open(spark, dir).collectionStats.docCount

    // rewrite 10 docs to a sentinel text
    val victims = spark.read.parquet(s"$sfDir/documents.parquet")
      .select($"doc_id").as[Long].collect().sorted.take(10)
    val newDocs = spark.createDataset(victims.toSeq.map(id =>
      InputDoc(id, "zzupdated sentinel body")))
    val updated = Deletes.updateDocuments(InvertedIndex.open(spark, dir),
      dir + "-upd", newDocs, cfg, segNamespace = 7L << 40)

    // doc count preserved (delete + re-add of the same ids)
    assert(updated.collectionStats.docCount == n0,
      s"docCount ${updated.collectionStats.docCount} != $n0 after update")
    // new content searchable, exactly the victims
    val hits = new Searcher(updated, ScoringMode.PreciseBM25())
      .scored(TermQuery("zzupdated")).collect().map(_.getLong(0)).sorted
    assert(hits.toSeq == victims.toSeq)
    // old content of a victim no longer matches it
    val sparkHits = new Searcher(updated, ScoringMode.PreciseBM25())
      .scored(TermQuery("spark")).collect().map(_.getLong(0)).toSet
    assert(victims.forall(v => !sparkHits.contains(v)))
  }
}
