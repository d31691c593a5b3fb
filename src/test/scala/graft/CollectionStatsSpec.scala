package graft

import graft.core._
import graft.index._
import graft.streaming.StreamingIndexer
import org.apache.spark.JobExecutionStatus
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{count, lit, sum}
import org.scalatest.funsuite.AnyFunSuite

/** Collection statistics live in the snapshot log: every commit path records
  * the doc count and Σdoclen of the namespaces it writes, counted by its own
  * write, and `open` sums them with no Spark job. Checked against a recount
  * of each snapshot's doc rows after every commit path and for every
  * retained version; and the job counts of `open`, `reopen` and `warm`. */
class CollectionStatsSpec extends AnyFunSuite {
  import SparkTestEnv.spark
  import spark.implicits._

  private val cfg = IndexConfig(SimpleAnalyzer, withPositions = true, flushDocBudget = 32)

  private def doc(id: Long): InputDoc = {
    val rnd = new scala.util.Random(id)
    InputDoc(id, Seq.fill(3 + rnd.nextInt(30))(s"w${(math.abs(rnd.nextGaussian()) * 10).toInt}").mkString(" "))
  }

  /** The docs of `ids` in 4 input partitions, with no shuffle. */
  private def docs(ids: Range): Dataset[InputDoc] =
    spark.sparkContext.parallelize(ids.map(i => doc(i.toLong)), 4).toDS()

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  /** (count, Σdoclen) over the doc rows a reader sees. */
  private def recount(ix: InvertedIndex): CollectionStats = {
    val r = ix.docs.agg(count(lit(1)), sum("doclen")).head()
    CollectionStats(r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def assertConsistent(ix: InvertedIndex, what: String): Unit = {
    assert(ix.collectionStats == recount(ix), s"$what: recorded statistics != recount")
    val v = CheckIndex.check(ix)
    assert(v.isEmpty, s"$what: ${v.take(3).mkString("; ")}")
  }

  /** Every retained version of `dir`, opened by time travel. */
  private def assertEveryVersion(dir: String): Unit =
    Snapshots.list(dir).foreach { s =>
      assertConsistent(InvertedIndex.open(spark, dir, asOf = Some(s.version)), s"$dir v${s.version}")
    }

  /** Spark jobs run by `body`. */
  private def jobsIn[T](body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val tag = s"collection-stats-${System.nanoTime()}"
    sc.setJobGroup(s"$tag-body", "body")
    val out = try body finally sc.clearJobGroup()
    // the status tracker is fed by the listener bus in order: once a marker
    // job run after `body` is seen finished, every job of `body` is seen
    sc.setJobGroup(s"$tag-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val st = sc.statusTracker
    val deadline = System.nanoTime() + 10000000000L
    while (!st.getJobIdsForGroup(s"$tag-marker").flatMap(st.getJobInfo(_))
        .exists(_.status == JobExecutionStatus.SUCCEEDED) && System.nanoTime() < deadline)
      Thread.sleep(20)
    (st.getJobIdsForGroup(s"$tag-body").length, out)
  }

  test("every commit path records statistics equal to a recount of its doc rows") {
    // build, then addIndexes onto it, then a merge of the result
    val built = tempDir("graft-cs-build-")
    assertConsistent(IndexBuilder.build(docs(0 until 300), built, cfg), "build")
    val source = tempDir("graft-cs-src-")
    IndexBuilder.build(docs(5000 until 5120), source, cfg)
    IndexBuilder.addIndexes(spark, built, InvertedIndex.open(spark, source))
    assertConsistent(InvertedIndex.open(spark, built), "addIndexes")
    val merged = built + "-merged"
    assertConsistent(SegmentMerger.merge(InvertedIndex.open(spark, built), merged,
      computeMetrics = false)._1, "merge")

    // a build that lost one partition's output before its commit resumes:
    // the partitions it keeps are counted from their manifest rows
    val resumed = tempDir("graft-cs-resume-")
    IndexBuilder.build(docs(0 until 300), resumed, cfg)
    val full = InvertedIndex.open(spark, resumed).collectionStats
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(resumed))
    val lost = try walk.toArray.map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.contains("part-00002") ||
        p.getParent.getFileName.toString == "snapshots")
    finally walk.close()
    assert(lost.exists(_.getFileName.toString.startsWith("part-00002")))
    lost.foreach(java.nio.file.Files.delete)
    assert(Snapshots.latest(resumed).isEmpty)
    val again = IndexBuilder.build(docs(0 until 300), resumed, cfg, resume = true)
    assert(again.collectionStats == full)
    assertConsistent(again, "resumed build")

    // NRT appends, then a replay of the last batch id: its entry is replaced
    val nrt = tempDir("graft-cs-nrt-")
    val ckpt = tempDir("graft-cs-ckpt-")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[InputDoc]
    val q = StreamingIndexer.start(stream.toDS(), nrt, cfg, ckpt)
    try {
      stream.addData((1000 until 1100).map(i => doc(i.toLong)))
      q.processAllAvailable()
      assertConsistent(StreamingIndexer.reopen(spark, nrt), "first append")
      stream.addData((1100 until 1150).map(i => doc(i.toLong)))
      q.processAllAvailable()
    } finally q.stop()
    val before = Snapshots.latest(nrt).get
    assert(before.namespaces.size == 2)
    val replayed = IndexBuilder.appendBatch(docs(1100 until 1150), nrt, cfg, before.namespaces.max)
    val after = IndexBuilder.commitAppend(spark, nrt, before.namespaces.max, replayed)
    assert(after.version == before.version + 1 && after.stats == before.stats)
    assertConsistent(StreamingIndexer.reopen(spark, nrt), "replayed append")

    // a purge-merge of the appended index, and an update of the resumed one
    Deletes.tombstone(spark, nrt, spark.createDataset((1000L until 1100L by 7).map(java.lang.Long.valueOf))(
      org.apache.spark.sql.Encoders.LONG))
    val purged = nrt + "-purged"
    val p = SegmentMerger.merge(InvertedIndex.open(spark, nrt), purged, computeMetrics = false)._1
    assert(p.collectionStats.docCount == 150 - (1000 until 1100 by 7).size)
    assertConsistent(p, "purge-merge")
    val updated = resumed + "-upd"
    val u = Deletes.updateDocuments(InvertedIndex.open(spark, resumed), updated,
      docs(10 until 20).map(d => InputDoc(d.docId, "updated body")), cfg, segNamespace = 7L << 40)
    // ten docs deleted and re-added with two tokens each
    val oldLen = (10 until 20).map(i => SimpleAnalyzer.tokenize(doc(i.toLong).text).size.toLong).sum
    assert(u.collectionStats == CollectionStats(full.docCount, full.sumTotalTermFreq - oldLen + 20L))
    assertConsistent(u, "updateDocuments")

    Seq(built, merged, resumed, nrt, purged, updated).foreach(assertEveryVersion)
  }

  test("open and reopen run no job; open plus warm runs five") {
    val dir = tempDir("graft-cs-jobs-")
    IndexBuilder.build(docs(0 until 400), dir, cfg)
    SegmentMerger.merge(InvertedIndex.open(spark, dir), dir + "-merged", computeMetrics = false)
    assert(jobsIn(InvertedIndex.open(spark, dir))._1 == 0)
    assert(jobsIn(InvertedIndex.open(spark, dir + "-merged"))._1 == 0)
    assert(jobsIn(InvertedIndex.open(spark, dir, asOf = Some(1)))._1 == 0)

    val nrt = tempDir("graft-cs-nrt-jobs-")
    val ckpt = tempDir("graft-cs-ckpt-jobs-")
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val stream = MemoryStream[InputDoc]
    val q = StreamingIndexer.start(stream.toDS(), nrt, cfg, ckpt)
    try {
      stream.addData((0 until 50).map(i => doc(i.toLong)))
      q.processAllAvailable()
    } finally q.stop()
    assert(jobsIn(StreamingIndexer.reopen(spark, nrt))._1 == 0)

    // three scans fill the caches, one collects the dictionary and one the
    // resident blocks; the same on a merged index, whose docs and term
    // statistics are its parent's
    Seq(dir, dir + "-merged").foreach { d =>
      val (jobs, ix) = jobsIn(InvertedIndex.open(spark, d).warm())
      try {
        assert(ix.warmTermStats.isDefined && ix.residentBlocks.isDefined, d)
        assert(jobs == 5, s"$d: open + warm ran $jobs jobs")
      } finally {
        ix.postings.unpersist(); ix.termStats.unpersist(); ix.docs.unpersist()
      }
    }
  }

  test("an appended batch that was never committed is in no term statistics") {
    val dir = tempDir("graft-cs-orphan-")
    IndexBuilder.build(Seq(InputDoc(0L, "alpha beta"), InputDoc(1L, "beta gamma")).toDS(), dir, cfg)
    // written, never committed: a crash between appendBatch and commitAppend
    IndexBuilder.appendBatch(Seq(InputDoc(2L, "zzorphan beta")).toDS(), dir, cfg, segNamespace = 1L << 40)
    val ns = 2L << 40
    val added = IndexBuilder.appendBatch(Seq(InputDoc(3L, "delta")).toDS(), dir, cfg, segNamespace = ns)
    IndexBuilder.commitAppend(spark, dir, ns, added)
    val ix = InvertedIndex.open(spark, dir)
    val dfs = ix.termStats.select("term", "df").as[(String, Long)].collect().toMap
    assert(!dfs.contains("zzorphan"), s"term statistics $dfs")
    assert(dfs("beta") == 2L && dfs("delta") == 1L, s"term statistics $dfs")
    assertConsistent(ix, dir)
  }
}
