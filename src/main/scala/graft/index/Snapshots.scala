package graft.index

import graft.core.CollectionStats

/** Iceberg-style snapshot log for an index directory.
  *
  * Every committed state of the index (base build, each streamed
  * micro-batch, merge/purge rewrites) appends one immutable
  * `snapshots/v%08d.json` naming the exact set of `batchNs` data partitions
  * the snapshot contains — the manifest-list analog of an Iceberg snapshot
  * (SURVEY.md §1.4; the reference's `SegmentInfos` generation files,
  * `lucene/core/src/java/org/apache/lucene/index/SegmentInfos.java:60`).
  *
  * Each namespace entry also records the doc count and Σdoclen of the docs
  * it holds, counted by the pass that wrote them. A reader's collection
  * statistics are the sum over its snapshot's entries, read from this file
  * with no Spark job — like the reference reading its `SegmentInfo` doc
  * counts from the commit point (`SegmentInfos.java:55-64,114`) instead of
  * scanning the segments.
  *
  * This is what makes appends ATOMIC for readers: `appendBatch` first lands
  * its rows under a fresh `batchNs=<ns>` partition (invisible — no snapshot
  * names it), term statistics are refreshed, and only then does the commit
  * file appear. A reader opened against snapshot v sees exactly v's
  * namespaces forever (snapshot isolation), and
  * `InvertedIndex.open(spark, dir, asOf = Some(v))` time-travels to any
  * retained version.
  *
  * Commit files are written via temp file + atomic rename; versions are
  * monotonically increasing. The format is a single flat JSON object, with
  * `docCounts` / `sumDoclens` parallel to the ascending `namespaces` —
  * parsed with string ops, not a JSON library (zero added dependencies).
  */
object Snapshots {

  /** One committed state: namespace → statistics of the docs it holds. */
  final case class Snapshot(version: Int, operation: String, stats: Map[Long, CollectionStats]) {
    /** The `batchNs` data partitions this snapshot names, ascending. */
    def namespaces: Seq[Long] = stats.keys.toSeq.sorted

    /** The statistics of every doc the snapshot holds. */
    def collectionStats: CollectionStats = stats.valuesIterator.foldLeft(CollectionStats(0L, 0L))(_ + _)
  }

  private def snapDir(dir: String) = java.nio.file.Paths.get(dir, "snapshots")

  private def versionOf(fileName: String): Int =
    fileName.stripPrefix("v").stripSuffix(".json").toInt

  /** All committed snapshots, ascending by version. */
  def list(dir: String): Seq[Snapshot] = {
    val d = snapDir(dir)
    if (!java.nio.file.Files.isDirectory(d)) return Nil
    val s = java.nio.file.Files.list(d)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.startsWith("v") && n.endsWith(".json"))
        .map(n => read(dir, versionOf(n)))
        .toSeq.sortBy(_.version)
    } finally s.close()
  }

  /** Latest snapshot: derived from the max `v%08d` file NAME — one directory
    * listing plus ONE file read, not a read+parse of every retained version
    * (`commit` and every `InvertedIndex.open` call this; reading all N files
    * made a stream's Nth micro-batch commit cost O(N), O(N²) cumulative). */
  def latest(dir: String): Option[Snapshot] = {
    val d = snapDir(dir)
    if (!java.nio.file.Files.isDirectory(d)) return None
    val s = java.nio.file.Files.list(d)
    val maxV =
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala
          .map(_.getFileName.toString)
          .filter(n => n.startsWith("v") && n.endsWith(".json"))
          .map(versionOf)
          .foldLeft(-1)(math.max)
      } finally s.close()
    if (maxV < 0) None else Some(read(dir, maxV))
  }

  def read(dir: String, version: Int): Snapshot = {
    val text = java.nio.file.Files.readString(snapDir(dir).resolve(f"v$version%08d.json"))
    def field(name: String): String = {
      val m = ("\"" + name + "\"\\s*:\\s*(\"[^\"]*\"|\\[[^\\]]*\\]|[0-9]+)").r
      m.findFirstMatchIn(text)
        .getOrElse(throw new IllegalStateException(s"snapshot v$version: missing $name"))
        .group(1)
    }
    def longs(name: String): Seq[Long] = field(name).stripPrefix("[").stripSuffix("]").trim match {
      case "" => Nil
      case s => s.split(",").map(_.trim.toLong).toSeq
    }
    val op = field("operation").stripPrefix("\"").stripSuffix("\"")
    val ns = longs("namespaces")
    val docCounts = longs("docCounts")
    val sumDoclens = longs("sumDoclens")
    if (docCounts.size != ns.size || sumDoclens.size != ns.size)
      throw new IllegalStateException(s"snapshot v$version: statistics do not match its namespaces")
    Snapshot(field("version").toInt, op,
      ns.indices.map(i => ns(i) -> CollectionStats(docCounts(i), sumDoclens(i))).toMap)
  }

  /** Append a snapshot naming the full namespace set of the new state, each
    * namespace with the statistics of its docs. Returns the committed
    * snapshot. */
  def commit(dir: String, operation: String, stats: Map[Long, CollectionStats]): Snapshot = {
    val d = snapDir(dir)
    java.nio.file.Files.createDirectories(d)
    val version = latest(dir).map(_.version + 1).getOrElse(1)
    val snap = Snapshot(version, operation, stats)
    val ns = snap.namespaces
    val json =
      s"""{"version":${snap.version},"operation":"${snap.operation}",""" +
        s""""namespaces":[${ns.mkString(",")}],""" +
        s""""docCounts":[${ns.map(stats(_).docCount).mkString(",")}],""" +
        s""""sumDoclens":[${ns.map(stats(_).sumTotalTermFreq).mkString(",")}]}"""
    val tmp = java.nio.file.Files.createTempFile(d, ".tmp-snap", ".json")
    java.nio.file.Files.writeString(tmp, json)
    java.nio.file.Files.move(tmp, d.resolve(f"v$version%08d.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    snap
  }

  /** Expire all but the newest `keepLast` snapshots — the
    * `expire_snapshots` maintenance action of the Iceberg model (and the
    * reference's deletion of superseded `segments_N` generations). Removes
    * the expired commit files, their per-version `term_stats` tables, and any
    * `batchNs=<ns>` data partition no retained snapshot references (orphan
    * GC). Time travel to an expired version stops working, by design; the
    * latest snapshot and every retained one are untouched.
    *
    * Single-writer assumption (like `IndexWriter`): must not race an
    * in-flight commit. Readers already pinned to an expired snapshot keep
    * working only until its files are deleted — expire when no such readers
    * remain, exactly Iceberg's contract. */
  def expire(dir: String, keepLast: Int = 1): Unit = {
    require(keepLast >= 1, "must retain at least the latest snapshot")
    val all = list(dir)
    if (all.size <= keepLast) return
    val (expired, retained) = all.splitAt(all.size - keepLast)
    val liveNs = retained.flatMap(_.namespaces).toSet
    val deadNs = expired.flatMap(_.namespaces).toSet -- liveNs
    def rmTree(p: java.nio.file.Path): Unit =
      if (java.nio.file.Files.exists(p)) {
        val s = java.nio.file.Files.walk(p)
        try {
          import scala.jdk.CollectionConverters._
          s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
            .iterator().asScala.foreach(q => java.nio.file.Files.deleteIfExists(q))
        } finally s.close()
      }
    expired.foreach { s =>
      java.nio.file.Files.deleteIfExists(snapDir(dir).resolve(f"v${s.version}%08d.json"))
      rmTree(java.nio.file.Paths.get(IndexBuilder.termStatsPath(dir, s.version)))
    }
    // orphaned data partitions: namespaces only expired snapshots referenced
    deadNs.foreach { ns =>
      Seq(0, 1, 2).foreach { kind =>
        rmTree(java.nio.file.Paths.get(s"$dir/data/kind=$kind/batchNs=$ns"))
      }
    }
  }

  /** Drop any snapshot log at `dir` (fresh overwrite builds). */
  private[index] def clear(dir: String): Unit = {
    val d = snapDir(dir)
    if (java.nio.file.Files.isDirectory(d)) {
      val s = java.nio.file.Files.list(d)
      try {
        import scala.jdk.CollectionConverters._
        s.iterator().asScala.foreach(p => java.nio.file.Files.deleteIfExists(p))
      } finally s.close()
      java.nio.file.Files.deleteIfExists(d)
    }
  }
}
