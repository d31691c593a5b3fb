package graft.index

import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.LongAccumulator
import scala.collection.mutable

/** One input document: external id (globally unique) + field text. */
final case class InputDoc(docId: Long, text: String)

/** Staging row written by the build — a tagged union of the three index
  * tables, so one tokenize pass produces docs + postings + segment manifest
  * with a single shuffle-free write (`partitionBy("kind")` splits files, it
  * does not shuffle).
  *
  * kind 0 = doc row, 1 = postings row, 2 = segment manifest row.
  */
final case class StageRow(
    kind: Int,
    segmentId: Long,
    // doc fields (kind 0)
    docId: Long,
    doclen: Int,
    dlb: Byte,
    // postings fields (kind 1)
    term: String,
    blockGroup: Int,
    df: Int,
    ttf: Long,
    blocks: Seq[PostingBlock],
    /** blocks.size as a scalar so lineage/metrics aggregations never read the
      * nested payload column */
    nblocks: Int,
    // segment manifest fields (kind 2) — per-partition lineage + metrics
    partitionId: Int,
    numDocs: Long,
    sumDoclen: Long,
    numTerms: Long,
    postingsFlushed: Long,
    flushOrdinal: Int)

object StageRow {
  def doc(segmentId: Long, docId: Long, doclen: Int, dlb: Byte): StageRow =
    StageRow(0, segmentId, docId, doclen, dlb, null, 0, 0, 0L, null, 0, 0, 0L, 0L, 0L, 0L, 0)
  def postings(segmentId: Long, term: String, blockGroup: Int, df: Int, ttf: Long,
               blocks: Seq[PostingBlock]): StageRow =
    StageRow(1, segmentId, 0L, 0, 0, term, blockGroup, df, ttf, blocks, blocks.size, 0, 0L, 0L, 0L, 0L, 0)
  def segment(segmentId: Long, partitionId: Int, numDocs: Long, sumDoclen: Long,
              numTerms: Long, postingsFlushed: Long, flushOrdinal: Int): StageRow =
    StageRow(2, segmentId, 0L, 0, 0, null, 0, 0, 0L, null, 0, partitionId, numDocs,
      sumDoclen, numTerms, postingsFlushed, flushOrdinal)
}

/** Configuration of an index build.
  *
  * @param analyzer        analysis chain (must be recorded so queries analyze
  *                        identically)
  * @param withPositions   index positions (needed for phrase queries)
  * @param flushDocBudget  max docs accumulated per in-memory segment before
  *                        flushing
  * @param flushTokenBudget max accumulated tokens per in-memory segment — the
  *                        RAM proxy; the analog of the reference's
  *                        flush-by-RAM DWPT policy (16 MB default,
  *                        `lucene/core/src/java/org/apache/lucene/index/IndexWriterConfig.java:83`).
  *                        Bounds per-task memory regardless of partition
  *                        size, which is what keeps N concurrent flush tasks
  *                        GC-stable on any executor — a partition-sized
  *                        buffer would scale per-task memory with input
  *                        partition size, the classic oversubscription trap.
  */
final case class IndexConfig(
    analyzer: Analyzer = SimpleAnalyzer,
    withPositions: Boolean = true,
    flushDocBudget: Int = 1 << 18,
    flushTokenBudget: Long = 1L << 21)

/** Distributed inverted-index build: the reference's
  * IndexWriter/DocumentsWriterPerThread dataflow
  * (`lucene/core/src/java/org/apache/lucene/index/IndexingChain.java:553`)
  * re-expressed Spark-first.
  *
  * Design for scale (SURVEY.md §7):
  *  - One Spark input partition plays the role of one DWPT: it accumulates an
  *    in-RAM term→postings hash and flushes segments when the doc budget is
  *    hit. The segment build itself is *shuffle-free* — postings are built
  *    map-side, exactly where the text already lives.
  *  - Doc ids are the external ids, so there is no docBase renumbering and no
  *    global coordination between partitions.
  *  - A postings row holds at most [[PostingsCodec.BlocksPerRow]] blocks
  *    (4096 docs), so a head term (present in >50% of docs) produces many
  *    bounded rows, never one giant row — term-frequency skew is handled by
  *    layout, and the only shuffle in the whole build (the global term-stats
  *    aggregation) is a map-side-combined count, immune to skew.
  *  - Per-partition segment manifest rows (lineage + metrics) make the build
  *    resumable: a re-run skips partitions whose manifest rows exist,
  *    mirroring the reference's two-phase commit
  *    (`lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3582,4063`).
  *  - The collection statistics (doc count, Σdoclen) are counted by the
  *    write's own tasks from the manifest rows they emit ([[DocCounter]]) and
  *    recorded in the snapshot the build commits ([[Snapshots]]): no job
  *    re-reads them, and opening the index reads them from that file.
  */
object IndexBuilder {

  /** Doc count and Σdoclen of the docs a write emits, added up by the
    * write's tasks as its rows pass. Read [[stats]] once the write is done:
    * the write's result stage applies each partition's update once, so task
    * retries do not double-count. */
  private[index] final case class DocCounter(docs: LongAccumulator, doclen: LongAccumulator) {
    def add(n: Long, len: Long): Unit = { docs.add(n); doclen.add(len) }

    /** `rows`, counting the docs of each segment manifest row. */
    def manifests(rows: Iterator[StageRow]): Iterator[StageRow] =
      rows.map { r => if (r.kind == 2) add(r.numDocs, r.sumDoclen); r }

    def stats: CollectionStats = CollectionStats(docs.value, doclen.value)
  }

  private[index] object DocCounter {
    def apply(spark: SparkSession): DocCounter =
      DocCounter(spark.sparkContext.longAccumulator("docCount"),
        spark.sparkContext.longAccumulator("sumDoclen"))
  }

  /** Build (or resume) an index over `input` at `dir`. Returns the opened index. */
  def build(input: Dataset[InputDoc], dir: String, config: IndexConfig = IndexConfig(),
            resume: Boolean = false): InvertedIndex = {
    val spark = input.sparkSession
    import spark.implicits._

    // (partitionId, numDocs, sumDoclen) of every segment a resumed build
    // keeps: it skips those partitions and counts their docs from these rows
    val completed: Array[(Int, Long, Long)] =
      if (resume && new java.io.File(s"$dir/data").exists()) {
        readData(spark, dir).filter($"kind" === 2 && $"batchNs" === 0L)
          .select($"partitionId", $"numDocs", $"sumDoclen").as[(Int, Long, Long)].collect()
      } else Array.empty

    val bc = spark.sparkContext.broadcast((config, completed.map(_._1).toSet))
    val counter = DocCounter(spark)

    val staged: Dataset[StageRow] = input.mapPartitions { docs =>
      val (cfg, done) = bc.value
      val pid = TaskContext.getPartitionId()
      if (done.contains(pid)) Iterator.empty
      else counter.manifests(new SegmentFlusher(cfg, 0L, pid, docs))
    }

    staged.toDF().withColumn("batchNs", lit(0L)).write
      .mode(if (resume) "append" else "overwrite")
      .partitionBy("kind", "batchNs")
      // 32 MB row groups: with one open parquet file per write task, this
      // caps per-task writer buffering so executor-thread count × (flush
      // buffer + writer buffer) stays well inside a modest heap
      .option("parquet.block.size", 32 * 1024 * 1024)
      // zstd over the varint payloads: ~35-40% smaller than snappy on
      // postings blocks — staged bytes are the build's scaling bottleneck
      // on bandwidth-limited storage, and spare CPU absorbs the codec cost
      .option("compression", "zstd")
      .parquet(s"$dir/data")

    // snapshot log: fresh build = v1 over the base namespace; a resumed build
    // completes the SAME commit, so it must not stack a second version
    if (!resume) Snapshots.clear(dir)
    refreshTermStats(spark, dir, version = 1, namespaces = Seq(0L))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/analyzer"), config.analyzer.name)
    if (Snapshots.latest(dir).isEmpty) {
      val stats = completed.map { case (_, n, len) => CollectionStats(n, len) }.foldLeft(counter.stats)(_ + _)
      Snapshots.commit(dir, "build", Map(0L -> stats))
    }

    InvertedIndex.open(spark, dir)
  }

  /** Append one micro-batch as new segments under a disjoint segment-id
    * namespace — the incremental surface behind [[graft.streaming.StreamingIndexer]]
    * (the reference's flushed-but-merge-pending NRT segments,
    * `lucene/core/src/java/org/apache/lucene/index/DirectoryReader.java:48`).
    *
    * IDEMPOTENT per namespace: rows land in the `batchNs=<segNamespace>`
    * partition and the write uses dynamic partition overwrite, so a replayed
    * micro-batch (foreachBatch is at-least-once) REPLACES its own prior
    * partition instead of appending duplicates — no other batch or base-build
    * partition is touched (ADVICE r1 #1).
    *
    * Returns the doc count and Σdoclen of the batch, counted as it is
    * written. Publishes nothing: [[commitAppend]] records them with the
    * batch's namespace (the `SearcherManager.maybeRefresh` analog). */
  private[graft] def appendBatch(batch: Dataset[InputDoc], dir: String,
                                 config: IndexConfig, segNamespace: Long): CollectionStats = {
    val spark = batch.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(config)
    val counter = DocCounter(spark)
    batch.mapPartitions { docs =>
      counter.manifests(new SegmentFlusher(bc.value, segNamespace, TaskContext.getPartitionId(), docs))
    }.toDF().withColumn("batchNs", lit(segNamespace))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kind", "batchNs")
      .option("parquet.block.size", 32 * 1024 * 1024)
      .option("compression", "zstd")
      .parquet(s"$dir/data")
    counter.stats
  }

  /** Publish an appended micro-batch: refresh the term statistics, then
    * commit a snapshot whose namespaces are the previous snapshot's plus
    * `segNamespace`, recorded with the batch's `stats` ([[appendBatch]]'s
    * result) — the Iceberg append commit. A replayed batch's namespace is
    * already named: its entry is replaced. Until this runs, the batch's
    * `batchNs` partition exists on disk but no reader sees it
    * (snapshot-pinned opens filter to their committed namespaces), which is
    * what makes the at-least-once `foreachBatch` replay invisible. */
  private[graft] def commitAppend(spark: SparkSession, dir: String, segNamespace: Long,
                                  stats: CollectionStats): Snapshots.Snapshot = {
    val prior = Snapshots.latest(dir)
    val committed = prior.fold(Map.empty[Long, CollectionStats])(_.stats) + (segNamespace -> stats)
    refreshTermStats(spark, dir, version = prior.map(_.version + 1).getOrElse(1), committed.keys)
    Snapshots.commit(dir, "append", committed)
  }

  /** Index-level ingest WITHOUT re-analysis — the reference's
    * `IndexWriter.addIndexes(Directory...)`
    * (`lucene/core/src/java/org/apache/lucene/index/IndexWriter.java:3087`):
    * another index's segments are adopted wholesale. Two model differences:
    *
    *  - doc ids here are EXTERNAL keys, so there is no docBase renumbering;
    *    instead doc-id disjointness is validated (a duplicate external id
    *    would alias two documents, where the reference's internal ordinals
    *    simply shift);
    *  - adoption is an Iceberg-style append commit: the source's rows land
    *    in a fresh `batchNs` partition with relocated segment ids (segment
    *    identity stays unique in the target — same 2^28 namespace stride as
    *    streaming appends), term statistics refresh, and ONE snapshot commit
    *    records the new namespace with the source's collection statistics
    *    and publishes atomically; readers pinned to earlier snapshots never
    *    see a partial adoption.
    *
    * Postings payloads move UNDECODED — adopting N TB of postings is a
    * columnar copy, never a re-index (not even a block re-encode), because
    * blocks address external doc ids. Reads through the source's VIEWS, so
    * merged/purged sources (parent chains) adopt their effective contents.
    * Pending source tombstones carry over. */
  def addIndexes(spark: SparkSession, targetDir: String, source: InvertedIndex,
                 validateDisjoint: Boolean = true): Snapshots.Snapshot = {
    import spark.implicits._
    val target = InvertedIndex.open(spark, targetDir)
    require(source.analyzer.name == target.analyzer.name,
      s"addIndexes: analyzer mismatch (target '${target.analyzer.name}', " +
        s"source '${source.analyzer.name}') — queries would analyze differently")
    if (validateDisjoint) {
      val overlap = target.docs.select("docId")
        .join(source.docs.select("docId"), Seq("docId"), "left_semi")
        .limit(1).count()
      require(overlap == 0L, "addIndexes: source and target doc id spaces overlap")
    }
    val tgtNss = Snapshots.latest(targetDir).map(_.namespaces).getOrElse(Seq(0L))
    val newNs = math.max(tgtNss.max, 1L << 40) + (1L << 28)
    // dense deterministic segment-id relocation (one row per source flush)
    val srcSegs = source.segments.select("segmentId").distinct()
      .orderBy("segmentId").collect().map(_.getLong(0))
    val segMap = srcSegs.zipWithIndex.map { case (s, i) => s -> (newNs + i.toLong) }.toMap
    val bc = spark.sparkContext.broadcast(segMap)

    val docRows = source.docs
      .select("docId", "segmentId", "doclen", "dlb").as[(Long, Long, Int, Byte)]
      .map { case (id, seg, len, dlb) => StageRow.doc(bc.value(seg), id, len, dlb) }
    val postingRows = source.postings
      .select("term", "segmentId", "blockGroup", "df", "ttf", "blocks")
      .as[(String, Long, Int, Int, Long, Seq[PostingBlock])]
      .map { case (t, seg, bg, df, ttf, blocks) =>
        StageRow.postings(bc.value(seg), t, bg, df, ttf, blocks) }
    val segmentRows = source.segments
      .select("segmentId", "partitionId", "numDocs", "sumDoclen", "numTerms",
        "postingsFlushed", "flushOrdinal")
      .as[(Long, Int, Long, Long, Long, Long, Int)]
      .map { case (seg, pid, nd, sdl, nt, pf, fo) =>
        StageRow.segment(bc.value(seg), pid, nd, sdl, nt, pf, fo) }

    docRows.unionAll(postingRows).unionAll(segmentRows)
      .toDF().withColumn("batchNs", lit(newNs))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("kind", "batchNs")
      .option("parquet.block.size", 32 * 1024 * 1024)
      .option("compression", "zstd")
      .parquet(s"$targetDir/data")

    source.deletedDocs.foreach { d =>
      d.select("docId").write.mode("append").parquet(s"$targetDir/deletes")
    }
    val prior = Snapshots.latest(targetDir)
    val committed = prior.fold(Map.empty[Long, CollectionStats])(_.stats) + (newNs -> source.collectionStats)
    refreshTermStats(spark, targetDir, version = prior.map(_.version + 1).getOrElse(1), committed.keys)
    Snapshots.commit(targetDir, "addIndexes", committed)
  }

  /** Diagnostic hook: a raw SegmentFlusher iterator (graft.tools.BuildProbe). */
  private[graft] def flusherFor(cfg: IndexConfig, segNamespace: Long, pid: Int,
                                docs: Iterator[InputDoc]): Iterator[StageRow] =
    new SegmentFlusher(cfg, segNamespace, pid, docs)

  /** Recompute the global term statistics (per-term df/ttf) of snapshot
    * `version` from the segment data of its `namespaces`, summed from the
    * postings rows' scalar partials (the nested `blocks` payload is never
    * read). A `batchNs` partition the snapshot does not name — a micro-batch
    * written but never committed — is not counted. The only shuffle of the
    * build; partial (map-side) aggregation makes it skew-proof — a head term
    * contributes one partial count per task, not its postings. */
  private[graft] def refreshTermStats(spark: SparkSession, dir: String, version: Int,
                                      namespaces: Iterable[Long]): Unit =
    readData(spark, dir).filter(col("kind") === 1 && col("batchNs").isin(namespaces.toSeq: _*))
      .groupBy(col("term"))
      .agg(sum(col("df")).cast("long").as("df"), sum(col("ttf")).as("ttf"))
      .write.mode("overwrite").parquet(termStatsPath(dir, version))

  /** Term statistics tables are IMMUTABLE per snapshot version
    * (`term_stats_v<N>`) — refreshing for a new commit never touches the
    * files a reader pinned to an older snapshot still scans (the Iceberg
    * immutable-metadata rule). */
  private[graft] def termStatsPath(dir: String, version: Int): String = s"$dir/term_stats_v$version"

  /** The `data` table's schema: the [[StageRow]] columns plus the `batchNs`
    * namespace partition column. */
  private val DataSchema: StructType = Encoders.product[StageRow].schema.add("batchNs", LongType)

  /** Readers of the engine's own tables with the schemas it writes them
    * with, so no read runs Spark's one-task parquet schema-inference job.
    * Columns the files hold beyond the schema are not read. */
  private[graft] def readData(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(DataSchema).parquet(s"$dir/data")
  private[graft] def readTermStats(spark: SparkSession, dir: String, version: Int): DataFrame =
    spark.read.schema("term STRING, df BIGINT, ttf BIGINT").parquet(termStatsPath(dir, version))

  /** Per-partition segment accumulator (the DWPT analog). Streams input docs,
    * flushes a segment whenever the doc budget is reached, and emits one
    * manifest row per flushed segment. */
  private final class SegmentFlusher(cfg: IndexConfig, segNamespace: Long, pid: Int,
                                     docs: Iterator[InputDoc])
      extends Iterator[StageRow] {

    private var flushOrdinal = 0
    private val pending = mutable.Queue.empty[StageRow]

    /** Per-term accumulation in primitive buffers ([[graft.core.LongBuf]] /
      * [[graft.core.IntBuf]]) — the ByteSlicePool-spirit allocation
      * discipline (`lucene/core/src/java/org/apache/lucene/index/ByteSlicePool.java`):
      * ~15 bytes/token live instead of ~120 with boxed collections, which is
      * what keeps 32 concurrent flushers CPU-bound rather than GC-bound.
      * `positions` is the flat concatenation of each doc's positions; per-doc
      * boundaries are recovered from `freqs` prefix sums at flush time. */
    private final class PostingsBuf {
      val docIds = new graft.core.LongBuf
      val freqs = new graft.core.IntBuf
      val doclens = new graft.core.IntBuf
      val positions = new graft.core.IntBuf
      var ttf = 0L
    }

    /** Slice-keyed term hash: open addressing over (hash, char-slice
      * equality), so a term occurrence costs integer ops and a String is
      * allocated only on the FIRST occurrence of a term per segment — the
      * TermsHashPerField analog
      * (`lucene/core/src/java/org/apache/lucene/index/TermsHashPerField.java`).
      * At ~80 occurrences per distinct term this removes ~99% of tokenizer
      * String allocations from the build hot path, which is what keeps the
      * flush stage memory-bandwidth-light enough to scale with executor
      * threads. Dense slot ids stay stable across rehashes. */
    private final class TermTable {
      private var cap = 1 << 14
      private var table = new Array[Int](cap) // 0 = empty, else denseId + 1
      var keys = new Array[String](1 << 12)
      var bufs = new Array[PostingsBuf](1 << 12)
      var size = 0

      private def hashSlice(src: String, start: Int, end: Int): Int = {
        var h = 0
        var i = start
        while (i < end) { h = h * 31 + src.charAt(i); i += 1 }
        h
      }

      def lookup(src: String, start: Int, end: Int): Int = {
        val len = end - start
        val h = hashSlice(src, start, end)
        var idx = h & (cap - 1)
        while (true) {
          val v = table(idx)
          if (v == 0) {
            // new term: allocate its one String + buf
            if (size == keys.length) {
              keys = java.util.Arrays.copyOf(keys, size << 1)
              bufs = java.util.Arrays.copyOf(bufs, size << 1)
            }
            keys(size) = src.substring(start, end)
            bufs(size) = new PostingsBuf
            table(idx) = size + 1
            size += 1
            if (size * 2 > cap) rehash()
            return size - 1
          } else {
            val id = v - 1
            val k = keys(id)
            if (k.length == len && src.regionMatches(start, k, 0, len)) return id
          }
          idx = (idx + 1) & (cap - 1)
        }
        -1
      }

      private def rehash(): Unit = {
        cap <<= 1
        table = new Array[Int](cap)
        var id = 0
        while (id < size) {
          val k = keys(id)
          var idx = hashSlice(k, 0, k.length) & (cap - 1)
          while (table(idx) != 0) idx = (idx + 1) & (cap - 1)
          table(idx) = id + 1
          id += 1
        }
      }

      def clear(): Unit = {
        java.util.Arrays.fill(table, 0)
        java.util.Arrays.fill(keys.asInstanceOf[Array[AnyRef]], null)
        java.util.Arrays.fill(bufs.asInstanceOf[Array[AnyRef]], null)
        size = 0
      }
    }

    private val terms = new TermTable
    private var segDocs = new mutable.ArrayBuffer[(Long, Int)] // (docId, doclen)
    private var segSumDoclen = 0L

    // per-doc scratch (reused): term slot + position per occurrence
    private val scratchSlots = new graft.core.IntBuf(256)
    private val scratchPos = new graft.core.IntBuf(256)

    private val sink = new graft.core.TokenSink {
      override def accept(src: String, start: Int, end: Int, position: Int): Unit = {
        scratchSlots.add(terms.lookup(src, start, end))
        scratchPos.add(position)
      }
    }

    private def addDoc(d: InputDoc): Unit = {
      scratchSlots.reset(); scratchPos.reset()
      cfg.analyzer.tokenizeRaw(d.text, sink)
      val doclen = scratchSlots.length
      var i = 0
      while (i < doclen) {
        val buf = terms.bufs(scratchSlots(i))
        val n = buf.docIds.length
        if (n > 0 && buf.docIds(n - 1) == d.docId) {
          buf.freqs.bump(n - 1) // same doc: increment freq in place
        } else {
          buf.docIds.add(d.docId)
          buf.freqs.add(1)
          buf.doclens.add(doclen)
        }
        if (cfg.withPositions) buf.positions.add(scratchPos(i))
        buf.ttf += 1
        i += 1
      }
      segDocs += ((d.docId, doclen))
      segSumDoclen += doclen
    }

    private def flush(): Unit = {
      if (segDocs.isEmpty) return
      val segmentId = segNamespace + pid.toLong * 4096L + flushOrdinal
      var postingsFlushed = 0L
      segDocs.foreach { case (id, len) =>
        pending += StageRow.doc(segmentId, id, len, SmallFloat.intToByte4(len))
      }
      // flush terms in sorted order, like the reference's FreqProxTermsWriter
      // (`lucene/core/src/java/org/apache/lucene/index/FreqProxTermsWriter.java:43`)
      // — and, relationally, so parquet row-group min/max stats on `term`
      // prune term-lookup scans (the block-tree term dictionary analog).
      val entries = Array.tabulate(terms.size)(id => (terms.keys(id), terms.bufs(id)))
      scala.util.Sorting.stableSort(entries, (a: (String, PostingsBuf), b: (String, PostingsBuf)) => a._1 < b._1)
      entries.foreach { case (term, buf) =>
        // sort this term's postings by doc id (input order within a partition
        // is not guaranteed)
        val n = buf.docIds.length
        val order = Array.tabulate(n)(identity).sortBy(buf.docIds(_))
        val ids = order.map(buf.docIds(_))
        val fr = order.map(buf.freqs(_))
        val dl = order.map(buf.doclens(_))
        val pos: Array[Array[Int]] = if (cfg.withPositions) {
          // per-doc position slices from the flat buffer via freq prefix sums
          val offsets = new Array[Int](n)
          var acc = 0
          var j = 0
          while (j < n) { offsets(j) = acc; acc += buf.freqs(j); j += 1 }
          order.map(k => buf.positions.slice(offsets(k), buf.freqs(k)))
        } else null
        val blocks = PostingsCodec.encodeBlocks(ids, fr, dl, pos)
        blocks.grouped(PostingsCodec.BlocksPerRow).zipWithIndex.foreach {
          case (grp, gi) =>
            val df = grp.map(_.count).sum
            val ttf = if (gi == 0 && blocks.size <= PostingsCodec.BlocksPerRow) buf.ttf else {
              // per-row partial ttf: recompute from the group's freqs
              grp.map(b => BitPack.unpackInts(b.freqs, b.count).map(_.toLong).sum).sum
            }
            pending += StageRow.postings(segmentId, term, gi, df, ttf, grp)
            postingsFlushed += df
        }
      }
      pending += StageRow.segment(segmentId, pid, segDocs.length.toLong, segSumDoclen,
        terms.size.toLong, postingsFlushed, flushOrdinal)
      flushOrdinal += 1
      terms.clear()
      segDocs = new mutable.ArrayBuffer[(Long, Int)]
      segSumDoclen = 0L
    }

    override def hasNext: Boolean = {
      while (pending.isEmpty && docs.hasNext) {
        addDoc(docs.next())
        if (segDocs.length >= cfg.flushDocBudget || segSumDoclen >= cfg.flushTokenBudget) flush()
      }
      if (pending.isEmpty && segDocs.nonEmpty) flush()
      pending.nonEmpty
    }

    override def next(): StageRow = {
      if (!hasNext) throw new NoSuchElementException
      pending.dequeue()
    }
  }
}

/** An opened index: typed views over the staged tables.
  *
  * `postings`: term, segmentId, blockGroup, df, ttf, blocks
  * `docs`: docId, segmentId, doclen, dlb
  * `segments`: segmentId, partitionId, numDocs, sumDoclen, numTerms, postingsFlushed
  * `termStats`: term, df, ttf (global)
  */
final class InvertedIndex private (
    val spark: SparkSession,
    val dir: String,
    val analyzer: Analyzer,
    val collectionStats: CollectionStats,
    /** a merged index holds only rewritten postings; docs/segments/global
      * stats are read through the parent chain (segment data is immutable —
      * a merge is a postings rewrite + manifest swap, the Iceberg commit
      * model; no bulk copying of unchanged sections) */
    val parent: Option[InvertedIndex],
    /** the snapshot this reader is pinned to; its namespaces fix the
      * visible `batchNs` partitions for this reader's whole lifetime
      * (snapshot isolation) */
    val snapshot: Snapshots.Snapshot) extends Serializable {

  /** Stable identity of this reader's VISIBLE data: directory + pinned
    * snapshot version + parent chain. Segment data is immutable and a
    * reader's snapshot is fixed for its lifetime, so equal keys ⇒ identical
    * postings. This is the binding key for
    * [[graft.search.LRUQueryCache]] — the analog of the reference keying
    * cached DocIdSets per segment core key (`LRUQueryCache.java`): a cache
    * bound to one key must be discarded when the index changes (a
    * delete/append/merge commits a NEW snapshot version, so a reader over
    * the refreshed index gets a different key and refuses the stale cache). */
  lazy val identityKey: String =
    s"$dir@${snapshot.version}" +
      parent.map(p => "<-" + p.identityKey).getOrElse("")

  // Shared plan instances (@transient: an InvertedIndex travels into task
  // closures; DataFrames must not) — one instance per view means a caller's
  // `.cache()` (see [[warm]]) applies to every subsequent query.
  // partition pruning on the batchNs directory column — invisible
  // namespaces are never listed, let alone scanned
  @transient private lazy val data: DataFrame =
    IndexBuilder.readData(spark, dir).filter(col("batchNs").isin(snapshot.namespaces: _*))

  @transient lazy val postings: DataFrame =
    data.filter(col("kind") === 1)
      .select("term", "segmentId", "blockGroup", "df", "ttf", "nblocks", "blocks")

  @transient lazy val docs: DataFrame = parent match {
    case Some(p) => p.docs
    case None => data.filter(col("kind") === 0).select("docId", "segmentId", "doclen", "dlb")
  }

  @transient lazy val segments: DataFrame = parent match {
    case Some(p) => p.segments
    case None =>
      data.filter(col("kind") === 2)
        .select("segmentId", "partitionId", "numDocs", "sumDoclen", "numTerms",
          "postingsFlushed", "flushOrdinal")
  }

  /** term statistics (`term`, `df`, `ttf`) are merge-invariant — resolved
    * through the parent chain. Each snapshot's term statistics table is
    * immutable (`term_stats_v<N>`), so a pinned or time-traveled reader
    * scans exactly the files its commit wrote, no matter how many later
    * commits refresh the latest stats. Indexes written with extra per-term
    * columns open the same: only these three are read. */
  @transient lazy val termStats: DataFrame = parent match {
    case Some(p) => p.termStats
    case None => IndexBuilder.readTermStats(spark, dir, snapshot.version)
  }

  /** Tombstoned doc ids (`docId` column) pending physical purge, or None.
    * Resolves the whole parent chain: a tombstone names an external doc id,
    * which is version-independent, so deletes recorded on any ancestor apply
    * here too ([[Deletes]]). */
  @transient lazy val deletedDocs: Option[DataFrame] = {
    val own =
      if (java.nio.file.Files.exists(java.nio.file.Paths.get(s"$dir/deletes")))
        Some(spark.read.parquet(s"$dir/deletes"))
      else None
    (own.toSeq ++ parent.flatMap(_.deletedDocs).toSeq)
      .reduceOption(_ unionAll _).map(_.distinct())
  }

  /** The ids of [[deletedDocs]], sorted: the docs the search kernels skip
    * (`graft.search.Accept`). Collected on the driver by [[warm]], else on
    * first use; empty, with no job, when no tombstone is pending. Read it
    * on the driver only: a task's copy of the index does not hold it. */
  @transient lazy val deadDocIds: Array[Long] = deletedDocs.fold(Array.emptyLongArray) { d =>
    val ids = d.select(col("docId").cast("long")).collect().map(_.getLong(0))
    java.util.Arrays.sort(ids)
    ids
  }

  @transient @volatile private var warmStats: Map[String, (Long, Long)] = null

  // @transient like warmStats: task closures capture this index, and the
  // blocks must not travel with them
  @transient @volatile private var resident: Map[String, Array[PostingBlock]] = null

  /** Serving mode: pin the postings and statistics views in cluster cache
    * (compressed columnar) and materialize them — the analog of a
    * page-cache-resident Lucene index behind a `SearcherManager`. Repeated
    * queries then scan memory, not parquet.
    *
    * The term dictionary additionally becomes driver-resident when it is
    * small enough (Zipf vocabularies are tiny relative to postings): that
    * removes the per-query term-stats lookup JOB entirely — the
    * `TermStates.build` of a warm reader is a RAM lookup, not an IO — and
    * lets the searcher size a query's top-k plan before any job runs.
    *
    * The encoded posting blocks become driver-resident too ([[residentBlocks]])
    * when the cached postings fit an eighth of the driver heap — a size Spark
    * measured while caching them, so the check runs no job. The searcher then
    * runs a small query's kernel on the driver, with no job at all. The
    * cluster cache stays: the batch pass and the multi-slice plans read it.
    * The pending tombstones' ids ([[deadDocIds]]) are collected too. */
  def warm(): this.type = warmWithin(Runtime.getRuntime.maxMemory / 8)

  /** [[warm]] with the resident blocks' byte budget given: the blocks become
    * resident when [[cachedPostingsBytes]] is within it. */
  private[graft] def warmWithin(budget: Long): this.type = {
    postings.cache(); termStats.cache(); docs.cache()
    // one scan of each fills its cache (a count() plans an aggregate: two to
    // four jobs under AQE); Spark counts the rows while it caches them
    Seq(postings, termStats, docs).foreach(cached(_).foreach(_.cacheBuilder.cachedColumnBuffers.foreach(_ => ())))
    if (cached(termStats).flatMap(_.computeStats().rowCount).exists(_ <= 2000000))
      warmStats = termStats.select("term", "df", "ttf").collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    if (warmStats != null && cachedPostingsBytes <= budget) {
      import spark.implicits._
      val byTerm = mutable.HashMap.empty[String, mutable.ArrayBuilder[PostingBlock]]
      postings.select("term", "blocks").as[(String, Array[PostingBlock])].collect().foreach {
        case (t, bs) => byTerm.getOrElseUpdate(t, Array.newBuilder[PostingBlock]) ++= bs
      }
      resident = byTerm.iterator.map { case (t, b) => t -> b.result() }.toMap
    }
    deadDocIds // collected now, not by the first query
    this
  }

  /** The cluster cache entry of `df`, when it is cached. Once filled, its
    * statistics hold the measured size and row count. */
  private def cached(df: DataFrame): Option[InMemoryRelation] =
    spark.sharedState.cacheManager
      .lookupCachedData(df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]])
      .map(_.cachedRepresentation)

  /** The in-memory size Spark measured for the cached postings, or
    * `Long.MaxValue` when they are not cached. */
  private def cachedPostingsBytes: Long =
    cached(postings).map(_.computeStats().sizeInBytes)
      .filter(_.isValidLong).map(_.toLong).getOrElse(Long.MaxValue)

  /** Driver-resident term dictionary when [[warm]]ed (term → (df, ttf)). */
  def warmTermStats: Option[Map[String, (Long, Long)]] = Option(warmStats)

  /** Driver-resident encoded posting blocks when [[warm]] found the postings
    * within its budget (term → all of the term's blocks). */
  def residentBlocks: Option[Map[String, Array[PostingBlock]]] = Option(resident)

  /** Bytes of the [[residentBlocks]] payload; 0 when none are resident. */
  def residentBytes: Long =
    residentBlocks.fold(0L)(_.valuesIterator.flatMap(_.iterator).map(PostingsCodec.payloadBytes).sum)

  @transient @volatile private var warmSorted: Array[UTF8String] = null

  /** The driver-resident dictionary's terms sorted in UTF-8 byte order —
    * Catalyst's string order, so range and prefix bounds resolved here match
    * the `term` predicates a scan would evaluate. Built on first use, not by
    * [[warm]]. */
  def warmSortedTerms: Option[Array[UTF8String]] = Option(warmStats).map { m =>
    if (warmSorted == null) {
      val terms = m.keysIterator.map(UTF8String.fromString).toArray
      java.util.Arrays.sort(terms.asInstanceOf[Array[AnyRef]])
      warmSorted = terms
    }
    warmSorted
  }
}

object InvertedIndex {
  /** Open an index at `dir`.
    *
    * Sizing note for large-index sessions: postings rows carry multi-KB
    * nested binary payloads, so the default 4096-row vectorized-reader batch
    * buffers hundreds of MB per scan task (OnHeapColumnVector.appendBytes OOM
    * at high thread counts). Sessions that scan a large index wholesale
    * (merge, warm-up, benchmarks) should be created with
    * `spark.sql.parquet.columnarReaderBatchSize ≈ 256` (256 × ~50 KB ≈ 12 MB
    * per task). This is deliberately NOT set here: a library must not mutate
    * the caller's session conf and silently degrade every other parquet scan
    * in it (ADVICE r1 #2). */
  def open(spark: SparkSession, dir: String): InvertedIndex = open(spark, dir, None)

  /** Open an index pinned to snapshot version `asOf` (time travel), or to
    * the latest committed snapshot when `asOf` is None. A pinned reader's
    * visible data partitions never change, no matter how many micro-batches
    * commit after it opened (snapshot isolation — the Iceberg read model).
    * Its collection statistics are the sum of the entries its snapshot
    * recorded for those partitions, so scores match what a reader at that
    * commit computed; opening runs no Spark job. */
  def open(spark: SparkSession, dir: String, asOf: Option[Int]): InvertedIndex = {
    val parentPath = java.nio.file.Paths.get(s"$dir/parent")
    val parent =
      if (java.nio.file.Files.exists(parentPath))
        Some(open(spark, java.nio.file.Files.readString(parentPath).trim))
      else None
    val snapshot = asOf.map(Snapshots.read(dir, _)).orElse(Snapshots.latest(dir))
      .getOrElse(throw new IllegalStateException(s"$dir: no committed snapshot"))
    val analyzer = parent.map(_.analyzer).getOrElse(
      Analyzers.byName(java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$dir/analyzer")).trim))
    new InvertedIndex(spark, dir, analyzer, snapshot.collectionStats, parent, snapshot)
  }
}
