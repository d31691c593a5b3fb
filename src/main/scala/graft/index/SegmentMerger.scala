package graft.index

import graft.core._
import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.functions._
import org.apache.spark.util.CollectionAccumulator
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Streams consecutive equal-key runs of a (key-sorted) row iterator as
  * (key, rows-of-run) — the bounded-memory reduce-group iterator. */
private final class GroupedIterator(
    rows: Iterator[(String, Int, Seq[PostingBlock])])
    extends Iterator[((String, Int), Vector[Seq[PostingBlock]])] {
  private val it = rows.buffered
  override def hasNext: Boolean = it.hasNext
  override def next(): ((String, Int), Vector[Seq[PostingBlock]]) = {
    val (term, salt, _) = it.head
    val buf = Vector.newBuilder[Seq[PostingBlock]]
    while (it.hasNext && it.head._1 == term && it.head._2 == salt) {
      buf += it.next()._3
    }
    ((term, salt), buf.result())
  }
}

/** Driver-side summary of one merge round. */
final case class MergeMetrics(
    mergeRound: Int,
    rowsIn: Long,
    rowsOut: Long,
    blocksIn: Long,
    blocksOut: Long,
    saltedTerms: Int)

/** Distributed segment merge — the reference's
  * `SegmentMerger.merge`/`TieredMergePolicy` dataflow
  * (`lucene/core/src/java/org/apache/lucene/index/SegmentMerger.java:43,113`,
  * `TieredMergePolicy.java:317`) re-expressed as one salted shuffle.
  *
  * A fresh build leaves each term's postings scattered across per-partition
  * segments: a tail term (df ≈ 1..5) owns one tiny under-filled block per
  * segment it appears in. Merging compacts every term's postings into dense
  * 128-doc blocks, exactly like the reference's merge concatenates per-segment
  * posting lists (`index/FreqProxTermsWriter.java:83`); because our doc ids
  * are global external ids there is no `DocIDMerger` docBase rebase step.
  *
  * **Skew handling (the north rule's salted shuffle).** Keying the shuffle by
  * `term` alone would send a head term's entire posting list — proportional to
  * corpus size, ~10^12 postings at target scale — to ONE reduce task. Instead:
  *
  *  1. The skew pre-pass reads per-term df from the already-aggregated (and
  *     Zipf-tiny relative to postings) `term_stats` table — no postings scan.
  *  2. Terms whose df exceeds `targetPostingsPerGroup` are the head set —
  *     by Zipf's law a tiny fraction of the vocabulary. The
  *     `(term, nBuckets = ceil(df / target))` head set stays a JOINED FRAME
  *     (AQE broadcast-hashes it while small, sort-merges when not), never a
  *     driver-collected Map — at 10^12 docs the head vocabulary alone could
  *     be 10^6+ terms.
  *  3. Head-term rows get `salt = hash(segmentId, blockGroup) % nBuckets`;
  *     tail terms salt 0. The shuffle key is `(term, salt)`, so every reduce
  *     group holds ~`targetPostingsPerGroup` postings in expectation
  *     regardless of term frequency — bounded reducer memory at any corpus
  *     size.
  *  4. Each group is decoded, merge-sorted by doc id, and re-encoded into
  *     dense blocks. Different salt buckets of the same term emit rows with
  *     overlapping doc ranges; the query side never assumes cross-row doc
  *     ordering (only intra-block ordering, which re-encoding guarantees), so
  *     bucket independence costs nothing in correctness.
  *
  * Global `term_stats` and the collection statistics are invariant under
  * merge (same postings, different layout): the merged index reads the
  * `term_stats` and `docs` rows through its parent link, and its snapshot
  * records the source reader's collection statistics. A purge-merge
  * rewrites the surviving doc rows, counts them as it writes them, and
  * recomputes `term_stats` — like the reference, a merge that drops docs
  * rewrites the segment wholesale (`SegmentMerger.java:143-208`).
  */
object SegmentMerger {

  /** Pack one group's encoded blocks into bounded postings StageRows. */
  private def encodedRows(segmentId: Long, term: String, salt: Int,
                          blocks: Vector[PostingBlock]): Iterator[StageRow] =
    blocks.grouped(PostingsCodec.BlocksPerRow).zipWithIndex.map {
      case (grp, gi) =>
        val df = grp.map(_.count).sum
        val ttf = grp.map(b => BitPack.unpackInts(b.freqs, b.count).map(_.toLong).sum).sum
        StageRow.postings(segmentId, term, salt * 100000 + gi, df, ttf, grp)
    }

  /** The merged rows of reduce partition `pid`, adding its lineage
    * `(pid, rows, blocks, postings)` to `lineage` once they are exhausted
    * (partitions that write no row add none). */
  private def counted(pid: Int, rows: Iterator[StageRow],
      lineage: CollectionAccumulator[(Int, Long, Long, Long)]): Iterator[StageRow] =
    new Iterator[StageRow] {
      private var n, blocks, postings = 0L
      private var added = false
      override def hasNext: Boolean = rows.hasNext || {
        if (!added && n > 0) lineage.add((pid, n, blocks, postings))
        added = true
        false
      }
      override def next(): StageRow = {
        val r = rows.next()
        n += 1; blocks += r.nblocks; postings += r.df
        r
      }
    }

  /** Merge `index` into compacted segments at `targetDir`. Returns the opened
    * merged index plus driver-side metrics; per-output-partition lineage
    * (merge round, rows/blocks/postings written) lands in
    * `targetDir/merge_manifest`.
    */
  def merge(
      index: InvertedIndex,
      targetDir: String,
      mergeRound: Int = 1,
      /** max postings routed to one reduce group — the reducer-memory bound;
        * terms with df above this are salted across ceil(df/target) buckets */
      targetPostingsPerGroup: Int = 32768,
      /** compute driver-side row/block counts (two extra postings scans);
        * per-partition lineage in `merge_manifest` is written regardless */
      computeMetrics: Boolean = true): (InvertedIndex, MergeMetrics) = {
    val spark = index.spark
    import spark.implicits._
    // NOTE: callers merging large indexes should run in a session created
    // with spark.sql.parquet.columnarReaderBatchSize ≈ 256 (see
    // InvertedIndex.open scaladoc); the library does not mutate session conf.

    val postings = index.postings
    val rowsIn = if (computeMetrics) postings.count() else -1L
    val blocksIn =
      if (computeMetrics) postings.select(sum(col("nblocks"))).as[Long].head() else -1L

    // (1)+(2) skew pre-pass from the (tiny, pre-aggregated) term_stats table —
    // no postings scan. Reducer payload tracks df (postings per term), so the
    // salt keys on df: a term above the per-group budget is head, bucket count
    // proportional to its df. Broadcastable by Zipf: head terms are a
    // vanishing fraction of the vocabulary.
    val purge = index.deletedDocs.isDefined

    // The head set stays a FRAME, never a driver Map: at 10^12 docs the
    // df > target vocabulary is plausibly 10^6-10^7 terms — a
    // multi-hundred-MB closure would OOM the driver. As a join, AQE
    // broadcast-hashes it while small and sort-merges it when not.
    val headFrame = index.termStats
      .filter(col("df") > targetPostingsPerGroup.toLong)
      .select(col("term").as("headTerm"),
        ceil(col("df").cast("double") / targetPostingsPerGroup).cast("int").as("nBuckets"))
    val saltedTerms =
      if (computeMetrics) headFrame.count().toInt else -1
    val mergedSegBase = 1000000000L * mergeRound
    // Per-output-partition lineage, counted by the reduce tasks as they
    // write: the write's result stage applies each partition's update once,
    // so task retries do not double-count.
    val lineage = spark.sparkContext.collectionAccumulator[(Int, Long, Long, Long)]("merge lineage")

    // (4) per-group decode → merge-sort by doc → re-encode dense blocks.
    //
    // The reduce side STREAMS one (term, salt) group at a time: rows are
    // sort-ordered within each shuffle partition (a spillable sort, never an
    // in-memory map of the whole partition), so reducer live memory is one
    // group (~targetPostingsPerGroup postings), not one partition — the
    // memory bound that makes the merge safe at any corpus size and any
    // executor-thread count. Sorted order also means merged terms land in
    // parquet in term order → row-group min/max stats prune term lookups.
    // (3) salt in-plan: Catalyst murmur3 `hash` of (segmentId, blockGroup)
    // bucketed by the joined nBuckets; tail terms (no head row) salt 0.
    // Deterministic under task retries (hash is seed-fixed).
    val salted = postings
      .join(headFrame, col("term") === col("headTerm"), "left")
      .withColumn("salt",
        when(col("nBuckets").isNull, lit(0))
          .otherwise(pmod(hash(col("segmentId"), col("blockGroup")), col("nBuckets"))))
      .drop("headTerm", "nBuckets")

    val merged: Dataset[StageRow] =
      if (!purge) {
        // append-only merge: shuffle the ENCODED blocks (compressed payloads),
        // decode+re-encode once inside the reduce group
        salted
          .repartition(col("term"), col("salt"))
          .sortWithinPartitions("term", "salt")
          .select("term", "salt", "blocks")
          .as[(String, Int, Seq[PostingBlock])]
          .mapPartitions { rows =>
            val pid = TaskContext.getPartitionId()
            val grouped = new GroupedIterator(rows)
            counted(pid, grouped.flatMap { case ((term, salt), rowBlocks) =>
              val decoded = rowBlocks.iterator.flatten.map { b =>
                PostingsCodec.decodeBlock(b, withPositions = b.positions.nonEmpty)
              }.toVector
              val cap = decoded.iterator.map(_.docs.length).sum
              val docs = new Array[Long](cap); val freqs = new Array[Int](cap)
              val dls = new Array[Int](cap)
              val hasPos = decoded.exists(_.positions.nonEmpty)
              val pos = if (hasPos) new Array[Array[Int]](cap) else null
              var o = 0
              decoded.foreach { d =>
                var i = 0
                while (i < d.docs.length) {
                  docs(o) = d.docs(i); freqs(o) = d.freqs(i); dls(o) = d.doclens(i)
                  if (hasPos) pos(o) = d.positions(i)
                  o += 1
                  i += 1
                }
              }
              val n = o
              if (n == 0) Iterator.empty
              else {
                val order = Array.tabulate(n)(identity).sortBy(docs(_))
                val blocks = PostingsCodec.encodeBlocks(
                  order.map(docs), order.map(freqs), order.map(dls),
                  if (hasPos) order.map(pos) else null)
                encodedRows(mergedSegBase + pid, term, salt, blocks)
              }
            }, lineage)
          }
      } else {
        // purge-merge (forceMergeDeletes): postings are decoded MAP-SIDE to
        // per-posting rows and anti-joined against the tombstone FRAME inside
        // the shuffle — no driver-side delete set, so a 10^8-row update wave
        // purges with bounded driver memory. Catalyst/AQE picks the join
        // shape: a small tombstone side broadcasts (map-side filter, one
        // shuffle total), a huge one sort-merges (fully distributed). The
        // shuffle sort key includes docId, so each streamed (term, salt)
        // group arrives pre-sorted and re-encodes without an in-group sort.
        val tomb = index.deletedDocs.get.select(col("docId")).distinct()
        val decodedRows = salted
          .select("term", "salt", "blocks")
          .as[(String, Int, Seq[PostingBlock])]
          .mapPartitions { it =>
            it.flatMap { case (t, s, blks) =>
              blks.iterator.flatMap { b =>
                val d = PostingsCodec.decodeBlock(b, withPositions = b.positions.nonEmpty)
                val hasPos = d.positions.nonEmpty
                Iterator.tabulate(d.docs.length) { i =>
                  (t, s, d.docs(i), d.freqs(i), d.doclens(i),
                    if (hasPos) d.positions(i) else null)
                }
              }
            }
          }.toDF("term", "salt", "docId", "freq", "dl", "pos")
        decodedRows
          .join(tomb.withColumnRenamed("docId", "delId"),
            col("docId") === col("delId"), "left_anti")
          .repartition(col("term"), col("salt"))
          .sortWithinPartitions("term", "salt", "docId")
          .select("term", "salt", "docId", "freq", "dl", "pos")
          .as[(String, Int, Long, Int, Int, Array[Int])]
          .mapPartitions { rows =>
            val pid = TaskContext.getPartitionId()
            val it = rows.buffered
            counted(pid, new Iterator[Iterator[StageRow]] {
              override def hasNext: Boolean = it.hasNext
              override def next(): Iterator[StageRow] = {
                val (term, salt, _, _, _, _) = it.head
                val docs = new graft.core.LongBuf
                val freqs = new graft.core.IntBuf
                val dls = new graft.core.IntBuf
                val pos = scala.collection.mutable.ArrayBuffer.empty[Array[Int]]
                var hasPos = false
                while (it.hasNext && it.head._1 == term && it.head._2 == salt) {
                  val (_, _, d, f, dl, p) = it.next()
                  docs.add(d); freqs.add(f); dls.add(dl)
                  if (p != null) hasPos = true
                  pos += p
                }
                val n = docs.length
                val blocks = PostingsCodec.encodeBlocks(
                  Array.tabulate(n)(docs(_)), Array.tabulate(n)(freqs(_)),
                  Array.tabulate(n)(dls(_)), if (hasPos) pos.toArray else null)
                encodedRows(mergedSegBase + pid, term, salt, blocks)
              }
            }.flatten, lineage)
          }
      }

    merged.toDF().withColumn("batchNs", lit(0L))
      .write.mode("overwrite").partitionBy("kind", "batchNs")
      .option("parquet.block.size", 32 * 1024 * 1024)
      .option("compression", "zstd")
      .parquet(s"$targetDir/data")

    val stats = if (purge) {
      // Deletes applied: the merged index is standalone. Doc rows are
      // filtered and rewritten (counted as they are written), term
      // statistics recomputed over the survivors, and no tombstones carry
      // over — the forceMergeDeletes contract.
      def docsOwner(ix: InvertedIndex): InvertedIndex =
        ix.parent.map(docsOwner).getOrElse(ix)
      val owner = docsOwner(index)
      val delDf = index.deletedDocs.get.select(col("docId").as("delId")).distinct()
      val ownerDocs = {
        val all = IndexBuilder.readData(spark, owner.dir).filter(col("kind") === 0)
        // pin to the SOURCE reader's committed namespaces: an uncommitted
        // batchNs partition (crashed/in-flight micro-batch before
        // commitAppend) or a post-open commit must not resurrect into the
        // purged docs table — the merged postings above already read only the
        // snapshot-filtered index.postings (ADVICE r2 #1)
        all.filter(col("batchNs").isin(owner.snapshot.namespaces: _*))
      }
      val counter = IndexBuilder.DocCounter(spark)
      ownerDocs
        .join(delDf, col("docId") === col("delId"), "left_anti")
        .drop("delId", "batchNs")
        .as[StageRow]
        .mapPartitions(_.map { r => counter.add(1L, r.doclen); r })
        // rewritten rows all belong to the merged base namespace — keeping
        // the SOURCE batchNs would hide appended docs from the purged dir's
        // snapshot (which names only namespace 0)
        .withColumn("batchNs", lit(0L))
        .write.mode("append").partitionBy("kind", "batchNs")
        .option("compression", "zstd")
        .parquet(s"$targetDir/data")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$targetDir/analyzer"), index.analyzer.name)
      IndexBuilder.refreshTermStats(spark, targetDir, version = 1, namespaces = Seq(0L))
      counter.stats
    } else {
      // Docs, segment manifests and global stats are merge-invariant: the
      // merged index references them through a parent link instead of
      // rewriting them — a merge commit is "new postings + manifest swap",
      // like the reference swapping `segments_N` without touching unchanged
      // files (`lucene/core/src/java/org/apache/lucene/index/SegmentInfos.java:114`).
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$targetDir/parent"), index.dir)
      index.collectionStats
    }

    // merge commit in the target dir's snapshot log (history starts fresh in
    // the rewritten dir; the parent link preserves cross-dir lineage)
    Snapshots.clear(targetDir)
    Snapshots.commit(targetDir, if (purge) "purge" else "merge", Map(0L -> stats))

    val out = InvertedIndex.open(spark, targetDir)

    lineage.value.asScala.toSeq.sortBy(_._1)
      .map { case (pid, rows, blocks, postings) => (mergeRound, pid, rows, blocks, postings) }
      .toDF("mergeRound", "partitionId", "rowsOut", "blocksOut", "postings")
      .coalesce(1) // one file: a local relation writes one per task
      .write.mode("append").parquet(s"$targetDir/merge_manifest")

    val rowsOut = if (computeMetrics) out.postings.count() else -1L
    val blocksOut =
      if (computeMetrics) out.postings.select(sum(col("nblocks"))).as[Long].head() else -1L
    (out, MergeMetrics(mergeRound, rowsIn, rowsOut, blocksIn, blocksOut, saltedTerms))
  }
}
