package graft

import graft.index._
import graft.search._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Segment-merge metamorphic + invariant tests (SURVEY.md §5: merged index
  * must be observationally identical to the unmerged one; pattern from the
  * reference's `TestSegmentMerger` / `BaseMergePolicyTestCase`).
  */
class MergeSpec extends AnyFunSuite {
  import SparkTestEnv._

  // tiny flush budget + small salt budget → many segments, real salting
  lazy val fragmented: InvertedIndex = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-frag-").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docId"), col("text"))
      .repartition(8)
      .as[InputDoc]
    IndexBuilder.build(docs, dir, IndexConfig(graft.core.SimpleAnalyzer, flushDocBudget = 32))
  }

  lazy val mergedPair: (InvertedIndex, MergeMetrics) = {
    val dir = java.nio.file.Files.createTempDirectory("graft-merged-").toString
    SegmentMerger.merge(fragmented, dir, mergeRound = 1, targetPostingsPerGroup = 64)
  }

  test("merge compacts: fewer postings rows and blocks, head terms salted") {
    val (_, m) = mergedPair
    assert(m.rowsOut <= m.rowsIn, s"rows ${m.rowsOut} > ${m.rowsIn}")
    assert(m.blocksOut <= m.blocksIn, s"blocks ${m.blocksOut} > ${m.blocksIn}")
    assert(m.saltedTerms > 0, "expected head terms to be salted at targetPostingsPerGroup=64")
  }

  test("merge preserves global term statistics exactly") {
    val (merged, _) = mergedPair
    val before = fragmented.termStats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val after = merged.termStats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(before == after)
    assert(merged.collectionStats == fragmented.collectionStats)
  }

  test("merged index satisfies CheckIndex invariants") {
    val (merged, _) = mergedPair
    val violations = CheckIndex.check(merged)
    assert(violations.isEmpty, violations.take(5).mkString("; "))
  }

  test("Or and no-required-term intervals on a MERGED index: no positional shuffle, exact") {
    val (merged, _) = mergedPair
    val s = new Searcher(merged, ScoringMode.PreciseBM25())
    // head-term disjunctions — no required term gates the source, so every
    // present term leads the slice kernel; only encoded blocks shuffle
    def brute(src: graft.search.IntervalsSource): Set[Long] =
      corpus.collect { case (doc, toks)
        if graft.search.IntervalEval.matches(src,
          toks.groupBy(_.term).map { case (t, ts) => t -> ts.map(_.position).toArray.sorted })
        => doc }.toSet
    def or(a: String, b: String) = Intervals.Or(Seq(Intervals.Term(a), Intervals.Term(b)))
    // a term-only Or at the root, a mixed Or whose Ordered branch has its own
    // required terms, and an Or nested under an Unordered (no required term
    // anywhere): none unions positional postings into a doc-keyed shuffle
    Seq(
      or("spark", "fast"),
      Intervals.Or(Seq(
        Intervals.Term("spark"),
        Intervals.Ordered(Seq(Intervals.Term("fast"), Intervals.Term("data"))))),
      Intervals.Unordered(Seq(or("query", "window"), or("scan", "merge")))
    ).foreach { src =>
      val frame = s.scored(IntervalQuery(src))
      val plan = frame.queryExecution.executedPlan.toString
      assert(!plan.contains("plists") && !plan.contains("collect_list"),
        s"$src must not union positional postings into a doc-keyed shuffle:\n$plan")
      val got = frame.collect().map(_.getLong(0)).toSet
      assert(got == brute(src), s"$src")
      assert(got.nonEmpty, s"$src")
    }
  }

  test("sliced top-k is exact on a MERGED index") {
    // merged postings are re-sharded by (term, salt): one doc's terms live in
    // different merged "segments", so a plan that scored segments on their
    // own would sum partial scores — the sliced top-k plan cuts by doc range
    // instead, and pruneThreshold = 1 sends these queries to it
    val (merged, _) = mergedPair
    val pruned = new Searcher(merged, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    val plain = new Searcher(merged, ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)
    Seq(Seq("spark", "data"), Seq("the", "dup", "vector")).foreach { ts =>
      Seq(true, false).foreach { conj =>
        val q = BooleanQuery(ts.map(t =>
          (if (conj) Occur.MUST else Occur.SHOULD) -> TermQuery(t)))
        val a = pruned.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        val b = plain.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
        assert(a.map(_._1) == b.map(_._1), s"pruned-on-merged != exhaustive for $ts conj=$conj")
        a.zip(b).foreach { case ((_, sa), (_, sb)) => assert(math.abs(sa - sb) < 1e-9) }
      }
    }
  }

  test("metamorphic: identical query results before and after merge") {
    val (merged, _) = mergedPair
    val a = new Searcher(fragmented, ScoringMode.PreciseBM25())
    val b = new Searcher(merged, ScoringMode.PreciseBM25())
    val queries: Seq[Query] = Seq(
      TermQuery("spark"),
      TermQuery("the"),
      BooleanQuery.must(TermQuery("data"), TermQuery("dup")),
      BooleanQuery.should(TermQuery("vector"), TermQuery("stream")),
      PhraseQuery(Seq("batch", "batch")),
      PhraseQuery(Seq("fast", "key"), slop = 2),
      MultiPhraseQuery(Seq(Seq("the", "a"), Seq("fast", "big"))),
      SpanNearQuery(Seq("spark", "window"), 1, inOrder = false),
      IntervalQuery(Intervals.Unordered(Seq(
        Intervals.Or(Seq(Intervals.Term("query"), Intervals.Term("window"))),
        Intervals.Or(Seq(Intervals.Term("scan"), Intervals.Term("merge")))))),
      PrefixQuery("st"))
    queries.foreach { q =>
      val ra = a.search(q, 20).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val rb = b.search(q, 20).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(ra == rb, s"merge changed results for $q")
    }
  }

  test("purge-merge with 10^6+ tombstones (distributed anti-join, no driver set)") {
    import spark.implicits._
    // copy the fragmented index into its own dir so the shared fixture stays
    // tombstone-free, then tombstone 1.2M ids — every odd corpus doc plus a
    // large non-resident id range, the shape of a mass update wave. The purge
    // path must anti-join the tombstone FRAME inside the shuffle (a driver
    // Set of this many ids is the r2 OOM shape being regression-tested).
    val dir = java.nio.file.Files.createTempDirectory("graft-bigtomb-").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docId"), col("text"))
      .repartition(4)
      .as[InputDoc]
    IndexBuilder.build(docs, dir, IndexConfig(graft.core.SimpleAnalyzer, flushDocBudget = 64))
    val corpusIds = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("long")).as[Long].collect().sorted
    val oddIds = corpusIds.filter(_ % 2 == 1)
    val tombs = spark.range(10000000L, 11200000L).map(java.lang.Long.valueOf(_))
      .union(oddIds.toSeq.map(java.lang.Long.valueOf(_)).toDS())
    Deletes.tombstone(spark, dir, tombs)
    val reopened = InvertedIndex.open(spark, dir)
    assert(reopened.deletedDocs.get.count() >= 1200000L)
    val (purged, _) = SegmentMerger.merge(reopened, dir + "-purged", computeMetrics = false)
    // survivors: exactly the even corpus docs, with recomputed stats
    val evenIds = corpusIds.filter(_ % 2 == 0)
    assert(purged.docs.count() == evenIds.length)
    assert(purged.collectionStats.docCount == evenIds.length)
    assert(purged.deletedDocs.isEmpty)
    // postings carry no tombstoned doc
    val resident = new Searcher(purged).scored(MatchAllDocsQuery)
      .select("docId").as[Long].collect().toSet
    assert(resident == evenIds.toSet)
    val violations = CheckIndex.check(purged)
    assert(violations.isEmpty, violations.take(5).mkString("; "))
  }

  test("merge manifest records per-partition lineage") {
    val (merged, m) = mergedPair
    val manifest = spark.read.parquet(s"${merged.dir}/merge_manifest")
    val rows = manifest.collect()
    assert(rows.nonEmpty)
    assert(manifest.columns.toSet ==
      Set("mergeRound", "partitionId", "rowsOut", "blocksOut", "postings"))
    val totalRows = rows.map(r => r.getLong(r.fieldIndex("rowsOut"))).sum
    assert(totalRows == m.rowsOut)
  }

  test("merge manifest rows == the per-partition counts of the merged postings (append and purge)") {
    import spark.implicits._
    // the lineage the reduce tasks count, against a recount of what they wrote
    def manifest(ix: InvertedIndex): Set[(Int, Int, Long, Long, Long)] =
      spark.read.parquet(s"${ix.dir}/merge_manifest").collect().map(r =>
        (r.getAs[Int]("mergeRound"), r.getAs[Int]("partitionId"), r.getAs[Long]("rowsOut"),
          r.getAs[Long]("blocksOut"), r.getAs[Long]("postings"))).toSet
    def recount(ix: InvertedIndex, round: Int): Set[(Int, Int, Long, Long, Long)] =
      ix.postings.filter(col("segmentId") >= 1000000000L * round).groupBy("segmentId")
        .agg(count(lit(1)), sum("nblocks"), sum("df")).collect().map(r =>
          (round, (r.getLong(0) - 1000000000L * round).toInt, r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val (merged, _) = mergedPair
    assert(manifest(merged).nonEmpty)
    assert(manifest(merged) == recount(merged, 1))

    val dir = java.nio.file.Files.createTempDirectory("graft-purge-lineage-").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").as("docId"), col("text")).repartition(4).as[InputDoc]
    val built = IndexBuilder.build(docs, dir, IndexConfig(graft.core.SimpleAnalyzer, flushDocBudget = 64))
    Deletes.tombstone(spark, dir, built.docs.select(col("docId")).as[Long].limit(25).map(java.lang.Long.valueOf(_)))
    val (purged, _) = SegmentMerger.merge(InvertedIndex.open(spark, dir), dir + "-purged",
      mergeRound = 2, computeMetrics = false)
    assert(manifest(purged).nonEmpty)
    assert(manifest(purged) == recount(purged, 2))
  }
}

/** Top-k of a cold searcher with `pruneThreshold = 1` (every flat query takes
  * the sliced top-k plan) ≡ exhaustive (metamorphic, pattern from the
  * reference's `TestBlockMaxConjunction` / WAND equivalence tests). The
  * "pruned" names predate the sliced plan, which replaced the block-max
  * pruned one.
  */
class PrunedBooleanSpec extends AnyFunSuite {
  import SparkTestEnv._

  test("pruned OR top-k == exhaustive OR top-k") {
    val pruned = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    val plain = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)
    val termSets = Seq(
      Seq("spark", "data"),
      Seq("the", "dup", "vector"),
      Seq("stream", "batch", "query", "line"))
    termSets.foreach { ts =>
      val q = BooleanQuery(ts.map(t => Occur.SHOULD -> TermQuery(t)))
      val a = pruned.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = plain.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a.map(_._1) == b.map(_._1), s"pruned OR doc ids != exhaustive for $ts")
      a.zip(b).foreach { case ((_, sa), (_, sb)) => assert(math.abs(sa - sb) < 1e-9) }
    }
  }

  test("pruned AND top-k == exhaustive AND top-k") {
    val pruned = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    val plain = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)
    val termSets = Seq(Seq("data", "dup"), Seq("the", "data", "query"))
    termSets.foreach { ts =>
      val q = BooleanQuery(ts.map(t => Occur.MUST -> TermQuery(t)))
      val a = pruned.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val b = plain.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(a.map(_._1) == b.map(_._1), s"pruned AND doc ids != exhaustive for $ts")
      a.zip(b).foreach { case ((_, sa), (_, sb)) => assert(math.abs(sa - sb) < 1e-9) }
    }
  }

  test("pruned path handles absent terms") {
    val pruned = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    val or = pruned.search(BooleanQuery(Seq(
      Occur.SHOULD -> TermQuery("spark"), Occur.SHOULD -> TermQuery("zzzznotaterm"))), 5)
    assert(or.count() > 0)
    val and = pruned.search(BooleanQuery(Seq(
      Occur.MUST -> TermQuery("spark"), Occur.MUST -> TermQuery("zzzznotaterm"))), 5)
    assert(and.count() == 0)
  }
}
