package graft

import graft.core._
import graft.index._
import graft.search._
import org.apache.spark.{JobExecutionStatus, SparkJobInfo}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{asc, desc}
import org.apache.spark.sql.execution.LocalTableScanExec
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import TopKAssertions.assertSameTopK

/** Warm serving: the driver route a warmed index with resident blocks
  * takes for small queries must return the cold exhaustive top-k with no
  * Spark job, for one query and for a batch of them; an index warmed over
  * its resident-block budget must keep the one-task plan and the same
  * top-k; flat queries and phrases above the postings bound must take the
  * sliced plan, one slice per reduce task, and return the same top-k;
  * pending tombstones change no route: a tombstoned resident index serves
  * the same shapes on the driver and returns no deleted doc.
  * Checked on a built (doc-aligned) index and on its merge. */
class WarmServingSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestEnv.spark

  // a supplementary-plane term (U+1D41A U+1D41B) and high-BMP fullwidth
  // terms: UTF-16 order puts the first below the others, UTF-8 byte order
  // (Catalyst's) above them
  private val Supp = "𝐚𝐛"
  private val Full = "ｚｚ"
  // every doc carries every filler: 2,200 docs × 30 fillers puts the
  // fillers' disjunction above the route's 2^16-postings bound, so the
  // sliced plan cuts it into 2 doc-range slices
  private val Fillers = (0 until 30).map(i => s"c$i")
  private val config = IndexConfig(StandardLikeAnalyzer(), flushDocBudget = 64)

  private def docs(n: Int): Seq[InputDoc] = {
    val rnd = new scala.util.Random(17)
    (0 until n).map { i =>
      val words = Seq.fill(5 + rnd.nextInt(20))(s"w${math.min(29, (math.abs(rnd.nextGaussian()) * 8).toInt)}")
      val extra = (if (i % 7 == 0) Seq(Supp) else Nil) ++ (if (i % 5 == 0) Seq(Full) else Nil) ++
        (if (i % 11 == 0) Seq("ｚa") else Nil)
      InputDoc(i.toLong, (words ++ extra ++ Fillers).mkString(" "))
    }
  }

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[String]
  private def tempDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    tempDirs += dir
    dir
  }

  private lazy val baseDir: String = {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft-warm-")
    IndexBuilder.build(docs(2200).toDS().repartition(4), dir, config)
    dir
  }
  private lazy val mergedDir: String = {
    val dir = tempDir("graft-warm-merged-")
    SegmentMerger.merge(InvertedIndex.open(spark, baseDir), dir, targetPostingsPerGroup = 64,
      computeMetrics = false)
    dir
  }

  private val warmed = scala.collection.mutable.ArrayBuffer.empty[InvertedIndex]
  private def warm(dir: String): InvertedIndex = {
    val idx = InvertedIndex.open(spark, dir).warm()
    warmed += idx
    idx
  }
  /** Warmed with a 1-byte resident-block budget: its blocks stay off the
    * driver. */
  private def warmOverBudget(dir: String): InvertedIndex = {
    val idx = InvertedIndex.open(spark, dir).warmWithin(1L)
    warmed += idx
    idx
  }
  private def cold(dir: String) =
    new Searcher(InvertedIndex.open(spark, dir), ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)

  override def afterAll(): Unit = {
    warmed.foreach { i => i.postings.unpersist(); i.termStats.unpersist(); i.docs.unpersist() }
    tempDirs.foreach(graft.tools.Rm.rmTree)
  }

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  /** The exhaustive top-k of `q` on a cold reader of `dir`: its full scored
    * doc set ranked by score desc, docId asc. */
  private def exhaustive(dir: String, q: Query, k: Int): Seq[(Long, Double)] =
    rows(cold(dir).scored(q).orderBy(desc("score"), asc("docId")).limit(k))

  /** The driver route returns a local relation. */
  private def routed(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.isInstanceOf[LocalTableScanExec]

  /** A constant score ties every hit, which `assertSameTopK` accepts in any
    * order: its top-k must be exactly the k smallest doc ids. */
  private def assertConstantTopK(label: String, q: Query, got: Seq[(Long, Double)],
      want: Seq[(Long, Double)]): Unit = q match {
    case _: PrefixQuery | _: TermRangeQuery | _: TermInSetQuery => assert(got == want, label)
    case _ => assertSameTopK(label, got, want)
  }

  /** The one-task plan is the only one with a coalesce to one partition. */
  private def oneTask(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("Coalesce 1")

  /** The sliced top-k plan shuffles its rows into one partition per slice. */
  private def sliced(df: DataFrame): Boolean =
    df.queryExecution.executedPlan.toString.contains("REPARTITION_BY_NUM")

  private val queries: Seq[Query] = Seq(
    TermQuery("w0"),
    TermQuery("absent"),
    BooleanQuery.must(TermQuery("w1"), TermQuery("w2")),
    BooleanQuery.should(TermQuery("w3"), BoostQuery(TermQuery("w4"), 2f), TermQuery("w12")),
    BooleanQuery(Seq(Occur.MUST -> TermQuery("w1"), Occur.MUST_NOT -> TermQuery("w2"))),
    BooleanQuery(Seq(Occur.SHOULD -> TermQuery("w1"), Occur.SHOULD -> TermQuery("w2"),
      Occur.SHOULD -> TermQuery("w5")), minimumShouldMatch = 2),
    BooleanQuery(Seq(Occur.MUST -> TermQuery("w0"), Occur.SHOULD -> TermQuery("w6"),
      Occur.SHOULD -> TermQuery("w7")), minimumShouldMatch = 1),
    BooleanQuery(Seq(Occur.SHOULD -> TermQuery("w3"), Occur.SHOULD -> BoostQuery(TermQuery("w3"), 2.5f),
      Occur.MUST -> BoostQuery(TermQuery("w1"), 0.5f), Occur.MUST -> TermQuery("w1"))),
    BooleanQuery(Seq(Occur.MUST -> TermQuery("w2"), Occur.FILTER -> TermQuery("w0"),
      Occur.MUST_NOT -> TermQuery("w9"))),
    BooleanQuery(Seq(Occur.FILTER -> TermQuery("w1"), Occur.FILTER -> TermQuery("w3"))),
    BoostQuery(BooleanQuery.should(TermQuery("w8"), TermQuery("w10")), 3f),
    PhraseQuery(Seq("w0", "w1")),
    PhraseQuery(Seq("w0", "w0")),
    PhraseQuery(Seq("w1", "w3"), slop = 2),
    PhraseQuery(Seq("w2", "w0", "w1"), slop = 3),
    PhraseQuery(Seq("w0", "absent")),
    PrefixQuery("w1"),
    PrefixQuery("ｚ"),
    TermRangeQuery(Some("w2"), Some("w25"), includeLower = true, includeUpper = false),
    TermRangeQuery(Some(Full), None, includeLower = false, includeUpper = true),
    TermRangeQuery(Some("w9"), Some(Supp), includeLower = false, includeUpper = false),
    TermInSetQuery(Set("w5", Supp, "absent")),
    // more terms than a scan pushes down as values, and their UTF-8 range
    // also holds w19 and w2: the slice scan keeps only the set's terms
    TermInSetQuery(Set("w18") ++ (20 to 29).map(i => s"w$i")))

  test("warm statistics equal the cold dictionary; sorted terms follow Catalyst's order") {
    Seq(baseDir, mergedDir).foreach { dir =>
      val c = InvertedIndex.open(spark, dir)
      val w = warm(dir)
      val coldRows = c.termStats.select("term", "df", "ttf").collect()
      assert(w.warmTermStats.get == coldRows.map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap)
      assert(w.warmSortedTerms.get.map(_.toString).toSeq ==
        c.termStats.select("term").orderBy("term").collect().map(_.getString(0)).toSeq)
    }
  }

  test("warm top-k == cold exhaustive top-k, routed to the driver") {
    // the merged index scores exactly like the one it merges (MergeSpec), so
    // one cold reference serves both
    val warmSearchers = Seq(baseDir, mergedDir).map(d => new Searcher(warm(d), ScoringMode.PreciseBM25()))
    queries.foreach { q =>
      val want = exhaustive(baseDir, q, 20)
      warmSearchers.foreach { w =>
        val df = w.search(q, 20)
        assertConstantTopK(s"${w.index.dir}: $q", q, rows(df), want)
        if (want.nonEmpty) assert(routed(df), s"$q should take the driver route")
      }
    }
    // the supplementary-plane term sorts above the fullwidth ones
    assert(rows(warmSearchers.head.search(
      TermRangeQuery(Some(Full), None, includeLower = false, includeUpper = true), 20)).nonEmpty)
  }

  /** (jobs run while `construct` builds the frame, jobs run by its
    * `collect`, stages of those jobs). */
  private def jobProfile(construct: => DataFrame): (Int, Int, Int) = {
    val (built, executed) = jobsOf(construct)
    (built.size, executed.size, executed.map(_.stageIds.length).sum)
  }

  /** (jobs, stages, tasks) run by collecting `df`. */
  private def collectWork(df: => DataFrame): (Int, Int, Int) = {
    val executed = jobsOf(df)._2
    val stages = executed.flatMap(_.stageIds)
    (executed.size, stages.size,
      stages.flatMap(spark.sparkContext.statusTracker.getStageInfo(_)).map(_.numTasks).sum)
  }

  /** (jobs run while `construct` builds the frame, jobs run by its
    * `collect`). */
  private def jobsOf(construct: => DataFrame): (Seq[SparkJobInfo], Seq[SparkJobInfo]) = {
    val sc = spark.sparkContext
    val tag = s"warm-serving-${System.nanoTime()}"
    sc.setJobGroup(s"$tag-construct", "construct")
    val df = try construct finally sc.clearJobGroup()
    sc.setJobGroup(s"$tag-execute", "collect")
    try df.collect() finally sc.clearJobGroup()
    // the status tracker is fed by the listener bus, in order: once a marker
    // job run after the collect is seen finished, every job before it has
    // been seen finished too
    sc.setJobGroup(s"$tag-marker", "marker")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val st = sc.statusTracker
    def jobs(group: String) = st.getJobIdsForGroup(s"$tag-$group").toSeq.flatMap(st.getJobInfo(_))
    val deadline = System.nanoTime() + 10000000000L
    while (!jobs("marker").exists(_.status == JobExecutionStatus.SUCCEEDED) && System.nanoTime() < deadline)
      Thread.sleep(20)
    (jobs("construct"), jobs("execute"))
  }

  /** Tasks that read shuffled rows while `df` is collected. */
  private def shuffleReadingTasks(df: DataFrame): Int = {
    val sc = spark.sparkContext
    val group = s"warm-serving-reduce-${System.nanoTime()}"
    val jobs = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val ended = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val readers = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.add(e.jobId)
          e.stageIds.foreach(stages.add)
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stages.contains(e.stageId) && e.taskMetrics != null &&
          e.taskMetrics.shuffleReadMetrics.recordsRead > 0) readers.incrementAndGet()
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "reduce tasks")
      try df.collect() finally sc.clearJobGroup()
      // the listener sees a job's task ends before its end
      val deadline = System.nanoTime() + 10000000000L
      while ((jobs.isEmpty || !ended.containsAll(jobs)) && System.nanoTime() < deadline) Thread.sleep(20)
      readers.get
    } finally sc.removeSparkListener(listener)
  }

  test("a routed query runs no job, inside search() or in its collect") {
    val w = new Searcher(warm(mergedDir), ScoringMode.PreciseBM25())
    Seq(TermQuery("w0"), BooleanQuery.must(TermQuery("w1"), TermQuery("w2")),
      PhraseQuery(Seq("w0", "w1")), PrefixQuery("w1"),
      TermRangeQuery(Some("w2"), Some("w25"), includeLower = true, includeUpper = false),
      TermInSetQuery(Set("w5", Supp, "absent"))).foreach { q =>
      assert(jobProfile(w.search(q, 10)) == ((0, 0, 0)), s"$q")
    }
  }

  /** A batch's rows per query id, in rank order; asserts the ranks run
    * 1..n. */
  private def byQuery(batch: DataFrame): Map[String, Seq[(Long, Double)]] =
    batch.collect().groupBy(_.getString(0)).map { case (id, rs) =>
      val ranked = rs.sortBy(_.getLong(3)).toSeq
      assert(ranked.map(_.getLong(3)) == (1L to ranked.size.toLong), s"$id ranks")
      id -> ranked.map(r => (r.getLong(1), r.getDouble(2)))
    }

  private val batchQueries: Seq[(String, Query)] = queries.zipWithIndex.map { case (q, i) => (s"q$i", q) }

  test("a batch on a resident index is served on the driver: search's rows, cold's top-k, no job") {
    Seq(baseDir, mergedDir).foreach { dir =>
      val w = new Searcher(warm(dir), ScoringMode.PreciseBM25())
      val batch = w.searchBatch(batchQueries, 20)
      assert(routed(batch), s"$dir: ${batch.queryExecution.executedPlan}")
      val got = byQuery(batch)
      batchQueries.foreach { case (id, q) =>
        val hits = got.getOrElse(id, Nil)
        assert(hits == rows(w.search(q, 20)), s"$dir: $q")
        assertSameTopK(s"$dir batch: $q", hits, exhaustive(baseDir, q, 20))
      }
      assert(jobProfile(w.searchBatch(batchQueries, 20)) == ((0, 0, 0)), dir)
    }
  }

  test("a mixed batch unions the driver-served rows with the batched slice plan") {
    val dismax = DisjunctionMaxQuery(Seq(TermQuery("w1"), TermQuery("w2"), TermQuery("w5")), 0.3f)
    val disjunction = BooleanQuery.should(Fillers.map(TermQuery): _*)
    // an interval source with a prefix leaf expands with a dictionary job, so
    // the batch runs it through search
    val prefixed = IntervalQuery(Intervals.Ordered(Seq(Intervals.Term("w0"), Intervals.Prefix("w1"))))
    val mixed = Seq("served" -> BooleanQuery.must(TermQuery("w1"), TermQuery("w2")),
      "dismax" -> dismax, "fillers" -> disjunction, "phrase" -> PhraseQuery(Seq("w0", "w1")),
      "prefixed" -> prefixed)
    Seq(baseDir, mergedDir).foreach { dir =>
      val w = new Searcher(warm(dir), ScoringMode.PreciseBM25())
      val batch = w.searchBatch(mixed, 10)
      assert(!routed(batch), s"$dir: the fillers take the slice plan, the dismax its own search")
      val got = byQuery(batch)
      mixed.foreach { case (id, q) =>
        assertSameTopK(s"$dir mixed batch: $q", got.getOrElse(id, Nil), exhaustive(baseDir, q, 10))
      }
      assert(got("served") == rows(w.search(mixed.head._2, 10)), dir)
    }
  }

  test("a batch on an index warmed over its budget plans Spark work and equals cold") {
    Seq(baseDir, mergedDir).foreach { dir =>
      val w = new Searcher(warmOverBudget(dir), ScoringMode.PreciseBM25())
      val batch = w.searchBatch(batchQueries, 20)
      assert(!routed(batch), s"$dir over budget: ${batch.queryExecution.executedPlan}")
      val got = byQuery(batch)
      batchQueries.foreach { case (id, q) =>
        assertSameTopK(s"$dir over budget batch: $q", got.getOrElse(id, Nil), exhaustive(baseDir, q, 20))
      }
    }
  }

  test("a batch on an over-budget index runs as many jobs, stages and tasks as a batch of 2 of its queries") {
    Seq(baseDir, mergedDir).foreach { dir =>
      val w = new Searcher(warmOverBudget(dir), ScoringMode.PreciseBM25())
      val all = collectWork(w.searchBatch(batchQueries, 20))
      val two = collectWork(w.searchBatch(batchQueries.take(2), 20))
      assert(all == two, s"$dir: ${batchQueries.size} queries $all, 2 queries $two (jobs, stages, tasks)")
    }
  }

  test("building a cold batch of routed queries runs one job: the statistics lookup") {
    Seq(baseDir, mergedDir).foreach { dir =>
      val c = cold(dir)
      // open the reader's views first: their parquet schema reads are jobs
      Seq(c.index.postings, c.index.termStats).foreach(_.schema)
      // the batch holds flat, positional and expansion queries: the one
      // lookup also resolves the expansions' terms
      assert(jobProfile(c.searchBatch(batchQueries, 20))._1 == 1, dir)
    }
  }

  test("searchBatch rejects duplicate query ids on a resident reader and on a cold one") {
    val dup = Seq("a" -> TermQuery("w0"), "b" -> PhraseQuery(Seq("w0", "w1")), "a" -> TermQuery("w1"))
    Seq(new Searcher(warm(mergedDir), ScoringMode.PreciseBM25()), cold(mergedDir)).foreach { s =>
      intercept[IllegalArgumentException](s.searchBatch(dup, 10))
    }
  }

  test("an index warmed over its resident-block budget keeps the one-task plan and equals cold") {
    Seq(baseDir, mergedDir).foreach { dir =>
      val idx = warmOverBudget(dir)
      assert(idx.residentBlocks.isEmpty && idx.residentBytes == 0L)
      val w = new Searcher(idx, ScoringMode.PreciseBM25())
      queries.foreach { q =>
        val want = exhaustive(baseDir, q, 20)
        val df = w.search(q, 20)
        assertConstantTopK(s"$dir over budget: $q", q, rows(df), want)
        if (want.nonEmpty) assert(oneTask(df) && !routed(df), s"$q should take the one-task plan")
      }
    }
  }

  test("resident blocks: residentBytes counts them, and they do not travel with the index") {
    def serializedSize(idx: InvertedIndex): Int = {
      val bytes = new java.io.ByteArrayOutputStream()
      val out = new java.io.ObjectOutputStream(bytes)
      out.writeObject(idx)
      out.close()
      bytes.size
    }
    val coldIdx = InvertedIndex.open(spark, mergedDir)
    val idx = warm(mergedDir)
    assert(coldIdx.residentBytes == 0L && coldIdx.residentBlocks.isEmpty)
    assert(idx.residentBytes > 0L)
    // every term of the dictionary is resident with all of its postings
    val blocks = idx.residentBlocks.get
    assert(blocks.keySet == idx.warmTermStats.get.keySet)
    assert(blocks.forall { case (t, bs) => bs.map(_.count.toLong).sum == idx.warmTermStats.get(t)._1 })
    val (c, r) = (serializedSize(coldIdx), serializedSize(idx))
    assert(r <= c + 1024, s"a resident index serializes to $r bytes, a cold one to $c")
  }

  test("queries above the postings bound take the sliced top-k plan, a slice per task") {
    val disjunction = BooleanQuery.should(Fillers.map(TermQuery): _*)
    // every doc without w0 matches with score 0, so the top-k is the k
    // smallest such doc ids: the docId tie-break within and across the
    // slices decides it
    val conjunction = BooleanQuery(Fillers.map(t => Occur.FILTER -> TermQuery(t)) :+
      (Occur.MUST_NOT -> TermQuery("w0")))
    val want = Seq(disjunction, conjunction).map(exhaustive(baseDir, _, 10))
    Seq(baseDir, mergedDir).foreach { dir =>
      val w = new Searcher(warm(dir), ScoringMode.PreciseBM25())
      val Seq(d, c) = Seq(disjunction, conjunction).map(w.search(_, 10))
      assert(!routed(d) && sliced(d), s"$dir: filler disjunction")
      assertSameTopK(s"$dir: filler disjunction", rows(d), want(0))
      assert(!routed(c) && sliced(c), s"$dir: filler conjunction")
      // one slice per reduce task: the 2 slices' rows go to 2 tasks
      Seq(d, c).foreach(df => assert(shuffleReadingTasks(df) == 2, s"$dir: ${df.queryExecution.executedPlan}"))
      assert(want(1).nonEmpty && rows(c) == want(1), s"$dir: filler conjunction ${rows(c)} vs ${want(1)}")
      // every doc carries the fillers in order: the phrase (Σdf 66,000)
      // takes the positional plan's 2 slices, and each doc matches exactly
      // once, also where a block spans the slice boundary
      val p = w.search(PhraseQuery(Fillers), 3000)
      assert(!routed(p) && sliced(p), s"$dir: filler phrase")
      val ids = rows(p).map(_._1)
      assert(ids.sorted == (0L until 2200L), s"$dir: filler phrase matched ${ids.size} rows")
      // the fillers' prefix matches 30 terms and 66,000 postings: a route of
      // 2 slices on a resident, an over-budget and a cold reader alike
      val prefix = PrefixQuery("c")
      val top = exhaustive(baseDir, prefix, 10)
      assert(top.map(_._1) == (0L until 10L), s"$dir: filler prefix")
      Seq("resident" -> w, "over budget" -> new Searcher(warmOverBudget(dir), ScoringMode.PreciseBM25()),
        "cold" -> cold(dir)).foreach { case (label, s) =>
        val df = s.search(prefix, 10)
        assert(!routed(df) && sliced(df), s"$dir $label: filler prefix ${df.queryExecution.executedPlan}")
        assert(rows(df) == top, s"$dir $label: filler prefix")
      }
      assert(shuffleReadingTasks(w.search(prefix, 10)) == 2, s"$dir: filler prefix")
    }
  }

  // runs last: it tombstones docs of the shared index
  test("a tombstoned resident index serves routed shapes with no job, no deleted doc") {
    val s = spark
    import s.implicits._
    val shapes = Seq(TermQuery("w0"), BooleanQuery.must(TermQuery("w0"), TermQuery("w1")),
      PhraseQuery(Seq("w0", "w1")), PrefixQuery("w1"),
      TermRangeQuery(Some("w2"), Some("w25"), includeLower = true, includeUpper = false))
    // the top doc of each shape is deleted too, so every top-k loses a doc
    val before = new Searcher(InvertedIndex.open(spark, baseDir), ScoringMode.PreciseBM25())
    val deleted = Set(0L, 5L, 7L) ++ shapes.map(q => rows(before.search(q, 1)).head._1)
    Deletes.tombstone(spark, baseDir, deleted.toSeq.map(java.lang.Long.valueOf).toDS())
    val w = new Searcher(warm(baseDir), ScoringMode.PreciseBM25())
    val exhaustive = new Searcher(InvertedIndex.open(spark, baseDir), ScoringMode.PreciseBM25())
    val want = shapes.map { q =>
      rows(exhaustive.scored(q).orderBy(desc("score"), asc("docId")).limit(10))
    }
    shapes.zip(want).foreach { case (q, top) =>
      assert(top.size == 10 && !top.exists(h => deleted(h._1)), s"$q: the exhaustive plan's live top-10")
      val got = w.search(q, 10)
      assert(routed(got), s"tombstoned $q should take the driver route")
      assert(jobProfile(w.search(q, 10)) == ((0, 0, 0)), s"tombstoned $q")
      val hits = rows(got)
      assert(!hits.exists(h => deleted(h._1)), s"$q returned a deleted doc")
      assertSameTopK(s"tombstoned $q", hits, top)
      assertSameTopK(s"tombstoned cold $q", rows(cold(baseDir).search(q, 10)), top)
    }
    val batch = shapes.zipWithIndex.map { case (q, i) => (s"t$i", q) }
    assert(jobProfile(w.searchBatch(batch, 10)) == ((0, 0, 0)), "tombstoned batch")
    val got = byQuery(w.searchBatch(batch, 10))
    batch.zip(want).foreach { case ((id, q), top) => assertSameTopK(s"tombstoned batch $q", got(id), top) }
  }
}
