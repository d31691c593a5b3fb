package graft

import graft.core.SimpleAnalyzer
import graft.index.{Deletes, IndexBuilder, IndexConfig, InputDoc, InvertedIndex}
import graft.search._
import graft.streaming.Monitor
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Differential fuzzing: random query ASTs evaluated by two INDEPENDENT
  * implementations — the distributed index searcher (postings algebra,
  * top-k plans, expansions) and the per-document Monitor evaluator (MemoryIndex
  * analog) — must agree on the matching doc set. The reference uses the
  * same trick with `RandomIndexWriter` + dual-codec cross-checks
  * (`lucene/test-framework/src/java/org/apache/lucene/tests/index/RandomIndexWriter.java:53`).
  * The flat booleans and the positional trees also run `search(q, k)` on a
  * warmed reader whose blocks are driver-resident, against the cold
  * exhaustive top-k. A copy of the index with random tombstones checks that
  * `search` and `searchBatch` on a cold, a resident and an over-budget
  * reader equal `scored`'s live top-k.
  */
class FuzzSpec extends AnyFunSuite with BeforeAndAfterAll {
  import SparkTestEnv._

  private var warmed: Seq[InvertedIndex] = Nil
  private lazy val warmIndex: InvertedIndex = {
    val w = InvertedIndex.open(spark, index.dir).warm()
    warmed :+= w
    assert(w.residentBlocks.isDefined, "the fuzz index should be driver-resident when warm")
    w
  }
  private lazy val residentSearcher = new Searcher(warmIndex, ScoringMode.PreciseBM25())
  private lazy val exhaustive = new Searcher(index, ScoringMode.PreciseBM25())

  /** The cold reader's full scored doc set of `q`, ranked: the reference
    * top-k of the routed plans. */
  private def exhaustiveTopK(q: Query, k: Int): Seq[(Long, Double)] =
    rows(exhaustive.scored(q).orderBy(org.apache.spark.sql.functions.desc("score"),
      org.apache.spark.sql.functions.asc("docId")).limit(k))

  private var tombstonedDir: Option[String] = None

  override def afterAll(): Unit = {
    warmed.foreach { w => w.postings.unpersist(); w.termStats.unpersist(); w.docs.unpersist() }
    tombstonedDir.foreach(graft.tools.Rm.rmTree)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private lazy val vocab: IndexedSeq[String] =
    corpus.values.flatMap(_.map(_.term)).toSet.toIndexedSeq.sorted

  private lazy val views: Map[Long, Monitor.DocView] =
    corpus.map { case (id, toks) => id -> new Monitor.DocView(toks) }

  private def term(rnd: Random): String = vocab(rnd.nextInt(vocab.size))

  private def randLeaf(rnd: Random): Query = rnd.nextInt(8) match {
    case 0 | 1 => TermQuery(term(rnd))
    case 2 => PhraseQuery(Seq(term(rnd), term(rnd)))
    case 3 => PrefixQuery(term(rnd).take(1 + rnd.nextInt(3)))
    case 4 => TermInSetQuery(Set(term(rnd), term(rnd), term(rnd)))
    case 5 => FuzzyQuery(term(rnd), 1 + rnd.nextInt(2))
    case 6 => SynonymQuery(Seq(term(rnd), term(rnd)))
    case _ =>
      val a = term(rnd); val b = term(rnd)
      TermRangeQuery(Some(if (a <= b) a else b), Some(if (a <= b) b else a), true, rnd.nextBoolean())
  }

  /** n pairwise-distinct random terms (sloppy phrases reject repeats). */
  private def distinctTerms(rnd: Random, n: Int): Seq[String] = {
    val out = scala.collection.mutable.LinkedHashSet.empty[String]
    while (out.size < n) out += term(rnd)
    out.toSeq
  }

  private def randSource(rnd: Random, depth: Int): IntervalsSource =
    if (depth <= 0 || rnd.nextInt(3) == 0) Intervals.Term(term(rnd))
    else rnd.nextInt(5) match {
      case 0 => Intervals.Or(Seq(randSource(rnd, depth - 1), randSource(rnd, depth - 1)))
      case 1 => Intervals.Ordered(Seq(randSource(rnd, depth - 1), randSource(rnd, depth - 1)))
      case 2 => Intervals.Unordered(Seq(randSource(rnd, depth - 1), randSource(rnd, depth - 1)))
      case 3 => Intervals.MaxWidth(2 + rnd.nextInt(6), randSource(rnd, depth - 1))
      case _ => Intervals.Phrase(Seq(term(rnd), term(rnd)))
    }

  /** Leaves of the positional pass: sloppy phrases, multi-phrases,
    * span-near and interval sources, plus the plain leaves. */
  private def positionalLeaf(rnd: Random): Query = rnd.nextInt(6) match {
    case 0 => PhraseQuery(distinctTerms(rnd, 2 + rnd.nextInt(2)), slop = 1 + rnd.nextInt(3))
    case 1 => MultiPhraseQuery(Seq.fill(2 + rnd.nextInt(2))(Seq.fill(1 + rnd.nextInt(3))(term(rnd))))
    case 2 => SpanNearQuery(Seq.fill(2 + rnd.nextInt(2))(term(rnd)), rnd.nextInt(4), rnd.nextBoolean())
    case 3 => IntervalQuery(randSource(rnd, 2))
    case _ => randLeaf(rnd)
  }

  private def randQuery(rnd: Random, depth: Int, leaf: Random => Query = randLeaf): Query = {
    val isLeaf = depth <= 0 || rnd.nextInt(3) == 0
    if (isLeaf) leaf(rnd)
    else rnd.nextInt(4) match {
      case 0 =>
        val n = 2 + rnd.nextInt(3)
        BooleanQuery((0 until n).map { _ =>
          val occ = rnd.nextInt(5) match {
            case 0 => Occur.MUST_NOT
            case 1 | 2 => Occur.MUST
            case _ => Occur.SHOULD
          }
          occ -> randQuery(rnd, depth - 1, leaf)
        })
      case 1 =>
        val n = 2 + rnd.nextInt(2)
        BooleanQuery((0 until n).map(_ => Occur.SHOULD -> randQuery(rnd, depth - 1, leaf)),
          minimumShouldMatch = 1 + rnd.nextInt(2))
      case 2 => DisjunctionMaxQuery(Seq(randQuery(rnd, depth - 1, leaf), randQuery(rnd, depth - 1, leaf)))
      case _ => BoostQuery(randQuery(rnd, depth - 1, leaf), 0.5f + rnd.nextInt(4))
    }
  }

  test("fuzzed sliced boolean top-k == exhaustive (random terms, occur, k)") {
    val pruned = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    val plain = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)
    val rnd = new Random(424242)
    (0 until 25).foreach { i =>
      val n = 2 + rnd.nextInt(3)
      val ts = (0 until n).map(_ => term(rnd)).distinct
      val occ = if (rnd.nextBoolean()) Occur.MUST else Occur.SHOULD
      val k = Seq(1, 3, 10)(rnd.nextInt(3))
      val q = BooleanQuery(ts.map(t => occ -> TermQuery(t)))
      val b = plain.search(q, k).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      Seq("pruned" -> pruned, "resident" -> residentSearcher).foreach { case (label, s) =>
        val a = rows(s.search(q, k))
        assert(a.map(_._1) == b.map(_._1), s"fuzz-$label #$i: $occ $ts k=$k")
        a.zip(b).foreach { case ((_, sa), (_, sb)) =>
          assert(math.abs(sa - sb) < 1e-9, s"fuzz-$label #$i score: $occ $ts k=$k") }
      }
    }
  }

  /** The searcher's and the per-doc evaluator's doc sets agree on `n`
    * random trees, and with `resident` the resident reader's top-10 equals
    * the cold exhaustive one; returns how many were non-empty. */
  private def differential(label: String, seed: Long, n: Int, leaf: Random => Query,
      resident: Boolean = false): Int = {
    val searcher = new Searcher(index, ScoringMode.PreciseBM25())
    val rnd = new Random(seed)
    var nonEmpty = 0
    (0 until n).foreach { i =>
      val q = randQuery(rnd, depth = 2, leaf)
      val viaIndex: Set[Long] =
        searcher.scored(q).select("docId").collect().map(_.getLong(0)).toSet
      val viaDocs: Set[Long] =
        views.collect { case (id, v) if Monitor.matches(QueryRewriter.rewrite(q), v) => id }.toSet
      assert(viaIndex == viaDocs,
        s"$label #$i mismatch (idx=${viaIndex.size} docs=${viaDocs.size}) for $q\n" +
          s"only-index=${(viaIndex -- viaDocs).take(5)} only-docs=${(viaDocs -- viaIndex).take(5)}")
      if (resident)
        TopKAssertions.assertSameTopK(s"$label #$i resident top-10 of $q",
          rows(residentSearcher.search(q, 10)), exhaustiveTopK(q, 10))
      if (viaIndex.nonEmpty) nonEmpty += 1
    }
    nonEmpty
  }

  test("searcher doc set == per-doc evaluator on 120 random query trees") {
    val nonEmpty = differential("fuzz", 20260817, 120, randLeaf)
    assert(nonEmpty > 30, s"fuzz corpus too sparse: only $nonEmpty non-empty result sets")
    // a second pass whose leaves include sloppy phrases, multi-phrases,
    // span-near and interval sources: the positional kernel against the
    // per-doc evaluator
    val positional = differential("positional fuzz", 20261019, 60, positionalLeaf, resident = true)
    assert(positional > 15, s"positional fuzz too sparse: only $positional non-empty result sets")
  }

  test("tombstoned readers: search and searchBatch equal scored's live top-10") {
    val s = spark
    import s.implicits._
    // the fuzz corpus indexed into its own dir, so the shared index stays delete-free
    val dir = java.nio.file.Files.createTempDirectory("graft-fuzz-tomb-").toString
    tombstonedDir = Some(dir)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").as("docId"),
        org.apache.spark.sql.functions.col("text")).as[InputDoc]
    IndexBuilder.build(docs.repartition(4), dir, IndexConfig(SimpleAnalyzer))
    val rnd = new Random(20261020)
    val deleted = corpus.keys.filter(_ => rnd.nextDouble() < 0.2).toSet
    Deletes.tombstone(spark, dir, deleted.toSeq.map(java.lang.Long.valueOf).toDS())
    val reference = new Searcher(InvertedIndex.open(spark, dir), ScoringMode.PreciseBM25())
    val flat = Seq.fill(10) {
      val ts = Seq.fill(2 + rnd.nextInt(3))(term(rnd)).distinct
      val occ = if (rnd.nextBoolean()) Occur.MUST else Occur.SHOULD
      BooleanQuery(ts.map(t => occ -> TermQuery(t)))
    }
    val queries = (flat ++ Seq.fill(15)(randLeaf(rnd)) ++ Seq.fill(15)(positionalLeaf(rnd)))
      .zipWithIndex.map { case (q, i) => (s"q$i", q) }
    val want = queries.map { case (_, q) =>
      rows(reference.scored(q).orderBy(org.apache.spark.sql.functions.desc("score"),
        org.apache.spark.sql.functions.asc("docId")).limit(10))
    }
    assert(want.count(_.nonEmpty) > 20, "the tombstoned fuzz queries must match docs")
    val readers = Seq(
      "cold" -> InvertedIndex.open(spark, dir),
      "resident" -> InvertedIndex.open(spark, dir).warm(),
      "over budget" -> InvertedIndex.open(spark, dir).warmWithin(1L))
    warmed ++= readers.tail.map(_._2)
    assert(readers(1)._2.residentBlocks.isDefined && readers(2)._2.residentBlocks.isEmpty)
    readers.foreach { case (label, idx) =>
      val searcher = new Searcher(idx, ScoringMode.PreciseBM25())
      val batch = searcher.searchBatch(queries, 10).collect()
        .groupBy(_.getString(0))
        .map { case (id, rs) => id -> rs.sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq }
      queries.zip(want).foreach { case ((id, q), top) =>
        val hits = rows(searcher.search(q, 10))
        assert(!hits.exists(h => deleted(h._1)), s"$label: $q returned a deleted doc")
        TopKAssertions.assertSameTopK(s"$label tombstoned $q", hits, top)
        TopKAssertions.assertSameTopK(s"$label tombstoned batch $q", batch.getOrElse(id, Nil), top)
      }
    }
  }
}
