package graft

import graft.core._
import graft.index._
import graft.search._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session + a shared index over sf0.001 documents. */
object SparkTestEnv {
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  val sfDir = "/root/testdata/sf0.001"

  lazy val index: InvertedIndex = Indexes.documentsIndex(spark, sfDir)

  /** In-memory corpus: docId -> tokenized terms (same analyzer as the index). */
  lazy val corpus: Map[Long, IndexedSeq[Token]] = {
    spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> SimpleAnalyzer.tokenize(r.getString(1)))
      .toMap
  }

  lazy val docCount: Long = corpus.size.toLong
  lazy val sumDl: Long = corpus.values.map(_.size.toLong).sum
  lazy val avgdl: Double = sumDl / docCount.toDouble

  def df(term: String): Long = corpus.count(_._2.exists(_.term == term)).toLong
  def tf(term: String, doc: Long): Int = corpus(doc).count(_.term == term)

  /** Brute-force precise-BM25 single-term scores over the whole corpus. */
  def bruteTermScores(term: String): Map[Long, Double] = {
    val d = df(term)
    if (d == 0) return Map.empty
    val idf = math.log(1 + (docCount - d + 0.5) / (d + 0.5))
    corpus.flatMap { case (doc, toks) =>
      val freq = toks.count(_.term == term)
      if (freq == 0) None
      else {
        // the engine scores against the byte-quantized length (one-byte norm)
        val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(toks.size))
        Some(doc -> idf * (freq / (freq + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))))
      }
    }
  }

  /** Brute-force float-exact Lucene BM25 (byte-quantized norms). */
  def bruteLuceneScores(term: String): Map[Long, Float] = {
    val d = df(term)
    if (d == 0) return Map.empty
    val cs = CollectionStats(docCount, sumDl)
    val scorer = BM25Similarity().scorer(1f, cs, TermStats(d, 0))
    corpus.flatMap { case (doc, toks) =>
      val freq = toks.count(_.term == term)
      if (freq == 0) None
      else Some(doc -> scorer.score(freq.toFloat, SmallFloat.intToByte4(toks.size)))
    }
  }
}

class IndexSpec extends AnyFunSuite {
  import SparkTestEnv._

  test("CheckIndex: built index satisfies all structural invariants") {
    val violations = CheckIndex.check(index)
    assert(violations.isEmpty, violations.take(5).mkString("; "))
  }

  test("collection stats match the corpus") {
    assert(index.collectionStats.docCount == docCount)
    assert(index.collectionStats.sumTotalTermFreq == sumDl)
  }

  test("term stats match brute force for every term") {
    val got = index.termStats.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got.foreach { case (term, dfGot, ttfGot) =>
      assert(dfGot == df(term), s"df($term)")
      val ttf = corpus.values.map(_.count(_.term == term).toLong).sum
      assert(ttfGot == ttf, s"ttf($term)")
    }
    // and the vocabulary is complete
    val vocab = corpus.values.flatMap(_.map(_.term)).toSet
    assert(got.map(_._1).toSet == vocab)
  }

  test("resumable build: re-run with resume=true adds nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-resume-").toString
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id").as("docId"),
        org.apache.spark.sql.functions.col("text")).as[InputDoc]
    val idx1 = IndexBuilder.build(docs, dir, IndexConfig(SimpleAnalyzer))
    val n1 = idx1.docs.count()
    val segs1 = idx1.segments.count()
    val idx2 = IndexBuilder.build(docs, dir, IndexConfig(SimpleAnalyzer), resume = true)
    assert(idx2.docs.count() == n1, "resume must not duplicate docs")
    assert(idx2.segments.count() == segs1, "resume must not add segments")
  }
}

class SearcherSpec extends AnyFunSuite {
  import SparkTestEnv._

  def searcher(mode: ScoringMode = ScoringMode.PreciseBM25()): Searcher =
    new Searcher(index, mode)

  test("term query scores equal brute force (precise mode)") {
    Seq("spark", "dup", "the").foreach { term =>
      val got = searcher().scored(TermQuery(term)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = bruteTermScores(term)
      assert(got.keySet == want.keySet, s"doc set for $term")
      got.foreach { case (doc, s) => assert(math.abs(s - want(doc)) < 1e-12, s"$term@$doc") }
    }
  }

  test("term query scores equal brute force (Lucene float mode, bit-exact)") {
    Seq("spark", "dup").foreach { term =>
      val got = searcher(ScoringMode.LuceneBM25()).scored(TermQuery(term)).collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = bruteLuceneScores(term)
      assert(got.keySet == want.keySet)
      got.foreach { case (doc, s) =>
        assert(s.toFloat == want(doc), s"float-exact $term@$doc: $s vs ${want(doc)}")
      }
    }
  }

  test("multiterm interval sources expand against the dictionary before evaluation") {
    // prefix expansion ≡ the explicit Or over the matching dictionary terms
    val matching = index.termStats.filter(org.apache.spark.sql.functions.col("term")
        .startsWith("s")).select("term").collect().map(_.getString(0)).toSeq
    assert(matching.size > 1, "fixture vocabulary should have several s* terms")
    val viaPrefix = searcher().scored(IntervalQuery(
        Intervals.MaxWidth(6, Intervals.Ordered(Seq(
          Intervals.Term("group"), Intervals.Prefix("s", maxExpansions = 100000))))))
      .select("docId").collect().map(_.getLong(0)).toSet
    val viaOr = searcher().scored(IntervalQuery(
        Intervals.MaxWidth(6, Intervals.Ordered(Seq(
          Intervals.Term("group"), Intervals.Or(matching.map(Intervals.Term.apply)))))))
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(viaPrefix == viaOr && viaPrefix.nonEmpty)
    // wildcard glob routes through the same rewrite
    val viaGlob = searcher().scored(IntervalQuery(
        Intervals.MaxWidth(6, Intervals.Ordered(Seq(
          Intervals.Term("group"), Intervals.Wildcard("s*", maxExpansions = 100000))))))
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(viaGlob == viaOr)
    // over-expansion throws, like the reference
    assertThrows[IllegalStateException] {
      searcher().scored(IntervalQuery(Intervals.Prefix("s", maxExpansions = 1))).collect()
    }
  }

  test("metamorphic: sliced top-k == exhaustive top-k") {
    // a tiny threshold sends the cold query to the sliced top-k plan
    val pruned = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    Seq("spark", "query", "dup").foreach { term =>
      val a = pruned.search(TermQuery(term), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      val b = searcher().scored(TermQuery(term))
        .orderBy(org.apache.spark.sql.functions.desc("score"),
          org.apache.spark.sql.functions.asc("docId"))
        .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
      assert(a.toSeq == b.toSeq, s"pruned != exhaustive for $term")
    }
  }

  test("metamorphic: sliced top-k == exhaustive for DFR/IB/Axiomatic/DFI sims") {
    // the sliced plan's kernel scores with each similarity's term scorer
    Seq[ScoringMode](ScoringMode.PreciseDFRInL2(), ScoringMode.PreciseIBLL(),
        ScoringMode.PreciseAxiomaticF2EXP(), ScoringMode.PreciseDFIChiSquared())
      .foreach { m =>
        val pruned = new Searcher(index, m, pruneThreshold = 1L)
        val plain = new Searcher(index, m, pruneThreshold = Long.MaxValue)
        Seq("spark", "dup").foreach { term =>
          val a = pruned.search(TermQuery(term), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
          val b = plain.scored(TermQuery(term))
            .orderBy(org.apache.spark.sql.functions.desc("score"),
              org.apache.spark.sql.functions.asc("docId"))
            .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
          assert(a.toSeq == b.toSeq, s"pruned != exhaustive for $m / $term")
        }
      }
  }

  test("searchBatch == per-query search for every supported and fallback shape") {
    val qs: Seq[(String, Query)] = Seq(
      "t1" -> TermQuery("spark"),
      "t2" -> TermQuery("dup"),
      "boosted" -> BoostQuery(TermQuery("query"), 2.5f),
      "or" -> BooleanQuery.should(TermQuery("vector"), TermQuery("stream")),
      "and" -> BooleanQuery.must(TermQuery("data"), TermQuery("dup")),
      "and_absent" -> BooleanQuery.must(TermQuery("spark"), TermQuery("zzznothere")),
      "or_absent" -> BooleanQuery.should(TermQuery("spark"), TermQuery("zzznothere")),
      "prefix" -> PrefixQuery("st"),
      "range" -> TermRangeQuery(Some("agg"), Some("batch"), true, true),
      "inset" -> TermInSetQuery(Set("spark", "vector", "stream")),
      "fuzzy" -> FuzzyQuery("spark", 2),
      "regexp" -> RegexpQuery("(fast|slow)"),
      "prefix_absent" -> PrefixQuery("zzz"),
      "phrase" -> PhraseQuery(Seq("data", "filter")),
      "phrase_repeat" -> PhraseQuery(Seq("batch", "batch")),
      "phrase_sloppy" -> PhraseQuery(Seq("vector", "stream"), slop = 2),
      "phrase_absent" -> PhraseQuery(Seq("data", "zzznothere")),
      "mphrase_fallback" -> MultiPhraseQuery(Seq(Seq("fast", "slow"), Seq("join", "scan"))),
      // round-3 routed shapes: msm, MUST_NOT, FILTER, mixed, dismax, boosts
      "msm2" -> BooleanQuery(Seq(
        Occur.SHOULD -> TermQuery("vector"), Occur.SHOULD -> TermQuery("stream"),
        Occur.SHOULD -> TermQuery("data")), minimumShouldMatch = 2),
      "mustnot" -> BooleanQuery(Seq(
        Occur.MUST -> TermQuery("data"), Occur.MUST_NOT -> TermQuery("dup"))),
      "filter" -> BooleanQuery(Seq(
        Occur.MUST -> TermQuery("spark"), Occur.FILTER -> TermQuery("data"))),
      "filter_only" -> BooleanQuery(Seq(Occur.FILTER -> TermQuery("spark"))),
      "mixed" -> BooleanQuery(Seq(
        Occur.MUST -> TermQuery("data"), Occur.SHOULD -> TermQuery("spark"),
        Occur.SHOULD -> TermQuery("stream"))),
      "mixed_msm" -> BooleanQuery(Seq(
        Occur.MUST -> TermQuery("data"), Occur.SHOULD -> TermQuery("spark"),
        Occur.SHOULD -> TermQuery("stream")), minimumShouldMatch = 1),
      "boost_bool" -> BoostQuery(BooleanQuery.should(
        TermQuery("vector"), BoostQuery(TermQuery("stream"), 3f)), 2f),
      "dismax" -> DisjunctionMaxQuery(
        Seq(TermQuery("spark"), TermQuery("dup")), tieBreaker = 0.3f),
      "dismax0" -> DisjunctionMaxQuery(
        Seq(TermQuery("vector"), BoostQuery(TermQuery("stream"), 2f)), tieBreaker = 0f),
      "mustnot_absent" -> BooleanQuery(Seq(
        Occur.MUST -> TermQuery("data"), Occur.MUST_NOT -> TermQuery("zzznothere"))))
    val got = searcher().searchBatch(qs, 10).collect()
      .map(r => (r.getString(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    qs.foreach { case (qid, q) =>
      val want = searcher().search(q, 10).collect()
        .map(r => (r.getLong(0), r.getDouble(1))).toSeq
      val gotQ = (1 to want.size).map(rank => got((qid, rank.toLong)))
      assert(gotQ.map(_._1) == want.map(_._1), s"$qid doc ids")
      gotQ.zip(want).foreach { case ((_, sa), (_, sb)) =>
        assert(math.abs(sa - sb) < 1e-9, s"$qid scores") }
      assert(!got.keys.exists(k => k._1 == qid && k._2 > want.size), s"$qid extra rows")
    }
  }

  test("duplicate boolean clauses: every path agrees (rewriter dedups first)") {
    // "a a b": the rewriter normalizes duplicate clauses away BEFORE any
    // execution path sees them, so exhaustive, sliced and batched results
    // must all equal the distinct query's — one contract, three engines
    val q = BooleanQuery(Seq(
      Occur.SHOULD -> TermQuery("spark"), Occur.SHOULD -> TermQuery("spark"),
      Occur.SHOULD -> TermQuery("dup")))
    val plain = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = Long.MaxValue)
    val pruned = new Searcher(index, ScoringMode.PreciseBM25(), pruneThreshold = 1L)
    val want = plain.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val distinctWant = plain.search(
      BooleanQuery.should(TermQuery("spark"), TermQuery("dup")), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(want == distinctWant, "rewriter must dedup duplicate clauses")
    val gotP = pruned.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(gotP.map(_._1) == want.map(_._1), "pruned dup-clause doc ids")
    gotP.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
    val gotB = searcher().searchBatch(Seq("dq" -> q), 10).collect()
      .sortBy(_.getLong(3)).map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(gotB.map(_._1) == want.map(_._1), "batched dup-clause doc ids")
    gotB.zip(want).foreach { case ((_, a), (_, b)) => assert(math.abs(a - b) < 1e-9) }
  }

  test("searchBatch and search skip tombstoned docs and equal scored's live top-k") {
    val tomb = Indexes.tombstonedIndex(spark, sfDir)
    val ts = new Searcher(tomb, ScoringMode.PreciseBM25())
    val qs: Seq[(String, Query)] = Seq(
      "t" -> TermQuery("spark"),
      "b" -> BooleanQuery.should(TermQuery("spark"), TermQuery("dup")))
    val got = ts.searchBatch(qs, 10).collect()
      .map(r => (r.getString(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    qs.foreach { case (qid, q) =>
      val want = ts.search(q, 10).collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(want.forall(_._1 % 7 != 3), "sanity: search excludes tombstoned ids")
      val gotQ = (1 to want.size).map(rank => got((qid, rank.toLong)))
      assert(gotQ == want, s"$qid batched-with-tombstones != search")
      val live = ts.scored(q).orderBy(org.apache.spark.sql.functions.desc("score"),
        org.apache.spark.sql.functions.asc("docId")).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      TopKAssertions.assertSameTopK(s"$qid search vs scored", want, live)
    }
  }

  test("boolean MUST = intersection with summed scores") {
    val got = searcher().scored(BooleanQuery.must(TermQuery("data"), TermQuery("dup"))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val a = bruteTermScores("data"); val b = bruteTermScores("dup")
    val want = (a.keySet & b.keySet).map(d => d -> (a(d) + b(d))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (d, s) => assert(math.abs(s - want(d)) < 1e-12) }
  }

  test("boolean MUST_NOT = anti-join; FILTER does not contribute score") {
    val got = searcher().scored(BooleanQuery(Seq(
      Occur.MUST -> TermQuery("dup"),
      Occur.FILTER -> TermQuery("query"),
      Occur.MUST_NOT -> TermQuery("vector")))).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val dup = bruteTermScores("dup")
    val want = dup.filter { case (d, _) =>
      tf("query", d) > 0 && tf("vector", d) == 0
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (d, s) => assert(math.abs(s - want(d)) < 1e-12) }
  }

  test("phrase query equals brute-force position scan") {
    val terms = Seq("batch", "batch")
    val got = searcher().scored(PhraseQuery(terms)).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // brute force: count positions p with batch at p and p+1
    val idfSum = 2 * math.log(1 + (docCount - df("batch") + 0.5) / (df("batch") + 0.5))
    val want = corpus.flatMap { case (doc, toks) =>
      val pos = toks.filter(_.term == "batch").map(_.position).toSet
      val freq = pos.count(p => pos.contains(p + 1))
      if (freq == 0) None
      else Some(doc -> idfSum * (freq / (freq + 1.2 * (1 - 0.75 +
        0.75 * SmallFloat.byte4ToInt(SmallFloat.intToByte4(toks.size)) / avgdl))))
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (d, s) => assert(math.abs(s - want(d)) < 1e-12) }
  }

  test("prefix / range / fuzzy expansions match brute force doc sets") {
    val sr = searcher()
    def docsOf(q: Query): Set[Long] = sr.scored(q).collect().map(_.getLong(0)).toSet
    assert(docsOf(PrefixQuery("st")) ==
      corpus.filter(_._2.exists(_.term.startsWith("st"))).keySet)
    assert(docsOf(TermRangeQuery(Some("agg"), Some("batch"))) ==
      corpus.filter(_._2.exists(t => t.term >= "agg" && t.term <= "batch")).keySet)
    assert(docsOf(MatchAllDocsQuery) == corpus.keySet)
    assert(docsOf(MatchNoDocsQuery) == Set.empty[Long])
  }

  test("searchAfter pages without overlap and in order") {
    val sr = searcher()
    val all = sr.scored(TermQuery("spark")).collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
      .sortBy { case (d, s) => (-s, d) }
    val page1 = sr.search(TermQuery("spark"), 10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(page1.toSeq == all.take(10).toSeq)
    val anchor = page1.last
    val page2 = sr.searchAfter(TermQuery("spark"), 10, anchor._2, anchor._1)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(page2.toSeq == all.slice(10, 20).toSeq)
  }

  test("query rewrite: boolean simplifications") {
    assert(QueryRewriter.rewrite(BooleanQuery(Seq())) == MatchNoDocsQuery)
    assert(QueryRewriter.rewrite(BooleanQuery(Seq(Occur.MUST -> TermQuery("a")))) == TermQuery("a"))
    assert(QueryRewriter.rewrite(BooleanQuery(Seq(
      Occur.MUST -> TermQuery("a"), Occur.SHOULD -> MatchNoDocsQuery))) == TermQuery("a"))
    assert(QueryRewriter.rewrite(BooleanQuery(Seq(
      Occur.MUST -> MatchNoDocsQuery, Occur.SHOULD -> TermQuery("a")))) == MatchNoDocsQuery)
    assert(QueryRewriter.rewrite(WildcardQuery("spa*")) == PrefixQuery("spa"))
    assert(QueryRewriter.rewrite(WildcardQuery("s?ark")) == RegexpQuery("s.ark"))
  }
}
