package graft

import graft.core.SimpleAnalyzer
import graft.search._
import graft.streaming.Monitor
import org.scalatest.funsuite.AnyFunSuite

/** Percolator tests: per-doc query evaluation must agree exactly with the
  * index-based searcher's matched doc sets (metamorphic oracle — two
  * execution paths, one semantics; the pattern of the reference's
  * `TestMonitor` + `CheckHits`). */
class MonitorSpec extends AnyFunSuite {
  import SparkTestEnv._

  private val registered: Seq[(String, Query)] = Seq(
    "term" -> TermQuery("spark"),
    "bool_and" -> BooleanQuery.must(TermQuery("data"), TermQuery("filter")),
    "bool_or_msm" -> BooleanQuery(Seq(
      Occur.SHOULD -> TermQuery("vector"), Occur.SHOULD -> TermQuery("stream"),
      Occur.SHOULD -> TermQuery("dup")), minimumShouldMatch = 2),
    "bool_not" -> BooleanQuery(Seq(
      Occur.MUST -> TermQuery("dup"), Occur.MUST_NOT -> TermQuery("spark"))),
    "phrase" -> PhraseQuery(Seq("batch", "batch")),
    "sloppy_phrase" -> PhraseQuery(Seq("vector", "stream"), slop = 2),
    "interval" -> IntervalQuery(Intervals.MaxWidth(4,
      Intervals.Ordered(Seq(Intervals.Term("group"), Intervals.Term("key"))))),
    "prefix" -> PrefixQuery("st"),
    "wildcard" -> WildcardQuery("qu?ry"),
    "fuzzy" -> FuzzyQuery("spark", 2),
    "range" -> TermRangeQuery(Some("agg"), Some("batch"), true, true),
    "in_set" -> TermInSetQuery(Set("spark", "vector", "stream")),
    "span" -> SpanNearQuery(Seq("data", "filter"), slop = 3, inOrder = true),
    "synonym" -> SynonymQuery(Seq("fast", "slow")),
    "dismax" -> DisjunctionMaxQuery(Seq(TermQuery("dup"), TermQuery("line"))),
    "multiphrase" -> MultiPhraseQuery(Seq(Seq("fast", "slow"), Seq("join", "scan"))))

  test("percolation agrees with the index-based searcher on every registered query") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
    val got: Map[String, Set[Long]] = Monitor.percolate(docs, registered, SimpleAnalyzer)
      .collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).map { case (q, xs) => q -> xs.map(_._2).toSet }
    val searcher = new Searcher(index, ScoringMode.PreciseBM25())
    registered.foreach { case (name, q) =>
      val want = searcher.scored(q).select("docId").collect().map(_.getLong(0)).toSet
      assert(got.getOrElse(name, Set.empty) == want,
        s"query '$name': percolate=${got.getOrElse(name, Set.empty).size} index=${want.size}")
    }
  }

  test("presearched percolation == brute percolation (incl. unguardable rules)") {
    val s = spark
    import s.implicits._
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
    // add unguardable rules so the always-evaluate path is exercised
    val rules = registered ++ Seq(
      "uPrefix" -> PrefixQuery("st"),
      "uNeg" -> BooleanQuery(Seq(Occur.MUST -> TermQuery("dup"),
        Occur.MUST_NOT -> TermQuery("spark"))))
    def toSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(toSet(Monitor.percolatePresearched(docs, rules, SimpleAnalyzer)) ==
      toSet(Monitor.percolate(docs, rules, SimpleAnalyzer)))
    // guard extraction soundness spot checks
    assert(Monitor.guardTerms(TermQuery("a")) == Some(Set("a")))
    assert(Monitor.guardTerms(PhraseQuery(Seq("a", "b"), 2)) == Some(Set("a")))
    assert(Monitor.guardTerms(BooleanQuery.must(TermQuery("a"), TermQuery("b"))) == Some(Set("a")))
    assert(Monitor.guardTerms(BooleanQuery(Seq(
      Occur.SHOULD -> TermQuery("a"), Occur.SHOULD -> PrefixQuery("b")))).isEmpty)
    assert(Monitor.guardTerms(PrefixQuery("x")).isEmpty)
  }

  test("streaming percolation emits the same matches per micro-batch") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val source = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String)]
    val collected = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = Monitor.start(source.toDS(), registered, SimpleAnalyzer) { (batch, _) =>
      collected ++= batch.collect().map(r => (r.getLong(0), r.getString(1)))
    }
    source.addData((900L, "spark streams data with a filter"), (901L, "nothing relevant"))
    q.processAllAvailable()
    q.stop()
    val byDoc = collected.groupBy(_._1).map { case (d, xs) => d -> xs.map(_._2).toSet }
    assert(byDoc(900L).contains("term"))
    assert(byDoc(900L).contains("bool_and"))
    assert(byDoc(900L).contains("span"))
    assert(!byDoc.contains(901L))
  }

  test("unsupported rules fail at registration, not the micro-batch") {
    val s = spark
    import s.implicits._
    val docs = Seq((1L, "a b c")).toDS()
    // each bad shape rejected driver-side with the rule id in the message,
    // even nested inside boolean/boost wrappers
    val bad: Seq[(String, Query)] = Seq(
      "sloppy_repeat" -> PhraseQuery(Seq("a", "a"), slop = 2),
      "docid" -> DocIdRangeQuery(TermQuery("a"), 0, 10),
      "nested" -> BooleanQuery.must(TermQuery("a"),
        BoostQuery(PhraseQuery(Seq("x", "x"), slop = 1), 2f)))
    bad.foreach { case (qid, q) =>
      val e = intercept[IllegalArgumentException] {
        Monitor.percolate(docs, Seq(qid -> q), SimpleAnalyzer)
      }
      assert(e.getMessage.contains(qid), s"message should name the rule: ${e.getMessage}")
      val e2 = intercept[IllegalArgumentException] {
        Monitor.percolatePresearched(docs, Seq(qid -> q), SimpleAnalyzer)
      }
      assert(e2.getMessage.contains(qid))
    }
    // a good rule set containing every supported shape still registers
    val ok: Seq[(String, Query)] = Seq(
      "t" -> TermQuery("a"),
      "sloppy_ok" -> PhraseQuery(Seq("a", "b"), slop = 2),
      "exact_repeat_ok" -> PhraseQuery(Seq("a", "a"), slop = 0))
    assert(Monitor.percolate(docs, ok, SimpleAnalyzer).count() >= 1)
  }

  test("span rules under a dismax are lowered to intervals, with the same matches") {
    val s = spark
    import s.implicits._
    val span = SpanQuery(Spans.SpanNear(Seq(Spans.SpanTerm("data"), Spans.SpanTerm("filter")),
      slop = 3, inOrder = true))
    val rule: Query = DisjunctionMaxQuery(Seq(TermQuery("vector"),
      BooleanQuery(Seq(Occur.SHOULD -> span, Occur.SHOULD -> TermQuery("stream")))), 0.1f)
    def hasSpan(q: Query): Boolean = q match {
      case _: SpanQuery => true
      case DisjunctionMaxQuery(ds, _) => ds.exists(hasSpan)
      case BooleanQuery(cs, _) => cs.exists(c => hasSpan(c._2))
      case BoostQuery(inner, _) => hasSpan(inner)
      case ConstantScoreQuery(inner) => hasSpan(inner)
      case _ => false
    }
    val lowered = Monitor.lowerAll(Seq("dismax_span" -> rule)).head._2
    assert(hasSpan(rule) && !hasSpan(lowered), s"$lowered")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select("doc_id", "text").as[(Long, String)]
    val texts = docs.collect()
    texts.foreach { case (id, text) =>
      val view = new Monitor.DocView(SimpleAnalyzer.tokenize(text))
      assert(Monitor.matches(lowered, view) == Monitor.matches(rule, view), s"doc $id")
    }
    val got = Monitor.percolate(docs, Seq("dismax_span" -> rule), SimpleAnalyzer)
      .collect().map(_.getLong(0)).toSet
    val want = new Searcher(index, ScoringMode.PreciseBM25()).scored(rule)
      .select("docId").collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }
}
