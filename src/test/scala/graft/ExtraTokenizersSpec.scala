package graft

import graft.core.{Analyzers, CommonGramsAnalyzer, CommonGramsQueryAnalyzer, EnglishAnalyzer, PatternAnalyzer, ReverseStringAnalyzer, SimpleAnalyzer}
import org.scalatest.funsuite.AnyFunSuite

/** Reference-vector parity for the CommonGrams and PatternTokenizer analogs
  * (`TestCommonGramsFilter.java:188-201`, `TestPatternTokenizer.java:35-46`). */
class ExtraTokenizersSpec extends AnyFunSuite {

  private def terms(a: graft.core.Analyzer, text: String): Seq[String] =
    a.tokenize(text).map(_.term)
  private def withPos(a: graft.core.Analyzer, text: String): Seq[(String, Int)] =
    a.tokenize(text).map(t => (t.term, t.position))

  test("CommonGrams: reference vectors, terms and positions") {
    val a = CommonGramsAnalyzer(SimpleAnalyzer, Set("s", "of", "the"))
    // posInc [1,0,1,1] in the reference = bigram shares the first word's slot
    assert(withPos(a, "the quick brown") ==
      Seq(("the", 0), ("the_quick", 0), ("quick", 1), ("brown", 2)))
    assert(withPos(a, "s n s") ==
      Seq(("s", 0), ("s_n", 0), ("n", 1), ("n_s", 1), ("s", 2)))
    assert(terms(a, "the fox of") == Seq("the", "the_fox", "fox", "fox_of", "of"))
    assert(terms(a, "of the fox") ==
      Seq("of", "of_the", "the", "the_fox", "fox"))
    assert(terms(a, "s s s") == Seq("s", "s_s", "s", "s_s", "s"))
    // no common word adjacent: plain unigrams
    assert(terms(a, "quick brown fox") == Seq("quick", "brown", "fox"))
  }

  test("CommonGramsQueryFilter: reference vectors (TestCommonGramsFilter:122-134)") {
    val a = CommonGramsQueryAnalyzer(SimpleAnalyzer, Set("s", "of", "the"))
    assert(terms(a, "fox of the") == Seq("fox_of", "of_the"))
    assert(terms(a, "s n n") == Seq("s_n", "n", "n"))
    assert(terms(a, "the quick brown") == Seq("the_quick", "quick", "brown"))
    assert(terms(a, "s n s") == Seq("s_n", "n_s"))
    assert(terms(a, "the fox of") == Seq("the_fox", "fox_of"))
    assert(terms(a, "s s n") == Seq("s_s", "s_n"))
    assert(terms(a, "of the fox") == Seq("of_the", "the_fox"))
    assert(terms(a, "s s s") == Seq("s_s", "s_s"))
    assert(terms(a, "of the of") == Seq("of_the", "the_of"))
    // positions come out consecutive (gram posInc reset to 1)
    assert(withPos(a, "the fox of") == Seq(("the_fox", 0), ("fox_of", 1)))
    // single token passes through; no-common text is unchanged
    assert(terms(a, "fox") == Seq("fox"))
    assert(terms(a, "quick brown fox") == Seq("quick", "brown", "fox"))
  }

  test("ReverseString: reversal, positions kept; leading wildcard ≡ suffix match") {
    val a = ReverseStringAnalyzer(SimpleAnalyzer)
    assert(withPos(a, "stream the dream") ==
      Seq(("maerts", 0), ("eht", 1), ("maerd", 2)))
    // the leading-wildcard contract on a real index: *eam via reversed
    // prefix == forward regexp .*eam
    val s = new graft.search.Searcher(SparkTestEnv.index,
      graft.search.ScoringMode.PreciseBM25())
    val forward = s.scored(graft.search.RegexpQuery(".*eam"))
      .collect().map(_.getLong(0)).toSet
    val dir = java.nio.file.Files.createTempDirectory("graft-rev-").toString
    val spark = SparkTestEnv.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val docs = spark.read.parquet(s"${SparkTestEnv.sfDir}/documents.parquet")
      .select(col("doc_id").as("docId"), col("text")).as[graft.index.InputDoc]
    val rev = graft.index.IndexBuilder.build(docs, dir,
      graft.index.IndexConfig(ReverseStringAnalyzer(SimpleAnalyzer)))
    val viaReversed = new graft.search.Searcher(rev, graft.search.ScoringMode.PreciseBM25())
      .scored(graft.search.PrefixQuery("mae"))
      .collect().map(_.getLong(0)).toSet
    assert(viaReversed == forward && viaReversed.nonEmpty)
  }

  test("English stem exclusions (SetKeywordMarkerFilter): excluded words skip Porter") {
    val a = EnglishAnalyzer(stemExclusions = Set("merge"))
    assert(terms(a, "merge the queries") == Seq("merge", "queri"))
    assert(terms(EnglishAnalyzer(), "merge the queries") == Seq("merg", "queri"))
    // exclusion checked after possessive strip + stop, like the filter order
    assert(terms(a, "merge's value") == Seq("merge", "valu"))
    // registry round-trip keeps the exclusion set
    val byName = Analyzers.byName(a.name)
    assert(byName == a && terms(byName, "merge") == Seq("merge"))
  }

  test("PatternTokenizer: reference split/group vectors") {
    assert(terms(PatternAnalyzer("--"), "aaa--bbb--ccc") == Seq("aaa", "bbb", "ccc"))
    assert(terms(PatternAnalyzer(":"), "boo:and:foo") == Seq("boo", "and", "foo"))
    assert(terms(PatternAnalyzer("o"), "boo:and:foo") == Seq("b", ":and:f"))
    assert(terms(PatternAnalyzer(":", group = 0), "boo:and:foo") == Seq(":", ":"))
    val q = "\\'([^\\']+)\\'"
    assert(terms(PatternAnalyzer(q, group = 0), "aaa 'bbb' 'ccc'") == Seq("'bbb'", "'ccc'"))
    assert(terms(PatternAnalyzer(q, group = 1), "aaa 'bbb' 'ccc'") == Seq("bbb", "ccc"))
    // group mode positions are consecutive
    assert(withPos(PatternAnalyzer("st[a-z]+", group = 0), "stream customer fast")
      == Seq(("stream", 0), ("stomer", 1)))
  }

  test("PatternTokenizer: registry round-trip keeps the group, the regex and the case") {
    // the default (lowercasing) name is unchanged, so existing indexes open
    assert(PatternAnalyzer("[ \t]+").name == "pattern:-1:[ \t]+")
    Seq(PatternAnalyzer("[ \t]+"), PatternAnalyzer("[ \t]+", toLower = false),
      PatternAnalyzer("a:(b:c)", group = 1), PatternAnalyzer("a:(b:c)", group = 1, toLower = false))
      .foreach(p => assert(Analyzers.byName(p.name) == p, p.name))
    assert(terms(Analyzers.byName(PatternAnalyzer(" ", toLower = false).name), "Mixed Case") ==
      Seq("Mixed", "Case"))
  }
}
