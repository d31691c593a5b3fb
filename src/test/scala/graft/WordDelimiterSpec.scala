package graft

import graft.core.{Analyzers, PatternAnalyzer, WordDelimiter, WordDelimiterGraphAnalyzer}
import graft.core.WordDelimiter._
import org.scalatest.funsuite.AnyFunSuite

/** WordDelimiterGraphFilter analog against the reference's own
  * TestWordDelimiterGraphFilter vectors (splits, possessives, catenation
  * order + positions, preserve-original). */
class WordDelimiterSpec extends AnyFunSuite {

  private val ws = PatternAnalyzer("[ \t\n\r]+", toLower = false)
  private def a(flags: Int) = WordDelimiterGraphAnalyzer(ws, flags)
  private def terms(flags: Int, text: String): Seq[String] =
    a(flags).tokenize(text).map(_.term)
  private def withPos(flags: Int, text: String): Seq[(String, Int)] =
    a(flags).tokenize(text).map(t => (t.term, t.position))

  private val split =
    GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS | SPLIT_ON_CASE_CHANGE |
      SPLIT_ON_NUMERICS | STEM_ENGLISH_POSSESSIVE

  test("doSplit vectors (TestWordDelimiterGraphFilter.testSplits)") {
    assert(terms(split, "basic-split") == Seq("basic", "split"))
    assert(terms(split, "camelCase") == Seq("camel", "Case"))
    assert(terms(split, "test's'") == Seq("test"))
    assert(terms(split, "Роберт") == Seq("Роберт"))
    assert(terms(split, "РобЕрт") == Seq("Роб", "Ерт"))
    assert(terms(split, "aǅungla") == Seq("aǅungla"))
    assert(terms(split, "хіндӣ") == Seq("хіндӣ"))
    assert(terms(split, "١٢٣٤") == Seq("١٢٣٤"))
    assert(terms(split, "𠀀𠀀") == Seq("𠀀𠀀"))
    assert(terms(split, "j2se") == Seq("j", "2", "se"))
    assert(terms(split, "O'Neil's") == Seq("O", "Neil"))
  }

  test("no split flags: case/numeric transitions kept together") {
    val noCase = split & ~SPLIT_ON_CASE_CHANGE
    assert(terms(noCase, "camelCase") == Seq("camelCase"))
    val noNum = split & ~SPLIT_ON_NUMERICS
    assert(terms(noNum, "j2se") == Seq("j2se"))
  }

  test("testLotsOfConcatenating: order and positions") {
    val flags = GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS | CATENATE_WORDS |
      CATENATE_NUMBERS | CATENATE_ALL | SPLIT_ON_CASE_CHANGE |
      SPLIT_ON_NUMERICS | STEM_ENGLISH_POSSESSIVE
    assert(withPos(flags, "abc-def-123-456") == Seq(
      ("abcdef123456", 0), ("abcdef", 0), ("abc", 0),
      ("def", 1), ("123456", 2), ("123", 2), ("456", 3)))
  }

  test("testLotsOfConcatenating2: preserve-original leads") {
    val flags = PRESERVE_ORIGINAL | GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS |
      CATENATE_WORDS | CATENATE_NUMBERS | CATENATE_ALL | SPLIT_ON_CASE_CHANGE |
      SPLIT_ON_NUMERICS | STEM_ENGLISH_POSSESSIVE
    assert(withPos(flags, "abc-def-123-456") == Seq(
      ("abc-def-123-456", 0), ("abcdef123456", 0), ("abcdef", 0), ("abc", 0),
      ("def", 1), ("123456", 2), ("123", 2), ("456", 3)))
  }

  test("catenate without parts: only the joined form") {
    assert(terms(CATENATE_WORDS, "foo-bar") == Seq("foobar"))
    assert(terms(CATENATE_WORDS | GENERATE_WORD_PARTS, "foo-bar") ==
      Seq("foobar", "foo", "bar"))
  }

  test("flags 0: delimited tokens vanish (hole kept), single words survive") {
    assert(terms(0, "PowerShotPlus") == Seq("PowerShotPlus"))
    assert(withPos(GENERATE_WORD_PARTS, "abc-def xyz").last == (("xyz", 2)))
    assert(withPos(0, "$$$ xyz") == Seq(("xyz", 1))) // hole at position 0
  }

  test("protected words pass through") {
    val p = WordDelimiterGraphAnalyzer(ws, split, protWords = Set("basic-split"))
    assert(p.tokenize("basic-split other-x").map(_.term) ==
      Seq("basic-split", "other", "x"))
  }

  test("registry round-trip keeps the flags, the protected words and the inner analyzer's case") {
    val plain = a(split)
    assert(plain.name == s"word-delimiter:$split:pattern-cased:-1:[ \t\n\r]+")
    val odd = Set("basic-split", "a:b,c", "x y+z%", "", "Straße")
    Seq(plain, WordDelimiterGraphAnalyzer(ws, split, protWords = Set("basic-split")),
      WordDelimiterGraphAnalyzer(ws, split, protWords = odd),
      WordDelimiterGraphAnalyzer(PatternAnalyzer(":"), 0, protWords = Set("k"))).foreach { w =>
      assert(Analyzers.byName(w.name) == w, w.name)
    }
    val reopened = Analyzers.byName(WordDelimiterGraphAnalyzer(ws, split, protWords = odd).name)
    assert(reopened.tokenize("a:b,c camelCase").map(_.term) == Seq("a:b,c", "camel", "Case"))
  }
}
