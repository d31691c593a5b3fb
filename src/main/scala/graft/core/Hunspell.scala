package graft.core

/** Hunspell user-dictionary morphology — a subset of the reference's
  * `hunspell/Hunspell.java:76` / `Stemmer.java` / `Dictionary.java`
  * re-expressed without the FST machinery (the dictionary is a Map; the
  * reference's FST exists to mmap huge dictionaries, which the relational
  * engine doesn't need driver-side). Supported: `.aff` PFX/SFX groups with
  * strip/affix/condition and continuation flags, `.dic` entries with
  * single-char flags and homonyms, single prefix, single suffix, twofold
  * suffix via continuation classes, and prefix×suffix cross-products.
  * Declared out (SURVEY §7.4): compounding, FLAG long/num modes, REP/ICONV,
  * case folding (KeepCase/AllCaps) — the light/snowball chains remain the
  * substitute where those matter. Pinned to the reference's own
  * `TestStemmer` vectors over its `simple.aff`/`simple.dic` fixture in
  * HunspellSpec. */
object Hunspell {

  /** One PFX/SFX rule: `flag` licenses it on a dictionary entry; applying it
    * removes `strip` from the base and adds `affix`; `cont` are the flags
    * the DERIVED form carries (twofold); `condition` is a char-class pattern
    * anchored at the base's end (SFX) or start (PFX). */
  final case class AffixRule(flag: Char, strip: String, affix: String,
                             cont: Set[Char], condition: Seq[CondTok],
                             crossProduct: Boolean, isSuffix: Boolean)

  sealed trait CondTok
  case object AnyChar extends CondTok
  final case class OneOf(cs: Set[Char], negated: Boolean) extends CondTok

  /** Parse a hunspell condition string ("n", ".", "[^ey]", "[aeiou]n"). */
  private[graft] def parseCondition(s: String): Seq[CondTok] = {
    val out = Vector.newBuilder[CondTok]
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '.' => out += AnyChar; i += 1
        case '[' =>
          val close = s.indexOf(']', i)
          require(close > i, s"unclosed class in condition '$s'")
          val body = s.substring(i + 1, close)
          if (body.startsWith("^")) out += OneOf(body.substring(1).toSet, negated = true)
          else out += OneOf(body.toSet, negated = false)
          i = close + 1
        case c => out += OneOf(Set(c), negated = false); i += 1
      }
    }
    out.result()
  }

  private def condMatches(base: String, cond: Seq[CondTok], suffix: Boolean): Boolean = {
    if (cond.isEmpty) return true
    if (base.length < cond.length) return false
    val off = if (suffix) base.length - cond.length else 0
    var i = 0
    while (i < cond.length) {
      val ok = cond(i) match {
        case AnyChar => true
        case OneOf(cs, neg) => cs.contains(base.charAt(off + i)) != neg
      }
      if (!ok) return false
      i += 1
    }
    true
  }

  /** Parsed dictionary: word → flag sets (one per homonym entry). */
  final class Dictionary(val entries: Map[String, Seq[Set[Char]]],
                         val prefixes: Seq[AffixRule],
                         val suffixes: Seq[AffixRule]) extends Serializable {

    private def hasFlag(base: String, flag: Char): Int =
      entries.getOrElse(base, Nil).count(_.contains(flag))

    /** All base forms of `word` — one per licensing homonym entry, in
      * dictionary-then-affix order like the reference's Stemmer.stem. */
    def stem(word: String): Seq[String] = {
      val out = Vector.newBuilder[String]
      // direct dictionary hits (each homonym entry contributes one stem)
      entries.getOrElse(word, Nil).foreach(_ => out += word)
      // single suffix, plus twofold via continuation classes
      suffixes.foreach { r =>
        if (word.length > r.affix.length && word.endsWith(r.affix)) {
          val base = word.substring(0, word.length - r.affix.length) + r.strip
          if (base.nonEmpty && condMatches(base, r.condition, suffix = true)) {
            (0 until hasFlag(base, r.flag)).foreach(_ => out += base)
            // twofold: base itself derived by a rule whose cont carries r.flag
            suffixes.foreach { r2 =>
              if (r2.cont.contains(r.flag) &&
                  base.length > r2.affix.length && base.endsWith(r2.affix)) {
                val base2 = base.substring(0, base.length - r2.affix.length) + r2.strip
                if (base2.nonEmpty && condMatches(base2, r2.condition, suffix = true))
                  (0 until hasFlag(base2, r2.flag)).foreach(_ => out += base2)
              }
            }
          }
        }
      }
      // single prefix, plus prefix×suffix cross-products
      prefixes.foreach { p =>
        if (word.length > p.affix.length && word.startsWith(p.affix)) {
          val base = p.strip + word.substring(p.affix.length)
          if (base.nonEmpty && condMatches(base, p.condition, suffix = false)) {
            (0 until hasFlag(base, p.flag)).foreach(_ => out += base)
            if (p.crossProduct) suffixes.foreach { r =>
              if (r.crossProduct && base.length > r.affix.length &&
                  base.endsWith(r.affix)) {
                val base2 = base.substring(0, base.length - r.affix.length) + r.strip
                if (base2.nonEmpty && condMatches(base2, r.condition, suffix = true)) {
                  val n = entries.getOrElse(base2, Nil)
                    .count(fs => fs.contains(p.flag) && fs.contains(r.flag))
                  (0 until n).foreach(_ => out += base2)
                }
              }
            }
          }
        }
      }
      out.result()
    }
  }

  /** Parse `.aff` + `.dic` content (passed as strings — the user-asset
    * contract; no filesystem access from executors). */
  def parse(aff: String, dic: String): Dictionary = {
    val prefixes = Vector.newBuilder[AffixRule]
    val suffixes = Vector.newBuilder[AffixRule]
    val lines = aff.linesIterator.map(_.trim).filter(_.nonEmpty).toVector
    var i = 0
    while (i < lines.length) {
      val parts = lines(i).split("\\s+")
      if ((parts(0) == "PFX" || parts(0) == "SFX") && parts.length >= 4 &&
          (parts(2) == "Y" || parts(2) == "N")) {
        val isSuffix = parts(0) == "SFX"
        val flag = parts(1).head
        val cross = parts(2) == "Y"
        val n = parts(3).toInt
        (1 to n).foreach { k =>
          val r = lines(i + k).split("\\s+")
          // PFX f strip affix[/cont] condition [morph...]
          val strip = if (r(2) == "0") "" else r(2)
          val (affix, cont) = r(3).split('/') match {
            case Array(a) => (if (a == "0") "" else a, Set.empty[Char])
            case Array(a, c) => (if (a == "0") "" else a, c.toSet)
          }
          val cond = if (r.length > 4 && r(4) != ".") parseCondition(r(4)) else Nil
          val rule = AffixRule(flag, strip, affix, cont, cond, cross, isSuffix)
          if (isSuffix) suffixes += rule else prefixes += rule
        }
        i += n + 1
      } else i += 1
    }
    val entries = scala.collection.mutable.Map.empty[String, Vector[Set[Char]]]
    dic.linesIterator.map(_.trim).filter(_.nonEmpty).drop(1).foreach { line =>
      val noMorph = line.split("\\s+")(0) // strip st:/po: morphological fields
      val (word, flags) = noMorph.split('/') match {
        case Array(w) => (w, Set.empty[Char])
        case Array(w, f) => (w, f.toSet)
      }
      entries(word) = entries.getOrElse(word, Vector.empty) :+ flags
    }
    new Dictionary(entries.toMap, prefixes.result(), suffixes.result())
  }
}

/** HunspellStemFilter analog (`hunspell/HunspellStemFilter.java:47`):
  * standard tokenize → lowercase → all dictionary stems at the token's
  * position (deduplicated, the filter's dedup flag); a token with NO stems
  * passes through unchanged; `longestOnly` keeps the single longest stem.
  * Like the reference, the dictionary is a construction-time user asset —
  * a byName reopen resolves the instance constructed in this process and
  * throws in any other (same contract as the compound-word dictionary
  * chains). */
final case class HunspellAnalyzer(dictionary: Hunspell.Dictionary,
                                  longestOnly: Boolean = false) extends Analyzer {
  override val name = s"hunspell:${Analyzers.instanceIds.incrementAndGet()}"
  Analyzers.register(this)
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var pos = 0
    SnowballAnalyzers.standardRawTokens(text).foreach { raw =>
      val lower = raw.toLowerCase(java.util.Locale.ROOT)
      val stems = dictionary.stem(lower).distinct
      val emit =
        if (stems.isEmpty) Seq(lower)
        else if (longestOnly) Seq(stems.maxBy(_.length))
        else stems
      emit.foreach(t => sink.accept(t, 0, t.length, pos))
      pos += 1
    }
  }
}

object HunspellAnalyzer {
  /** The dictionary-less pass-through the registry resolves the plain
    * `hunspell` name to (a single shared instance — each construction would
    * otherwise register a fresh dynamic-registry entry). */
  lazy val empty: HunspellAnalyzer =
    HunspellAnalyzer(Hunspell.parse("", "0"))
}
