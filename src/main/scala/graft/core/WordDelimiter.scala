package graft.core

/** WordDelimiterGraphFilter — a re-expression of
  * `lucene/analysis/common/src/java/org/apache/lucene/analysis/miscellaneous/WordDelimiterGraphFilter.java:120`
  * + `WordDelimiterIterator.java:27`. A token splits into subwords at
  * delimiter characters, case changes, and letter/digit transitions; flags
  * gate emitting the parts, the per-type catenations, the all-catenation,
  * and the preserved original. Emission order and positions mirror the
  * graph filter's buffered sort: (start part asc, end part desc, original
  * before catenations before parts), parts advancing one position each —
  * so `abc-def-123-456` under all flags emits exactly the reference's
  * `abcdef123456, abcdef, abc, def, 123456, 123, 456` at positions
  * `0,0,0,1,2,2,3`. Pinned to TestWordDelimiterGraphFilter vectors in
  * WordDelimiterSpec. */
object WordDelimiter {
  val GENERATE_WORD_PARTS = 1 << 0
  val GENERATE_NUMBER_PARTS = 1 << 1
  val CATENATE_WORDS = 1 << 2
  val CATENATE_NUMBERS = 1 << 3
  val CATENATE_ALL = 1 << 4
  val PRESERVE_ORIGINAL = 1 << 5
  val SPLIT_ON_CASE_CHANGE = 1 << 6
  val SPLIT_ON_NUMERICS = 1 << 7
  val STEM_ENGLISH_POSSESSIVE = 1 << 8

  private val LOWER = 0x01
  private val UPPER = 0x02
  private val DIGIT = 0x04
  private val DELIM = 0x08
  private val ALPHA = LOWER | UPPER

  /** `WordDelimiterIterator.getType`: Unicode category → subword class. */
  private def charType(ch: Int): Int = Character.getType(ch) match {
    case Character.UPPERCASE_LETTER => UPPER
    case Character.LOWERCASE_LETTER => LOWER
    case Character.TITLECASE_LETTER | Character.MODIFIER_LETTER |
         Character.OTHER_LETTER | Character.NON_SPACING_MARK |
         Character.ENCLOSING_MARK | Character.COMBINING_SPACING_MARK => ALPHA
    case Character.DECIMAL_DIGIT_NUMBER | Character.LETTER_NUMBER |
         Character.OTHER_NUMBER => DIGIT
    case Character.SURROGATE => ALPHA | DIGIT
    case _ => DELIM
  }
  private def isAlpha(t: Int) = (t & ALPHA) != 0
  private def isDigit(t: Int) = (t & DIGIT) != 0
  private def isUpper(t: Int) = (t & UPPER) != 0
  private def isDelim(t: Int) = (t & DELIM) != 0

  /** `WordDelimiterIterator.isBreak`. */
  private def isBreak(lastType: Int, tpe: Int, splitCase: Boolean,
                      splitNum: Boolean): Boolean = {
    if ((tpe & lastType) != 0) false
    else if (!splitCase && isAlpha(lastType) && isAlpha(tpe)) false
    else if (isUpper(lastType) && isAlpha(tpe)) false
    else if (!splitNum && ((isAlpha(lastType) && isDigit(tpe)) ||
                           (isDigit(lastType) && isAlpha(tpe)))) false
    else true
  }

  /** One subword: text plus its first-char class (ALPHA/DIGIT per
    * `WordDelimiterIterator.type()`). */
  final case class Part(text: String, tpe: Int)

  /** The iterator pass: subwords of `token` with bounds trimming and the
    * per-subword English-possessive skip; also reports whether the token
    * was a single subword spanning the trimmed bounds. */
  def subwords(token: String, splitCase: Boolean, splitNum: Boolean,
               stemPoss: Boolean): (Vector[Part], Boolean) = {
    val text = token.toCharArray
    var startBounds = 0
    var endBounds = text.length
    while (startBounds < endBounds && isDelim(charType(text(startBounds)))) startBounds += 1
    while (endBounds > startBounds && isDelim(charType(text(endBounds - 1)))) endBounds -= 1
    def endsWithPossessive(pos: Int): Boolean =
      stemPoss && pos > 2 && text(pos - 2) == '\'' &&
        (text(pos - 1) == 's' || text(pos - 1) == 'S') &&
        isAlpha(charType(text(pos - 3))) &&
        (pos == endBounds || isDelim(charType(text(pos))))
    val hasFinalPossessive = endsWithPossessive(endBounds)

    val parts = Vector.newBuilder[Part]
    var current = startBounds
    var first = true
    var singleWord = false
    var skipPossessive = false
    var count = 0
    while (current < endBounds) {
      if (skipPossessive) { current += 2; skipPossessive = false }
      var lastType = 0
      while (current < endBounds && {
        lastType = charType(text(current)); isDelim(lastType)
      }) current += 1
      if (current < endBounds) {
        var end = current + 1
        var done = false
        while (!done && end < endBounds) {
          val t = charType(text(end))
          if (isBreak(lastType, t, splitCase, splitNum)) done = true
          else { lastType = t; end += 1 }
        }
        if (end < endBounds - 1 && endsWithPossessive(end + 2)) skipPossessive = true
        val tpe = charType(text(current)) match {
          case LOWER | UPPER => ALPHA
          case other => other
        }
        // a possessive never sits INSIDE a subword: the apostrophe is a
        // delimiter, so the subword stops before it and skipPossessive
        // swallows the 's on the next advance (WordDelimiterIterator.next)
        parts += Part(new String(text, current, end - current), tpe)
        count += 1
        if (first) {
          val effectiveEnd = if (hasFinalPossessive) endBounds - 2 else endBounds
          singleWord = current == startBounds && end == effectiveEnd
          first = false
        } else singleWord = false
        current = end
      }
    }
    (parts.result(), singleWord && count == 1)
  }
}

/** The analyzer wrapper: each inner token independently splits/catenates;
  * parts advance one position each (the graph contract), catenations and
  * the preserved original sit at their start part's position; a token that
  * generates nothing leaves a one-position hole. `protWords` pass through
  * untouched (the filter's protected-word set). */
final case class WordDelimiterGraphAnalyzer(inner: Analyzer, flags: Int,
                                            protWords: Set[String] = Set.empty)
    extends Analyzer {
  import WordDelimiter._
  // registry-parseable: word-delimiter:<flags>:<inner>, or with protected
  // words word-delimiter-protected:<flags>:<w1,w2,..>:<inner>, the words
  // sorted and URL-encoded so that none holds a ':' or ','
  override val name =
    if (protWords.isEmpty) s"word-delimiter:$flags:${inner.name}"
    else s"word-delimiter-protected:$flags:" +
      protWords.toSeq.sorted.map(java.net.URLEncoder.encode(_, "UTF-8")).mkString(",") + s":${inner.name}"

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }

  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var pos = 0
    inner.tokenize(text).foreach { t =>
      val raw = t.term
      if (protWords.contains(raw)) {
        sink.accept(raw, 0, raw.length, pos); pos += 1
      } else {
        val (parts, single) = subwords(raw,
          (flags & SPLIT_ON_CASE_CHANGE) != 0,
          (flags & SPLIT_ON_NUMERICS) != 0,
          (flags & STEM_ENGLISH_POSSESSIVE) != 0)
        if (single) {
          val term = parts.head.text
          if ((flags & PRESERVE_ORIGINAL) != 0 && term != raw)
            sink.accept(raw, 0, raw.length, pos)
          sink.accept(term, 0, term.length, pos)
          pos += 1
        } else if (parts.isEmpty) {
          if ((flags & PRESERVE_ORIGINAL) != 0) sink.accept(raw, 0, raw.length, pos)
          pos += 1 // vanished token leaves a hole, like the reference
        } else {
          // buffered candidates: (startPart, endPart, rank, text)
          val buf = Vector.newBuilder[(Int, Int, Int, String)]
          val n = parts.length
          if ((flags & PRESERVE_ORIGINAL) != 0) buf += ((0, n, 0, raw))
          if ((flags & CATENATE_ALL) != 0 &&
              (n > 1 || (flags & (GENERATE_WORD_PARTS | GENERATE_NUMBER_PARTS)) == 0))
            buf += ((0, n, 1, parts.map(_.text).mkString))
          // per-type runs for CATENATE_WORDS / CATENATE_NUMBERS
          def runs(pred: Int => Boolean, flag: Int, genFlag: Int): Unit =
            if ((flags & flag) != 0) {
              var i = 0
              while (i < n) {
                if (pred(parts(i).tpe)) {
                  var j = i
                  while (j < n && pred(parts(j).tpe)) j += 1
                  if (j - i > 1 || (flags & genFlag) == 0)
                    buf += ((i, j, 2, parts.slice(i, j).map(_.text).mkString))
                  i = j
                } else i += 1
              }
            }
          // inclusive class checks like the reference's isAlpha/isDigit —
          // a surrogate (ALPHA|DIGIT) part joins either run
          runs(t => (t & 0x03) != 0, CATENATE_WORDS, GENERATE_WORD_PARTS)
          runs(t => (t & 0x04) != 0, CATENATE_NUMBERS, GENERATE_NUMBER_PARTS)
          parts.zipWithIndex.foreach { case (p, i) =>
            val gen =
              ((p.tpe & 0x03) != 0 && (flags & GENERATE_WORD_PARTS) != 0) ||
              ((p.tpe & 0x04) != 0 && (flags & GENERATE_NUMBER_PARTS) != 0)
            if (gen) buf += ((i, i + 1, 3, p.text))
          }
          val sorted = buf.result().sortBy { case (s, e, r, _) => (s, -e, r) }
          if (sorted.isEmpty) pos += 1 // nothing gated in: hole
          else {
            sorted.foreach { case (s, _, _, term) =>
              sink.accept(term, 0, term.length, pos + s)
            }
            pos += n
          }
        }
      }
    }
  }
}
