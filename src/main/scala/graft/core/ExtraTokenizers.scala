package graft.core

/** CommonGramsFilter analog
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/commongrams/CommonGramsFilter.java:41`):
  * for each adjacent token pair where either side is a common word, emit the
  * `w1_w2` bigram at the FIRST word's position (posInc 0 in the reference)
  * in addition to both unigrams — the phrase-speed trick that turns
  * high-df-word phrases into single-term lookups. Stream order matches the
  * reference: w1, bigram, w2. Norm divergence documented: the reference
  * discounts posInc-0 tokens from the length norm
  * (`IndexingChain numTerms - numOverlap`); graft's doclen counts every
  * emitted token — self-consistent engine-wide (the compound chains behave
  * the same way) and mirrored by the q138 oracle. */
final case class CommonGramsAnalyzer(inner: Analyzer, commonWords: Set[String])
    extends Analyzer {
  // registry-parseable: commongrams:<innerName>:<w1,w2,...>
  override val name =
    s"commongrams:${inner.name}:${commonWords.toSeq.sorted.mkString(",")}"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var prevTerm: String = null
    var prevPos = 0
    var prevCommon = false
    inner.tokenize(text).foreach { t =>
      val isCommon = commonWords.contains(t.term)
      if (prevTerm != null && (prevCommon || isCommon)) {
        val gram = prevTerm + "_" + t.term
        sink.accept(gram, 0, gram.length, prevPos)
      }
      sink.accept(t.term, 0, t.term.length, t.position)
      prevTerm = t.term
      prevPos = t.position
      prevCommon = isCommon
    }
  }
}

/** CommonGramsQueryFilter analog
  * (`commongrams/CommonGramsQueryFilter.java:38`): the query-side view of a
  * CommonGrams stream — bigrams whenever possible, a unigram only when a
  * following non-gram token flushes it, and the trailing buffered token
  * dropped exactly when the LAST emission was a gram (the reference's
  * one-token-lookahead state machine, whose behavior overrides its own
  * javadoc example — `"the quick brown"` keeps `quick`). Emitted positions
  * are consecutive (the filter resets gram posInc to 1). */
final case class CommonGramsQueryAnalyzer(inner: Analyzer, commonWords: Set[String])
    extends Analyzer {
  override val name =
    s"commongrams-query:${inner.name}:${commonWords.toSeq.sorted.mkString(",")}"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    // stage 1: the CommonGrams stream, tagged (term, isGram)
    val stream = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean)]
    var prevTerm: String = null
    var prevCommon = false
    inner.tokenize(text).foreach { t =>
      val isCommon = commonWords.contains(t.term)
      if (prevTerm != null && (prevCommon || isCommon))
        stream += ((prevTerm + "_" + t.term, true))
      stream += ((t.term, false))
      prevTerm = t.term
      prevCommon = isCommon
    }
    // stage 2: the query filter's buffered pass
    var pos = 0
    def emit(term: String): Unit = { sink.accept(term, 0, term.length, pos); pos += 1 }
    var prev: (String, Boolean) = null
    var lastEmittedGram = false
    var emittedAny = false
    stream.foreach { cur =>
      if (prev != null && !cur._2) {
        emit(prev._1)
        lastEmittedGram = prev._2
        emittedAny = true
      }
      prev = cur
    }
    if (prev != null && !(emittedAny && lastEmittedGram)) emit(prev._1)
  }
}

/** PatternTokenizer analog
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/pattern/PatternTokenizer.java:55`):
  * `group >= 0` emits one token per regex match (that group's text);
  * `group == -1` is split mode — tokens are the non-empty runs between
  * matches. Tokens are lowercased afterwards when `toLower` (the usual
  * PatternTokenizer + LowerCaseFilter composition). */
final case class PatternAnalyzer(pattern: String, group: Int = -1,
                                 toLower: Boolean = true) extends Analyzer {
  // registry-parseable: pattern:<group>:<regex>, or pattern-cased:<group>:<regex>
  // when tokens keep their case
  override val name = s"${if (toLower) "pattern" else "pattern-cased"}:$group:$pattern"
  @transient private lazy val re = java.util.regex.Pattern.compile(pattern)

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    val m = re.matcher(text)
    var pos = 0
    def emit(raw: String): Unit = if (raw.nonEmpty) {
      val term = if (toLower) raw.toLowerCase(java.util.Locale.ROOT) else raw
      sink.accept(term, 0, term.length, pos)
      pos += 1
    }
    if (group >= 0) {
      while (m.find()) emit(m.group(group))
    } else {
      var last = 0
      while (m.find()) {
        emit(text.substring(last, m.start()))
        last = m.end()
      }
      emit(text.substring(last))
    }
  }
}

/** Analyzer view of the delimited stream for the SEARCHABLE index: the
  * `term|payload` suffix is stripped and the bare term flows through —
  * what the wrapped SpanTermQuery matches against. */
final case class DelimitedPayloadAnalyzer(delimiter: Char = '|')
    extends Analyzer {
  override val name = s"payload-delim-$delimiter"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var pos = 0
    text.split("\\s+").foreach { raw =>
      if (raw.nonEmpty) {
        val cut = raw.indexOf(delimiter)
        val term = (if (cut >= 0) raw.substring(0, cut) else raw)
          .toLowerCase(java.util.Locale.ROOT)
        if (term.nonEmpty) {
          sink.accept(term, 0, term.length, pos)
          pos += 1
        }
      }
    }
  }
}


/** ReverseStringFilter analog
  * (`lucene/analysis/common/src/java/org/apache/lucene/analysis/reverse/ReverseStringFilter.java:35`):
  * every token reversed. Its purpose is the classic leading-wildcard trick —
  * a reversed side index turns `*suffix` into an efficient PREFIX scan of
  * the reversed dictionary (`Searcher.scored(PrefixQuery(suffix.reverse))`),
  * and because reversal is a bijection on terms, df/tf/doclen — and
  * therefore every score — match the forward index exactly. */
final case class ReverseStringAnalyzer(inner: Analyzer) extends Analyzer {
  override val name = s"reverse:${inner.name}"
  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit =
    inner.tokenize(text).foreach { t =>
      val r = t.term.reverse
      sink.accept(r, 0, r.length, t.position)
    }
}
