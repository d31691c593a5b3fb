package graft.core

import org.apache.commons.codec.StringEncoder
import org.apache.commons.codec.language.{Caverphone2, ColognePhonetic, DaitchMokotoffSoundex, DoubleMetaphone, Metaphone, Nysiis, RefinedSoundex, Soundex}

/** DoubleMetaphone phonetic chain — the reference's
  * `phonetic/DoubleMetaphoneFilter.java:28` delegates the ENCODING to
  * `org.apache.commons.codec.language.DoubleMetaphone` (commons-codec ships
  * on this platform's classpath just as it ships with the reference); what
  * the filter owns is the token-graph shape, re-expressed here verbatim:
  *
  *  - inject=true: the original token survives and the primary code (when
  *    non-empty and different from the token) plus the alternate code (when
  *    different from the primary) stack at the SAME position;
  *  - inject=false: the codes replace the token (alternate at posInc 0);
  *    a token whose primary code is empty or equals the token itself passes
  *    through unchanged (the non-convertible-strings contract);
  *  - the alternate is only considered when the primary differed from the
  *    token (`DoubleMetaphoneFilter.java:86-89`).
  *
  * Behavior pinned to the reference's own TestDoubleMetaphoneFilter vectors
  * in PhoneticSpec. BeiderMorse stays a declared non-goal (rule-asset-driven,
  * SURVEY §7.4); DaitchMokotoff is [[DaitchMokotoffAnalyzer]] below. */
final case class DoubleMetaphoneAnalyzer(maxCodeLength: Int = 4,
                                         inject: Boolean = true) extends Analyzer {
  override val name = s"double-metaphone:$maxCodeLength:$inject"
  @transient private lazy val encoder = {
    val e = new DoubleMetaphone()
    e.setMaxCodeLen(maxCodeLength)
    e
  }

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }

  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var pos = 0
    SnowballAnalyzers.standardRawTokens(text).foreach { raw =>
      val lower = raw.toLowerCase(java.util.Locale.ROOT)
      val primary = encoder.doubleMetaphone(lower)
      val alternate = encoder.doubleMetaphone(lower, true)
      val primaryFires = primary != null && primary.nonEmpty && primary != lower
      val alternateFires = primaryFires && alternate != null &&
        alternate.nonEmpty && alternate != primary
      def emit(t: String): Unit = sink.accept(t, 0, t.length, pos)
      if (inject) {
        emit(lower)
        if (primaryFires) emit(primary)
        if (alternateFires) emit(alternate)
      } else {
        if (primaryFires) emit(primary) else emit(lower)
        if (alternateFires) emit(alternate)
      }
      pos += 1
    }
  }
}

/** Generic phonetic chain — `phonetic/PhoneticFilter.java:41` +
  * `PhoneticFilterFactory.java:87`'s encoder registry over commons-codec
  * (Metaphone, Soundex, RefinedSoundex, Caverphone2, ColognePhonetic,
  * Nysiis, DoubleMetaphone-primary). The filter contract, preserved
  * verbatim: a code that is empty, equals the token, or throws leaves the
  * token unchanged; inject mode emits the CODE FIRST and the original at
  * the same position (the reference's save-state order); replace mode
  * substitutes the code. Pinned to TestPhoneticFilter vectors. */
final case class PhoneticAnalyzer(encoderName: String, inject: Boolean = true,
                                  maxCodeLength: Int = 4) extends Analyzer {
  override val name = s"phonetic:$encoderName:$inject:$maxCodeLength"
  @transient private lazy val encoder: StringEncoder =
    encoderName.toUpperCase(java.util.Locale.ROOT) match {
      case "METAPHONE" =>
        val e = new Metaphone(); e.setMaxCodeLen(maxCodeLength); e
      case "DOUBLEMETAPHONE" =>
        val e = new DoubleMetaphone(); e.setMaxCodeLen(maxCodeLength); e
      case "SOUNDEX"         => new Soundex()
      case "REFINEDSOUNDEX"  => new RefinedSoundex()
      case "CAVERPHONE"      => new Caverphone2()
      case "COLOGNEPHONETIC" => new ColognePhonetic()
      case "NYSIIS"          => new Nysiis()
      case other => throw new IllegalArgumentException(s"unknown encoder: $other")
    }

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var pos = 0
    SnowballAnalyzers.standardRawTokens(text).foreach { raw =>
      val lower = raw.toLowerCase(java.util.Locale.ROOT)
      val phonetic =
        try {
          val v = encoder.encode(lower)
          if (v != null && v.nonEmpty && v != lower) v else null
        } catch { case _: Exception => null }
      def emit(t: String): Unit = sink.accept(t, 0, t.length, pos)
      if (phonetic == null) emit(lower)
      else if (!inject) emit(phonetic)
      else { emit(phonetic); emit(lower) } // code first, reference order
      pos += 1
    }
  }
}

/** Daitch-Mokotoff Soundex chain
  * (`phonetic/DaitchMokotoffSoundexFilter.java:40`): the codec returns
  * `|`-separated BRANCHES; inject mode keeps the original first then every
  * branch at its position, replace mode emits the branches alone (the
  * original only when no branch exists). */
final case class DaitchMokotoffAnalyzer(inject: Boolean = true) extends Analyzer {
  override val name = s"daitch-mokotoff:$inject"
  @transient private lazy val encoder = new DaitchMokotoffSoundex()

  override def tokenize(text: String): IndexedSeq[Token] = {
    val out = Vector.newBuilder[Token]
    tokenizeRaw(text, (src, s, e, pos) => out += Token(src.substring(s, e), pos))
    out.result()
  }
  override def tokenizeRaw(text: String, sink: TokenSink): Unit = {
    var pos = 0
    SnowballAnalyzers.standardRawTokens(text).foreach { raw =>
      val lower = raw.toLowerCase(java.util.Locale.ROOT)
      val branches = encoder.soundex(lower).split('|').filter(_.nonEmpty)
      def emit(t: String): Unit = sink.accept(t, 0, t.length, pos)
      if (inject) { emit(lower); branches.foreach(emit) }
      else if (branches.isEmpty) emit(lower)
      else branches.foreach(emit)
      pos += 1
    }
  }
}
