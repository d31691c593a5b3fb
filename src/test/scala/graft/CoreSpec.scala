package graft

import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

class SmallFloatSpec extends AnyFunSuite {
  test("values 0..23 are exact") {
    (0 until SmallFloat.NumFreeValues).foreach { i =>
      assert(SmallFloat.byte4ToInt(SmallFloat.intToByte4(i)) == i)
    }
    assert(SmallFloat.NumFreeValues == 24)
  }

  test("round trip is lossy-down and idempotent; ordering preserved") {
    val rnd = new Random(42)
    (0 until 5000).foreach { _ =>
      val i = rnd.nextInt(Int.MaxValue)
      val b = SmallFloat.intToByte4(i)
      val d = SmallFloat.byte4ToInt(b)
      assert(d <= i)
      assert(SmallFloat.intToByte4(d) == b) // decode is a fixpoint of encode
      val j = rnd.nextInt(Int.MaxValue)
      if (i <= j)
        assert((SmallFloat.intToByte4(i) & 0xFF) <= (SmallFloat.intToByte4(j) & 0xFF))
    }
  }

  test("decode table covers all 256 bytes, strictly monotone") {
    val t = SmallFloat.LengthTable
    assert(t.length == 256)
    (1 until 256).foreach(i => assert(t(i) > t(i - 1)))
  }
}

class VByteSpec extends AnyFunSuite {
  test("int round trip") {
    val rnd = new Random(1)
    (0 until 200).foreach { _ =>
      val a = Array.fill(rnd.nextInt(300))(rnd.nextInt(Int.MaxValue))
      assert(VByte.decode(VByte.encode(a), a.length).toSeq == a.toSeq)
    }
  }
  test("long round trip") {
    val rnd = new Random(2)
    (0 until 200).foreach { _ =>
      val a = Array.fill(rnd.nextInt(300))(rnd.nextLong(Long.MaxValue))
      assert(VByte.decodeLongs(VByte.encodeLongs(a), a.length).toSeq == a.toSeq)
    }
  }
}

class BitPackSpec extends AnyFunSuite {
  test("round trip at every width, including 64-bit values") {
    val rnd = new Random(9)
    (0 until 300).foreach { _ =>
      val w = 1 + rnd.nextInt(63)
      val n = 1 + rnd.nextInt(300)
      val xs = Array.fill(n)(rnd.nextLong() & ((1L << w) - 1))
      assert(BitPack.unpack(BitPack.pack(xs), n).toSeq == xs.toSeq)
    }
    val big = Array(Long.MaxValue, 0L, 1L, Long.MaxValue - 1)
    assert(BitPack.unpack(BitPack.pack(big), 4).toSeq == big.toSeq)
    assert(BitPack.unpack(BitPack.pack(Array(0L, 0L)), 2).toSeq == Seq(0L, 0L))
  }

  test("packed size is 1 + ceil(n*w/8) for the max value's width") {
    val xs = Array.fill(128)(1000L) // 10 bits
    assert(BitPack.pack(xs).length == 1 + (128 * 10 + 7) / 8)
  }
}

class PostingsCodecSpec extends AnyFunSuite {
  private def randomPostings(rnd: Random): (Array[Long], Array[Int], Array[Int]) = {
    val n = 1 + rnd.nextInt(500)
    val docs = new Array[Long](n)
    var acc = 0L
    (0 until n).foreach { i => acc += 1 + rnd.nextInt(1000); docs(i) = acc }
    val freqs = Array.fill(n)(1 + rnd.nextInt(50))
    val doclens = Array.fill(n)(1 + rnd.nextInt(20000))
    (docs, freqs, doclens)
  }

  test("blocks round trip without positions") {
    val rnd = new Random(3)
    (0 until 100).foreach { _ =>
      val (docs, freqs, doclens) = randomPostings(rnd)
      val blocks = PostingsCodec.encodeBlocks(docs, freqs, doclens, null)
      assert(blocks.map(_.count).sum == docs.length)
      val decoded = blocks.flatMap { b =>
        val d = PostingsCodec.decodeBlock(b)
        d.docs.indices.map(i => (d.docs(i), d.freqs(i), d.doclens(i)))
      }
      // doc lengths come back byte-quantized, exactly like the reference's norms
      assert(decoded == docs.indices.map(i =>
        (docs(i), freqs(i), SmallFloat.byte4ToInt(SmallFloat.intToByte4(doclens(i))))).toVector)
    }
  }

  test("blocks round trip with positions; impact metadata dominates members") {
    val rnd = new Random(4)
    (0 until 100).foreach { _ =>
      val (docs, freqs, doclens) = randomPostings(rnd)
      val positions = freqs.map(f => Array.iterate(1 + rnd.nextInt(5), f)(_ + 1 + rnd.nextInt(7)))
      val blocks = PostingsCodec.encodeBlocks(docs, freqs, doclens, positions)
      var idx = 0
      blocks.foreach { b =>
        val d = PostingsCodec.decodeBlock(b, withPositions = true)
        d.docs.indices.foreach { i =>
          assert(d.positions(i).toSeq == positions(idx).toSeq)
          assert(d.freqs(i) <= b.maxFreq)
          assert(SmallFloat.byte4ToInt(b.minDlb) <= d.doclens(i))
          idx += 1
        }
        assert(b.firstDoc == d.docs.head && b.lastDoc == d.docs.last)
        assert(b.count <= PostingsCodec.BlockSize)
      }
    }
  }

  test("block max-impact upper bound holds for BM25 over members (CheckIndex-style)") {
    val sim = BM25Similarity()
    val cs = CollectionStats(docCount = 10000, sumTotalTermFreq = 4000000)
    val rnd = new Random(5)
    (0 until 50).foreach { _ =>
      val (docs, freqs, doclens) = randomPostings(rnd)
      val scorer = sim.scorer(1f, cs, TermStats(docs.length.toLong, freqs.map(_.toLong).sum))
      PostingsCodec.encodeBlocks(docs, freqs, doclens, null).foreach { b =>
        val ub = scorer.score(b.maxFreq.toFloat, b.minDlb)
        val d = PostingsCodec.decodeBlock(b)
        d.docs.indices.foreach { i =>
          val s = scorer.score(d.freqs(i).toFloat, SmallFloat.intToByte4(d.doclens(i)))
          assert(s <= ub, s"member score $s > block bound $ub")
        }
      }
    }
  }

  test("competitive-impact frontier dominates members and tightens the bound") {
    val sim = BM25Similarity()
    val cs = CollectionStats(docCount = 10000, sumTotalTermFreq = 4000000)
    val rnd = new Random(6)
    (0 until 50).foreach { _ =>
      val (docs, freqs, doclens) = randomPostings(rnd)
      val scorer = sim.scorer(1f, cs, TermStats(docs.length.toLong, freqs.map(_.toLong).sum))
      PostingsCodec.encodeBlocks(docs, freqs, doclens, null).foreach { b =>
        assert(b.impFreqs.length == b.impDlbs.length)
        assert(b.impFreqs.nonEmpty && b.impFreqs.length <= PostingsCodec.MaxImpacts)
        // strictly ascending freqs and lengths (pareto shape)
        (1 until b.impFreqs.length).foreach { j =>
          assert(b.impFreqs(j) > b.impFreqs(j - 1))
          assert(SmallFloat.byte4ToInt(b.impDlbs(j)) > SmallFloat.byte4ToInt(b.impDlbs(j - 1)))
        }
        assert(b.impFreqs.last == b.maxFreq)
        val frontierUb = b.impFreqs.indices
          .map(j => scorer.score(b.impFreqs(j).toFloat, b.impDlbs(j))).max
        val looseUb = scorer.score(b.maxFreq.toFloat, b.minDlb)
        assert(frontierUb <= looseUb + 1e-6f, "frontier bound must not exceed the single-pair bound")
        val d = PostingsCodec.decodeBlock(b)
        d.docs.indices.foreach { i =>
          // every member dominated by some frontier pair
          assert(b.impFreqs.indices.exists(j =>
            b.impFreqs(j) >= d.freqs(i) &&
              SmallFloat.byte4ToInt(b.impDlbs(j)) <= d.doclens(i)))
          val s = scorer.score(d.freqs(i).toFloat, SmallFloat.intToByte4(d.doclens(i)))
          assert(s <= frontierUb, s"member score $s > frontier bound $frontierUb")
        }
      }
    }
  }
}

/** Port of the reference's similarity property list
  * (`lucene/test-framework/src/java/org/apache/lucene/tests/search/similarities/BaseSimilarityTestCase.java:240-258`):
  * over all 256 norm bytes × random collection/term stats × freq grid, scores
  * are finite, non-negative, monotonic in freq, in doc shortness, and in
  * term rarity. */
class SimilaritySpec extends AnyFunSuite {
  private val rnd = new Random(6)

  test("BM25 properties over all 256 norm bytes") {
    (0 until 30).foreach { _ =>
      val docCount = 1 + rnd.nextLong(1000000)
      val avgdl = 1 + rnd.nextInt(1000)
      val cs = CollectionStats(docCount, docCount * avgdl)
      val df = 1 + (rnd.nextLong(docCount))
      val scorer = BM25Similarity().scorer(1f, cs, TermStats(df, df))
      var prevNormScore = Float.PositiveInfinity
      (0 until 256).foreach { nb =>
        var prevFreqScore = 0f
        Seq(1f, 2f, 4f, 16f, 64f, 1000f).foreach { freq =>
          val s = scorer.score(freq, nb.toByte)
          assert(java.lang.Float.isFinite(s) && s >= 0f)
          assert(s >= prevFreqScore, "monotone in freq")
          prevFreqScore = s
        }
        // norm bytes decode to increasing lengths => score non-increasing
        val s1 = scorer.score(10f, nb.toByte)
        assert(s1 <= prevNormScore + 1e-6f, "monotone in doc shortness")
        prevNormScore = s1
      }
    }
  }

  test("BM25 monotone in term rarity") {
    val cs = CollectionStats(100000, 40000000)
    var prev = Float.PositiveInfinity
    Seq(1L, 10L, 100L, 1000L, 50000L, 99999L).foreach { df =>
      val s = BM25Similarity().scorer(1f, cs, TermStats(df, df)).score(5f, SmallFloat.intToByte4(400))
      assert(s <= prev, "rarer term scores at least as high")
      prev = s
    }
  }

  test("BM25 float arithmetic matches the documented closed form") {
    val cs = CollectionStats(500, 200000)
    val scorer = BM25Similarity().scorer(1f, cs, TermStats(387, 910))
    val idf = math.log(1 + (500 - 387 + 0.5) / (387 + 0.5)).toFloat
    val dl = SmallFloat.byte4ToInt(SmallFloat.intToByte4(128))
    val avgdl = (200000 / 500.0).toFloat
    val normInv = 1f / (1.2f * ((1 - 0.75f) + 0.75f * dl / avgdl))
    val expect = idf - idf / (1f + 3f * normInv)
    assert(scorer.score(3f, SmallFloat.intToByte4(128)) == expect)
  }

  test("Classic TF-IDF basics") {
    val cs = CollectionStats(1000, 400000)
    val s = ClassicSimilarity().scorer(1f, cs, TermStats(10, 20))
    assert(s.score(4f, SmallFloat.intToByte4(16)) > 0f)
    assert(s.score(4f, SmallFloat.intToByte4(16)) > s.score(1f, SmallFloat.intToByte4(16)))
    assert(s.score(4f, SmallFloat.intToByte4(16)) > s.score(4f, SmallFloat.intToByte4(64)))
  }
}

class AnalysisSpec extends AnyFunSuite {
  test("ascii folding: accents fold, ligatures expand, positions survive") {
    assert(AsciiFolding.fold("café") == "cafe")
    assert(AsciiFolding.fold("Ångström") == "Angstrom")
    assert(AsciiFolding.fold("œuvre straße") == "oeuvre strasse")
    assert(AsciiFolding.fold("łódź") == "lodz")
    assert(AsciiFolding.fold("plain ascii-42") == "plain ascii-42")
    val toks = AsciiFoldingAnalyzer().tokenize("Café crème, №2")
    assert(toks.map(_.term) == Seq("cafe", "creme", "2"))
    assert(toks.map(_.position) == Seq(0, 1, 2))
  }

  test("shingle analyzer: adjacent token n-grams, dense output positions") {
    val a = ShingleAnalyzer(SimpleAnalyzer, 2)
    assert(a.tokenize("fast scan join").map(_.term) == Seq("fast scan", "scan join"))
    assert(a.tokenize("fast scan join").map(_.position) == Seq(0, 1))
    assert(a.tokenize("one").isEmpty)
    val tri = ShingleAnalyzer(SimpleAnalyzer, 3)
    assert(tri.tokenize("a b c d").map(_.term) == Seq("a b c", "b c d"))
    // a stop-filtered gap breaks the shingle window
    val stopped = ShingleAnalyzer(SimpleStopAnalyzer(Set("the")), 2)
    assert(stopped.tokenize("fast the scan").map(_.term) == Seq())
    assert(stopped.tokenize("fast scan the").map(_.term) == Seq("fast scan"))
  }

  test("ngram analyzer: all grams in range at the source token's position") {
    val a = NGramAnalyzer(SimpleAnalyzer, 2, 3)
    val toks = a.tokenize("abcd")
    assert(toks.map(_.term) == Seq("ab", "bc", "cd", "abc", "bcd"))
    assert(toks.map(_.position).forall(_ == 0))
    assert(NGramAnalyzer(SimpleAnalyzer, 2, 3).tokenize("x").isEmpty)
  }

  test("analyzer registry round-trips the new names") {
    assert(Analyzers.byName("folding").name == "folding")
    assert(Analyzers.byName("shingle-2") == ShingleAnalyzer(SimpleAnalyzer, 2))
    assert(Analyzers.byName("ngram-3-3") == NGramAnalyzer(SimpleAnalyzer, 3, 3))
  }

  test("common-grams names round-trip over an inner analyzer whose name has colons") {
    val inner = PhoneticAnalyzer("METAPHONE", inject = false, maxCodeLength = 6)
    Seq(CommonGramsAnalyzer(inner, Set("the", "of")), CommonGramsQueryAnalyzer(inner, Set("a"))).foreach { a =>
      assert(Analyzers.byName(a.name).name == a.name)
      assert(Analyzers.byName(a.name) == a)
    }
  }

  test("dictionary analyzers resolve only when constructed in this process") {
    // names no instance in this process carries: a dictionary-less stand-in
    // would analyze queries unlike the index, so the open must refuse
    Seq("hunspell:0", "german-compound:0", "dutch-compound:0").foreach { n =>
      val e = intercept[IllegalArgumentException](Analyzers.byName(n))
      assert(e.getMessage.contains(n) && e.getMessage.contains("dictionary"), e.getMessage)
    }
    val dict = CompoundWordDictionary(Set("win", "dow"))
    Seq(HunspellAnalyzer(Hunspell.parse("SET UTF-8\nSFX E Y 1\nSFX E 0 e .\n", "1\ntabl/E\n")),
      GermanAnalyzer(compound = Some(dict)), DutchAnalyzer(compound = Some(dict))).foreach { a =>
      assert(Analyzers.byName(a.name) eq a, a.name)
    }
  }

  test("simple analyzer: lowercase alnum runs with consecutive positions") {
    val toks = SimpleAnalyzer.tokenize("The fast-scan, 3.14 JOINs!")
    assert(toks.map(_.term) == Seq("the", "fast", "scan", "3", "14", "joins"))
    assert(toks.map(_.position) == Seq(0, 1, 2, 3, 4, 5))
    assert(SimpleAnalyzer.tokenize("") == Vector())
    assert(SimpleAnalyzer.tokenize("  ,,  ") == Vector())
  }

  test("standard analyzer: UAX#29-style word breaks") {
    val a = StandardLikeAnalyzer()
    assert(a.tokenize("The quick brown fox").map(_.term) == Seq("the", "quick", "brown", "fox"))
    // numbers with separators stay single tokens under UAX#29
    assert(a.tokenize("pi is 3.14").map(_.term) == Seq("pi", "is", "3.14"))
    assert(a.tokenize("1,000 items").map(_.term) == Seq("1,000", "items"))
    // punctuation splits
    assert(a.tokenize("hello,world").map(_.term) == Seq("hello", "world"))
  }

  test("standard analyzer: stop filter keeps position increments") {
    val a = StandardLikeAnalyzer(stopWords = Set("the"))
    val toks = a.tokenize("the quick fox")
    assert(toks.map(_.term) == Seq("quick", "fox"))
    assert(toks.map(_.position) == Seq(1, 2)) // position 0 consumed by "the"
  }

  test("standard analyzer: maxTokenLength splits over-long tokens") {
    val a = StandardLikeAnalyzer(maxTokenLength = 10)
    val toks = a.tokenize("a" * 25)
    assert(toks.map(_.term) == Seq("a" * 10, "a" * 10, "a" * 5))
  }

  test("html strip: tags, entities, script/style/comments") {
    assert(HtmlStrip("<html><body><p>hi there</p></body></html>") == "hi there")
    assert(HtmlStrip("a &amp; b &lt;c&gt; &#65; &#x42;") == "a & b <c> A B")
    assert(HtmlStrip("x<script>var a=1;</script>y") == "xy")
    assert(HtmlStrip("x<style>.a{}</style>y") == "xy")
    assert(HtmlStrip("x<!-- hidden -->y") == "xy")
  }

  test("html strip: round trip of the synthetic page shape (per-row invariant)") {
    val text = "the fast key order sort"
    val html = s"<html><head><title>t</title></head><body><p>$text</p></body></html>"
    assert(HtmlStrip(html) == s"t$text")
  }
}
