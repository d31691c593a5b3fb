package graft

import graft.search.{IntervalEval, Intervals}
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** Minimal-interval algebra spec: handcrafted semantics cases plus
  * brute-force doc-match equivalences on random position data. */
class IntervalsSpec extends AnyFunSuite {
  import Intervals._

  private def pos(pairs: (String, Seq[Int])*): Map[String, Array[Int]] =
    pairs.map { case (t, ps) => t -> ps.toArray.sorted }.toMap

  test("ordered: in-order minimal intervals only") {
    // doc: a . b a . . b
    val p = pos("a" -> Seq(0, 3), "b" -> Seq(2, 6))
    val got = IntervalEval.eval(Ordered(Seq(Term("a"), Term("b"))), p)
    // minimal ordered: (0,2) and (3,6); (0,6) contains (3,6) so dropped
    assert(got == Vector((0, 2), (3, 6)))
  }

  test("ordered requires order; unordered does not") {
    val p = pos("a" -> Seq(5), "b" -> Seq(2))
    assert(IntervalEval.eval(Ordered(Seq(Term("a"), Term("b"))), p).isEmpty)
    assert(IntervalEval.eval(Unordered(Seq(Term("a"), Term("b"))), p) == Vector((2, 5)))
  }

  test("or unions and minimalizes; phrase is consecutive") {
    val p = pos("a" -> Seq(1, 4), "b" -> Seq(2))
    assert(IntervalEval.eval(Or(Seq(Term("a"), Term("b"))), p) == Vector((1, 1), (2, 2), (4, 4)))
    assert(IntervalEval.eval(Phrase(Seq("a", "b")), p) == Vector((1, 2)))
    assert(IntervalEval.eval(Phrase(Seq("b", "a")), p).isEmpty)
  }

  test("containing / containedBy") {
    val p = pos("a" -> Seq(0), "b" -> Seq(4), "x" -> Seq(2))
    val big = Unordered(Seq(Term("a"), Term("b"))) // (0,4)
    assert(IntervalEval.eval(Containing(big, Term("x")), p) == Vector((0, 4)))
    assert(IntervalEval.eval(Containing(big, Term("zzz")), p).isEmpty)
    assert(IntervalEval.eval(ContainedBy(Term("x"), big), p) == Vector((2, 2)))
    assert(IntervalEval.eval(ContainedBy(Term("a"), Term("a")), p) == Vector((0, 0)))
  }

  test("maxgaps counts non-leaf positions inside the interval") {
    val p = pos("a" -> Seq(0), "b" -> Seq(3))
    val o = Ordered(Seq(Term("a"), Term("b"))) // (0,3): width 4, 2 leaves, 2 gaps
    assert(IntervalEval.eval(MaxGaps(2, o), p) == Vector((0, 3)))
    assert(IntervalEval.eval(MaxGaps(1, o), p).isEmpty)
  }

  test("maxgaps over or: gaps counted from the MATCHED alternative's leaves") {
    // or(phrase(a b), c) then d: via the 1-leaf branch c(0) .. d(2) the
    // interval (0,2) has 2 matched leaves -> 1 gap; a static per-source max
    // (3 leaves) would call it 0 gaps and wrongly pass maxgaps(0)
    val p = pos("a" -> Seq(), "b" -> Seq(), "c" -> Seq(0), "d" -> Seq(2))
    val src = Ordered(Seq(Or(Seq(Phrase(Seq("a", "b")), Term("c"))), Term("d")))
    assert(IntervalEval.eval(MaxGaps(1, src), p) == Vector((0, 2)))
    assert(IntervalEval.eval(MaxGaps(0, src), p).isEmpty)
    // via the 2-leaf phrase branch the same window is gapless: a(0) b(1) d(2)
    val p2 = pos("a" -> Seq(0), "b" -> Seq(1), "c" -> Seq(), "d" -> Seq(2))
    assert(IntervalEval.eval(MaxGaps(0, src), p2) == Vector((0, 2)))
  }

  test("doc-match equivalence vs brute force: maxwidth(ordered(a,b)) and unordered window") {
    val rnd = new Random(17)
    (0 until 2000).foreach { _ =>
      val a = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(20)).distinct.sorted
      val b = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(20)).distinct.sorted
      val w = 1 + rnd.nextInt(8)
      val p = pos("a" -> a, "b" -> b)
      val gotOrdered = IntervalEval.matches(MaxWidth(w, Ordered(Seq(Term("a"), Term("b")))), p)
      val wantOrdered = a.exists(pa => b.exists(pb => pa < pb && pb - pa + 1 <= w))
      assert(gotOrdered == wantOrdered, s"ordered a=$a b=$b w=$w")
      val gotUn = IntervalEval.matches(MaxWidth(w, Unordered(Seq(Term("a"), Term("b")))), p)
      val wantUn = a.exists(pa => b.exists(pb => math.max(pa, pb) - math.min(pa, pb) + 1 <= w))
      assert(gotUn == wantUn, s"unordered a=$a b=$b w=$w")
    }
  }

  test("extend widens, clamps at 0, and re-minimalizes") {
    val p = pos("a" -> Seq(1, 6))
    assert(IntervalEval.eval(Extend(Term("a"), 3, 2), p) == Vector((0, 3), (3, 8)))
    // saturating end extension
    assert(IntervalEval.eval(Extend(Term("a"), 0, Int.MaxValue), p)
      .forall(_._2 == Int.MaxValue))
  }

  test("filter combinators: notContaining / notContainedBy / overlapping / nonOverlapping / before / after") {
    // doc: a(0) x(2) b(4)   a(6) b(8)   r(5)
    val p = pos("a" -> Seq(0, 6), "b" -> Seq(4, 8), "x" -> Seq(2), "r" -> Seq(5))
    val pairs = Ordered(Seq(Term("a"), Term("b"))) // minimal: (0,4), (6,8)
    assert(IntervalEval.eval(NotContaining(pairs, Term("x")), p) == Vector((6, 8)))
    assert(IntervalEval.eval(NotContainedBy(Term("x"), pairs), p).isEmpty)
    assert(IntervalEval.eval(NotContainedBy(Term("r"), pairs), p) == Vector((5, 5)))
    assert(IntervalEval.eval(Overlapping(pairs, Term("x")), p) == Vector((0, 4)))
    assert(IntervalEval.eval(NonOverlapping(pairs, Term("r")), p) == Vector((0, 4), (6, 8)))
    assert(IntervalEval.eval(Before(Term("a"), Term("r")), p) == Vector((0, 0)))
    assert(IntervalEval.eval(After(Term("b"), Term("r")), p) == Vector((8, 8)))
    // subtrahend absent from the doc: filters pass everything through
    assert(IntervalEval.eval(NotContaining(pairs, Term("zzz")), p) == Vector((0, 4), (6, 8)))
  }

  test("within / notWithin lower to extend like the reference") {
    // a(0) ... r(3): a is within 3 of r, not within 2
    val p = pos("a" -> Seq(0), "r" -> Seq(3))
    assert(IntervalEval.matches(within(Term("a"), 3, Term("r")), p))
    assert(!IntervalEval.matches(within(Term("a"), 2, Term("r")), p))
    assert(!IntervalEval.matches(notWithin(Term("a"), 3, Term("r")), p))
    assert(IntervalEval.matches(notWithin(Term("a"), 2, Term("r")), p))
  }

  test("doc-match equivalence vs brute force: filter combinators on random positions") {
    val rnd = new Random(41)
    (0 until 2000).foreach { _ =>
      val a = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(20)).distinct.sorted
      val b = Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(20)).distinct.sorted
      val c = Seq.fill(rnd.nextInt(4))(rnd.nextInt(20)).distinct.sorted
      val p = pos("a" -> a, "b" -> b, "c" -> c)
      val pairs = Ordered(Seq(Term("a"), Term("b")))
      // brute-force MINIMAL ordered pairs
      val allPairs = for {
        pa <- a; pb <- b if pa < pb
      } yield (pa, pb)
      val minimalPairs = allPairs.filterNot(x =>
        allPairs.exists(y => y != x && x._1 <= y._1 && y._2 <= x._2))
      def hasC(lo: Int, hi: Int) = c.exists(pc => lo <= pc && pc <= hi)
      val wantNotContaining = minimalPairs.exists { case (lo, hi) => !hasC(lo, hi) }
      assert(IntervalEval.matches(NotContaining(pairs, Term("c")), p) == wantNotContaining,
        s"notContaining a=$a b=$b c=$c")
      val wantOverlap = minimalPairs.exists { case (lo, hi) => hasC(lo, hi) }
      assert(IntervalEval.matches(Overlapping(pairs, Term("c")), p) == wantOverlap,
        s"overlapping(point) a=$a b=$b c=$c")
      val wantBefore = a.exists(pa => c.exists(pc => pa < pc))
      assert(IntervalEval.matches(Before(Term("a"), Term("c")), p) == wantBefore,
        s"before a=$a c=$c")
      val wantAfter = a.exists(pa => c.exists(pc => pa > pc))
      assert(IntervalEval.matches(After(Term("a"), Term("c")), p) == wantAfter,
        s"after a=$a c=$c")
    }
  }

  test("atLeast: minimum-should-match over interval sources") {
    // a(0) b(2) — c absent: 2-of-3 matches via {a,b}, 3-of-3 does not
    val p = pos("a" -> Seq(0), "b" -> Seq(2), "c" -> Seq())
    assert(IntervalEval.eval(atLeast(2, Term("a"), Term("b"), Term("c")), p) == Vector((0, 2)))
    assert(!IntervalEval.matches(atLeast(3, Term("a"), Term("b"), Term("c")), p))
    // n > m matches nothing; n == m lowers to unordered
    assert(!IntervalEval.matches(atLeast(4, Term("a"), Term("b"), Term("c")), p))
    val p2 = pos("a" -> Seq(0), "b" -> Seq(2), "c" -> Seq(5))
    assert(IntervalEval.eval(atLeast(3, Term("a"), Term("b"), Term("c")), p2) == Vector((0, 5)))
    // minimality across subsets: tight {b,c} span hides the wider {a,b,c}
    assert(IntervalEval.eval(atLeast(2, Term("a"), Term("b"), Term("c")), p2) == Vector((0, 2), (2, 5)))
  }

  test("atLeast doc-match equivalence vs brute force") {
    val rnd = new Random(59)
    (0 until 1000).foreach { _ =>
      val lists = Seq("a", "b", "c", "d").map(t =>
        t -> Seq.fill(rnd.nextInt(3))(rnd.nextInt(15)).distinct.sorted)
      val p = pos(lists: _*)
      val n = 2 + rnd.nextInt(2)
      val got = IntervalEval.matches(
        atLeast(n, Seq("a", "b", "c", "d").map(Term.apply): _*), p)
      val want = lists.count(_._2.nonEmpty) >= n
      assert(got == want, s"n=$n lists=$lists")
    }
  }

  test("requiredTerms: conjunctive terms required; Or branches and negative sides not") {
    assert(requiredTerms(Ordered(Seq(Term("a"), Term("b")))) == Set("a", "b"))
    assert(requiredTerms(Unordered(Seq(Term("a"), Term("b")))) == Set("a", "b"))
    assert(requiredTerms(Or(Seq(Term("a"), Term("b")))) == Set.empty)
    // a term required by EVERY Or branch is required
    assert(requiredTerms(Or(Seq(Phrase(Seq("a", "b")), Ordered(Seq(Term("a"), Term("c")))))) == Set("a"))
    // subtractive combinators: only the positive side is required
    assert(requiredTerms(NotContaining(Term("a"), Term("x"))) == Set("a"))
    assert(requiredTerms(NotContainedBy(Term("a"), Term("x"))) == Set("a"))
    assert(requiredTerms(NonOverlapping(Term("a"), Term("x"))) == Set("a"))
    assert(requiredTerms(Containing(Term("a"), Term("b"))) == Set("a", "b"))
    assert(requiredTerms(Before(Term("a"), Term("r"))) == Set("a", "r"))
    assert(requiredTerms(MaxWidth(3, Extend(Term("a"), 1, 1))) == Set("a"))
    // atLeast(2 of 3 distinct terms): no single term gates the match
    assert(requiredTerms(atLeast(2, Term("a"), Term("b"), Term("c"))) == Set.empty)
    // ...but a term required by MORE than (m − n) children is in every n-subset
    assert(requiredTerms(AtLeast(2, Seq(Phrase(Seq("a", "x")), Phrase(Seq("a", "y")),
      Phrase(Seq("a", "z"))))) == Set("a"))
    assert(requiredTerms(atLeast(3, Term("a"), Term("b"), Term("c"))) == Set("a", "b", "c"))
    assert(requiredTerms(Prefix("qu")) == Set.empty)
  }

  test("hasMultiTerm: prefix and wildcard leaves at any depth") {
    assert(!hasMultiTerm(Ordered(Seq(Term("a"), Or(Seq(Phrase(Seq("b", "c")), Term("d")))))))
    assert(!hasMultiTerm(NotNear(1, 2, Term("a"), MaxGaps(1, Unordered(Seq(Term("b"), Term("c")))))))
    assert(hasMultiTerm(Prefix("qu")))
    assert(hasMultiTerm(Ordered(Seq(Term("a"), Or(Seq(Term("b"), Wildcard("c?d")))))))
    assert(hasMultiTerm(ContainedBy(Term("a"), Extend(AtLeast(1, Seq(Term("b"), Prefix("x"))), 1, 1))))
  }

  test("segment matcher leapfrogs: head-term blocks outside the rarest required term's range never decode") {
    import graft.core.PostingsCodec
    import graft.search.Positional
    // head term "the" in every doc 0..4095 (32 blocks of 128); rare term
    // "zebra" in two docs of the LAST block only
    val n = 4096
    val byTerm = Map(
      "the" -> PostingsCodec.encodeBlocks(Array.tabulate(n)(_.toLong),
        Array.fill(n)(1), Array.fill(n)(100), Array.fill(n)(Array(5))),
      "zebra" -> PostingsCodec.encodeBlocks(Array[Long](4000, 4090),
        Array(1, 1), Array(100, 100), Array(Array(6), Array(99))))
    val totalBlocks = byTerm.values.map(_.size).sum
    assert(totalBlocks == 33)
    // the positional kernel with an interval source's per-doc function, led
    // by the rarest required term like the searcher's interval plan
    def matching(src: graft.search.IntervalsSource, lead: Set[String], onDecode: () => Unit,
        lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Vector[Long] =
      Positional.matchingDocs(byTerm, lead, graft.search.Accept(lo, hi), pos => {
        val m = src.terms.flatMap(t => Option(pos(t)).map(t -> _)).toMap
        if (IntervalEval.matches(src, m)) 1.0 else 0.0
      }, onDecode).map(_._1).toVector
    val src = Ordered(Seq(Term("the"), Term("zebra")))
    assert(requiredTerms(src) == Set("the", "zebra"))
    var decodes = 0
    val got = matching(src, Set("zebra"), () => decodes += 1)
    assert(got == Vector(4000L, 4090L))
    // 1 zebra block (the lead) + 1 overlapping "the" block; the other 31
    // "the" blocks are skipped undecoded
    assert(decodes == 2, s"decoded $decodes of $totalBlocks blocks (expected 2)")
    // a doc-range slice keeps only its own candidates
    assert(matching(src, Set("zebra"), () => (), lo = 0L, hi = 4089L) == Vector(4000L))
    // an un-gated Or over the same terms (no required term: every present
    // term leads) must decode everything
    var all = 0
    val orSrc = Or(Seq(Term("the"), Term("zebra")))
    assert(requiredTerms(orSrc).isEmpty)
    assert(matching(orSrc, Set.empty, () => all += 1).length == n)
    assert(all == totalBlocks)
    // a lead term absent from the blocks short-circuits: zero decodes
    var none = 0
    assert(matching(Ordered(Seq(Term("the"), Term("missing"))), Set("missing"), () => none += 1).isEmpty)
    assert(none == 0)
  }

  test("leadTerms: a source with no required term still leads with a bounded term set") {
    import graft.core.PostingsCodec
    import graft.search.Positional
    // heads h1, h2 in every doc 0..4095 (32 blocks of 128 each); rare r1 in
    // doc 4000, r2 in docs 4010 and 4090 — all in the last head block
    val n = 4096
    def head(p: Int) = PostingsCodec.encodeBlocks(Array.tabulate(n)(_.toLong),
      Array.fill(n)(1), Array.fill(n)(100), Array.fill(n)(Array(p)))
    val blocks = Map(
      "h1" -> head(5), "h2" -> head(7),
      "r1" -> PostingsCodec.encodeBlocks(Array[Long](4000), Array(1), Array(100), Array(Array(6))),
      "r2" -> PostingsCodec.encodeBlocks(Array[Long](4010, 4090), Array(1, 1), Array(100, 100),
        Array(Array(9), Array(9))))
    val df = Map("h1" -> n.toLong, "h2" -> n.toLong, "r1" -> 1L, "r2" -> 2L)
    /** (matching docs, blocks decoded) of the kernel over `src`'s terms. */
    def run(src: graft.search.IntervalsSource, lead: Set[String]): (Vector[Long], Int) = {
      var decodes = 0
      val byTerm = blocks.filter { case (t, _) => src.terms(t) }
      val docs = Positional.matchingDocs(byTerm, lead, graft.search.Accept.All, pos => {
        val m = src.terms.flatMap(t => Option(pos(t)).map(t -> _)).toMap
        if (IntervalEval.matches(src, m)) 1.0 else 0.0
      }, () => decodes += 1).map(_._1).toVector
      (docs, decodes)
    }
    val conj = Unordered(Seq(Or(Seq(Term("r1"), Term("r2"))), Or(Seq(Term("h1"), Term("h2")))))
    val disj = Or(Seq(Term("r1"), Ordered(Seq(Term("h1"), Term("r2")))))
    assert(requiredTerms(conj).isEmpty && requiredTerms(disj).isEmpty)
    // the conjunction's cheapest child; the union of the Or's branches
    assert(leadTerms(conj, df) == Set("r1", "r2"))
    assert(leadTerms(disj, df) == Set("r1", "r2"))
    Seq(conj -> 4, disj -> 3).foreach { case (src, bound) =>
      val (all, allDecodes) = run(src, Set.empty)
      val (led, ledDecodes) = run(src, leadTerms(src, df))
      assert(all == Vector(4000L, 4010L, 4090L), s"$src")
      assert(led == all, s"$src")
      // the rare terms' blocks plus one head block per head term, of all
      assert(allDecodes == src.terms.toSeq.map(blocks(_).size).sum)
      assert(ledDecodes == bound, s"$src decoded $ledDecodes blocks, expected $bound")
    }
    // an Or branch without a bound leaves the whole Or unbounded
    assert(leadTerms(Or(Seq(Term("r1"), AtLeast(1, Seq(Term("h1"), Term("h2"))))), df).isEmpty)
    // a term absent from the index (df 0) is the cheapest lead
    assert(leadTerms(Ordered(Seq(Term("h1"), Term("gone"))), df.withDefaultValue(0L)) == Set("gone"))
  }

  test("minimality: no returned interval properly contains another") {
    val rnd = new Random(23)
    (0 until 500).foreach { _ =>
      val p = pos(
        "a" -> Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(25)).distinct.sorted,
        "b" -> Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(25)).distinct.sorted,
        "c" -> Seq.fill(1 + rnd.nextInt(5))(rnd.nextInt(25)).distinct.sorted)
      Seq[graft.search.IntervalsSource](
        Ordered(Seq(Term("a"), Term("b"), Term("c"))),
        Unordered(Seq(Term("a"), Term("b"), Term("c"))),
        Or(Seq(Term("a"), Phrase(Seq("b", "c"))))
      ).foreach { src =>
        val ivs = IntervalEval.eval(src, p)
        for (x <- ivs; y <- ivs if x != y)
          assert(!(x._1 <= y._1 && y._2 <= x._2), s"$src: $x contains $y in ${ivs}")
      }
    }
  }
}
