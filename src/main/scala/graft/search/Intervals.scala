package graft.search

import scala.collection.mutable

/** Interval query algebra — the reference's `Intervals` sources
  * (`lucene/queries/src/java/org/apache/lucene/queries/intervals/Intervals.java:56`)
  * under minimal-interval semantics (Clarke, Cormack & Burkowski's GC-list
  * algebra, which is also the reference's model): every source yields, per
  * document, the set of intervals that match it and contain no shorter
  * matching interval.
  *
  * Evaluation here is per-document over decoded position lists (an
  * executor-side pure function, like [[SpanMatcher]]), called by the
  * searcher's positional kernel ([[Positional.matchingDocs]]) on the
  * candidate docs of the rarest required term.
  */
sealed trait IntervalsSource extends Serializable {
  /** terms the source needs positions for */
  def terms: Set[String]
}

object Intervals {
  final case class Term(t: String) extends IntervalsSource { def terms = Set(t) }
  /** sub-sources in order, non-overlapping (`Intervals.ordered`) */
  final case class Ordered(ss: Seq[IntervalsSource]) extends IntervalsSource {
    def terms = ss.flatMap(_.terms).toSet
  }
  /** all sub-sources within a window, any order (`Intervals.unordered`) */
  final case class Unordered(ss: Seq[IntervalsSource]) extends IntervalsSource {
    def terms = ss.flatMap(_.terms).toSet
  }
  /** union (`Intervals.or`) */
  final case class Or(ss: Seq[IntervalsSource]) extends IntervalsSource {
    def terms = ss.flatMap(_.terms).toSet
  }
  /** consecutive terms (`Intervals.phrase`) */
  final case class Phrase(ts: Seq[String]) extends IntervalsSource {
    def terms = ts.toSet
  }
  /** keep intervals with `end − start + 1 ≤ width` (`Intervals.maxwidth`) */
  final case class MaxWidth(width: Int, s: IntervalsSource) extends IntervalsSource {
    def terms = s.terms
  }
  /** keep intervals whose internal gap count ≤ `gaps`; defined over sources
    * whose leaves are single positions, as `width − leafCount`
    * (`Intervals.maxgaps`) */
  final case class MaxGaps(gaps: Int, s: IntervalsSource) extends IntervalsSource {
    def terms = s.terms
  }
  /** intervals of `big` containing ≥ 1 interval of `small` (`Intervals.containing`) */
  final case class Containing(big: IntervalsSource, small: IntervalsSource) extends IntervalsSource {
    def terms = big.terms ++ small.terms
  }
  /** intervals of `small` contained in ≥ 1 interval of `big` (`Intervals.containedBy`) */
  final case class ContainedBy(small: IntervalsSource, big: IntervalsSource) extends IntervalsSource {
    def terms = small.terms ++ big.terms
  }
  /** each interval widened `before`/`after` positions, start clamped at 0
    * (`Intervals.extend`, `ExtendedIntervalsSource`) */
  final case class Extend(s: IntervalsSource, before: Int, after: Int) extends IntervalsSource {
    def terms = s.terms
  }
  /** minuend intervals that contain NO subtrahend interval
    * (`Intervals.notContaining`) */
  final case class NotContaining(minuend: IntervalsSource, subtrahend: IntervalsSource) extends IntervalsSource {
    def terms = minuend.terms ++ subtrahend.terms
  }
  /** small intervals contained in NO big interval (`Intervals.notContainedBy`) */
  final case class NotContainedBy(small: IntervalsSource, big: IntervalsSource) extends IntervalsSource {
    def terms = small.terms ++ big.terms
  }
  /** source intervals overlapping ≥ 1 reference interval (`Intervals.overlapping`) */
  final case class Overlapping(source: IntervalsSource, reference: IntervalsSource) extends IntervalsSource {
    def terms = source.terms ++ reference.terms
  }
  /** minuend intervals overlapping NO subtrahend interval
    * (`Intervals.nonOverlapping`) */
  final case class NonOverlapping(minuend: IntervalsSource, subtrahend: IntervalsSource) extends IntervalsSource {
    def terms = minuend.terms ++ subtrahend.terms
  }
  /** minuend intervals with no subtrahend interval within `pre` positions
    * before or `post` positions after — the [[Spans.SpanNot]] adapter
    * (`lucene/queries/src/java/org/apache/lucene/queries/spans/
    * SpanNotQuery.java:202-210`: an exclude span [xs,xe) rejects a candidate
    * [s,e) unless xe ≤ s − pre or xs − post ≥ e; on inclusive intervals the
    * rejection is exactly `sa ≤ b + post ∧ sb ≥ a − pre`). Not a reference
    * Intervals factory method. Deliberately NOT lowered onto
    * `NonOverlapping(m, Extend(sub, …))`: Extend re-minimalizes, and its
    * clamp-at-0 can create containment that drops a widened exclude whose
    * extremities the kept one misses — the widening must apply at the
    * overlap test, not to the enumerated set. `pre = post = 0` degenerates
    * to [[NonOverlapping]]. */
  final case class NotNear(pre: Int, post: Int, minuend: IntervalsSource,
                           subtrahend: IntervalsSource) extends IntervalsSource {
    def terms = minuend.terms ++ subtrahend.terms
  }
  /** source intervals that end before some reference interval starts —
    * the reference's `before` = containedBy(source, extend(offset(ref,
    * start), MAX, 0)); evaluated directly to avoid the offset machinery */
  final case class Before(source: IntervalsSource, reference: IntervalsSource) extends IntervalsSource {
    def terms = source.terms ++ reference.terms
  }
  /** source intervals that start after some reference interval ends
    * (`Intervals.after`) */
  final case class After(source: IntervalsSource, reference: IntervalsSource) extends IntervalsSource {
    def terms = source.terms ++ reference.terms
  }

  /** intervals whose end position is < `endLimit` — the [[Spans.SpanFirst]]
    * adapter (`lucene/queries/src/java/org/apache/lucene/queries/spans/
    * SpanFirstQuery.java:35`: spans with exclusive endPosition() ≤ end,
    * hence inclusive interval end < endLimit). Not a reference Intervals
    * factory method; introduced so SpanFirst lowers onto this machinery.
    * Doc-level exact under minimal-interval filtering: any qualifying span
    * contains a minimal interval ending no later. */
  final case class FirstEnding(endLimit: Int, s: IntervalsSource) extends IntervalsSource {
    def terms = s.terms
  }

  /** intervals spanning ≥ `minShouldMatch` of the sub-sources
    * (`Intervals.atLeast`, `MinimumShouldMatchIntervalsSource`); evaluated
    * as the minimalized union over exactly-n subsets (any span of > n
    * sources contains a span of n, so minimality is unchanged). The subset
    * enumeration is C(m, n) — like the reference's queue sweep, intended for
    * small clause counts. */
  final case class AtLeast(minShouldMatch: Int, ss: Seq[IntervalsSource]) extends IntervalsSource {
    def terms = ss.flatMap(_.terms).toSet
  }

  /** disjunction over all dictionary terms starting with `prefix`
    * (`Intervals.prefix`, `MultiTermIntervalsSource`); MUST be expanded
    * against the term dictionary before evaluation — the searcher rewrites
    * it to [[Or]] of [[Term]]s and throws IllegalStateException past
    * `maxExpansions`, like the reference. */
  final case class Prefix(prefix: String, maxExpansions: Int = DefaultMaxExpansions)
      extends IntervalsSource {
    def terms = Set.empty // resolved at expansion time, not statically known
  }
  /** disjunction over all terms matching a `*`/`?` glob
    * (`Intervals.wildcard`); expansion contract like [[Prefix]]. */
  final case class Wildcard(pattern: String, maxExpansions: Int = DefaultMaxExpansions)
      extends IntervalsSource {
    def terms = Set.empty // resolved at expansion time, not statically known
  }

  /** `Intervals.DEFAULT_MAX_EXPANSIONS` (`Intervals.java:64`). */
  val DefaultMaxExpansions = 128

  /** `Intervals.atLeast` factory with the reference's degenerate cases:
    * n == m lowers to unordered, n > m matches nothing. */
  def atLeast(minShouldMatch: Int, ss: IntervalsSource*): IntervalsSource =
    if (minShouldMatch == ss.size) Unordered(ss)
    else if (minShouldMatch > ss.size) Or(Nil) // no-match source
    else AtLeast(minShouldMatch, ss)

  /** `Intervals.within`: source intervals within `positions` of a reference
    * interval — the reference's exact lowering to containedBy + extend. */
  def within(source: IntervalsSource, positions: Int, reference: IntervalsSource): IntervalsSource =
    ContainedBy(source, Extend(reference, positions, positions))

  /** `Intervals.notWithin`: minuend intervals at least `positions` away from
    * every subtrahend interval — the reference's lowering to nonOverlapping
    * + extend. */
  def notWithin(minuend: IntervalsSource, positions: Int, subtrahend: IntervalsSource): IntervalsSource =
    NonOverlapping(minuend, Extend(subtrahend, positions, positions))

  /** Terms that MUST occur in a document for `src` to match — the doc-level
    * conjunction hidden inside the algebra. The searcher answers an empty
    * result when one is absent from the index, and otherwise leads its
    * positional kernel with the rarest of them: only that term's docs are
    * candidates, and the other terms' blocks decode only where a candidate
    * lives (mirroring how the reference drives interval queries through a
    * conjunction `DISI` over the required sub-iterators,
    * `lucene/queries/src/java/org/apache/lucene/queries/intervals/ConjunctionIntervalsSource.java`).
    * Conservative: a returned term is provably required; an empty set means
    * no single term gates the match (e.g. an `Or`, at the root or nested),
    * and then [[leadTerms]] looks inside the source for a lead set. */
  def requiredTerms(src: IntervalsSource): Set[String] = src match {
    case Term(t) => Set(t)
    case Phrase(ts) => ts.toSet
    case Or(ss) =>
      if (ss.isEmpty) Set.empty
      else ss.map(requiredTerms).reduce(_ intersect _)
    case AtLeast(n, ss) if n < ss.size =>
      if (n <= 0) Set.empty
      else {
        // required iff EVERY n-subset needs it ⇔ required by > (m − n) children
        ss.flatMap(s => requiredTerms(s).toSeq)
          .groupBy(identity).collect { case (t, g) if g.size > ss.size - n => t }
          .toSet
      }
    case _: Prefix | _: Wildcard => Set.empty // unknown until expansion
    case other => conjuncts(other).flatMap(requiredTerms).toSet
  }

  /** A term set whose docs' union holds every doc `src` matches — the
    * searcher's positional kernel decodes these terms first and takes their
    * docs as its candidates (empty: no bound found, every term leads).
    * `df` is a term's document frequency (0 when absent from the index):
    *  - a source with required terms leads with its rarest required term;
    *  - an `Or` with the union of its branches' lead sets (every match
    *    matches some branch);
    *  - a conjunctive source with no required term with the cheapest
    *    (smallest Σdf) lead set among the children it needs to match;
    *  - anything else has none. */
  def leadTerms(src: IntervalsSource, df: String => Long): Set[String] = {
    val required = requiredTerms(src)
    if (required.nonEmpty) Set(required.minBy(t => (df(t), t)))
    else src match {
      case Or(ss) =>
        val leads = ss.map(leadTerms(_, df))
        if (leads.isEmpty || leads.exists(_.isEmpty)) Set.empty else leads.reduce(_ ++ _)
      case other =>
        conjuncts(other).map(leadTerms(_, df)).filter(_.nonEmpty)
          .minByOption(_.iterator.map(df).sum).getOrElse(Set.empty)
    }
  }

  /** True when `src` holds a [[Prefix]] or [[Wildcard]] source: its terms
    * are known only after expansion against the term dictionary. */
  def hasMultiTerm(src: IntervalsSource): Boolean = src match {
    case _: Prefix | _: Wildcard => true
    case p: Product => p.productIterator.exists {
      case s: IntervalsSource => hasMultiTerm(s)
      case ss: Seq[_] => ss.exists { case s: IntervalsSource => hasMultiTerm(s); case _ => false }
      case _ => false
    }
  }

  /** The children a source needs to match for it to match. */
  private def conjuncts(src: IntervalsSource): Seq[IntervalsSource] = src match {
    case Ordered(ss) => ss
    case Unordered(ss) => ss
    case AtLeast(n, ss) if n >= ss.size => ss
    case MaxWidth(_, s) => Seq(s)
    case MaxGaps(_, s) => Seq(s)
    case FirstEnding(_, s) => Seq(s)
    case Extend(s, _, _) => Seq(s)
    case Containing(big, small) => Seq(big, small)
    case ContainedBy(small, big) => Seq(small, big)
    // subtractive sources need only their positive side (the negative side
    // ABSENT still matches)
    case NotContaining(m, _) => Seq(m)
    case NotContainedBy(s, _) => Seq(s)
    case Overlapping(s, r) => Seq(s, r)
    case NonOverlapping(m, _) => Seq(m)
    case NotNear(_, _, m, _) => Seq(m)
    case Before(s, r) => Seq(s, r)
    case After(s, r) => Seq(s, r)
    case _ => Nil
  }
}

object IntervalEval extends Serializable {
  /** (start, end) token positions, inclusive. */
  type Interval = (Int, Int)

  /** Interval plus the leaf-position count of the sub-iterators that
    * ACTUALLY matched it — `Or` alternatives with different arity would
    * otherwise mis-count gaps (a match through a 2-leaf branch has
    * `width − 2` gaps regardless of a 3-leaf sibling; the reference derives
    * gaps from the matched sub-iterators, not a static source bound). */
  private type IntervalL = (Int, Int, Int)

  /** Keep only minimal intervals: drop any interval that properly contains
    * another. Same-span duplicates keep the MAX leaf count (fewest gaps —
    * a span passes maxgaps if SOME realization of it does). Output sorted
    * by (start, end). */
  private def minimalize(xs: Seq[IntervalL]): Vector[IntervalL] = {
    if (xs.isEmpty) return Vector.empty
    val dedup = xs.groupBy(iv => (iv._1, iv._2))
      .map { case ((a, b), g) => (a, b, g.map(_._3).max) }.toSeq
    // sort start asc, end DESC (so a same-start wider interval precedes the
    // tighter one), then sweep right-to-left: an interval survives iff its
    // end is strictly below every survivor that starts at-or-after it
    val sorted = dedup.sortBy { case (a, b, _) => (a, -b) }
    val out = mutable.ArrayBuffer.empty[IntervalL]
    var minEnd = Int.MaxValue
    var i = sorted.length - 1
    while (i >= 0) {
      val iv = sorted(i)
      if (iv._2 < minEnd) { out += iv; minEnd = iv._2 }
      i -= 1
    }
    out.sortBy(iv => (iv._1, iv._2)).toVector
  }

  private def evalL(src: IntervalsSource, positions: Map[String, Array[Int]]): Vector[IntervalL] = src match {
    case Intervals.Term(t) =>
      positions.get(t).map(_.toVector.map(p => (p, p, 1))).getOrElse(Vector.empty)

    case Intervals.Phrase(ts) =>
      val lists = ts.map(t => positions.getOrElse(t, Array.empty[Int]))
      if (lists.exists(_.isEmpty)) Vector.empty
      else lists.head.toVector.collect {
        case p if ts.indices.tail.forall(i => java.util.Arrays.binarySearch(lists(i), p + i) >= 0) =>
          (p, p + ts.size - 1, ts.size)
      }

    case Intervals.Or(ss) =>
      minimalize(ss.flatMap(s => evalL(s, positions)))

    case Intervals.Ordered(ss) =>
      // fold: extend each accumulated interval with the next child's
      // intervals that start strictly after it ends; for each child interval
      // pick the LATEST-ending compatible prefix (tightest start) —
      // minimalize at each step
      ss.map(s => evalL(s, positions)).reduceLeft { (acc, next) =>
        if (acc.isEmpty || next.isEmpty) Vector.empty
        else minimalize(next.flatMap { case (cs, ce, cl) =>
          // latest acc interval fully before cs (max start among end < cs)
          val before = acc.filter(_._2 < cs)
          if (before.isEmpty) None
          else {
            val best = before.maxBy(iv => (iv._1, iv._2))
            Some((best._1, ce, best._3 + cl))
          }
        })
      }

    case Intervals.Unordered(ss) =>
      val lists = ss.map(s => evalL(s, positions))
      if (lists.exists(_.isEmpty)) Vector.empty
      else {
        // smallest-range style sweep: one candidate interval per choice of
        // the minimal-start element; advance the list holding the min start
        val idx = Array.fill(lists.size)(0)
        val out = mutable.ArrayBuffer.empty[IntervalL]
        var done = false
        while (!done) {
          var minStart = Int.MaxValue; var minList = -1
          var maxEnd = Int.MinValue
          var leaves = 0
          var i = 0
          while (i < lists.size) {
            val iv = lists(i)(idx(i))
            if (iv._1 < minStart) { minStart = iv._1; minList = i }
            if (iv._2 > maxEnd) maxEnd = iv._2
            leaves += iv._3
            i += 1
          }
          out += ((minStart, maxEnd, leaves))
          idx(minList) += 1
          if (idx(minList) >= lists(minList).length) done = true
        }
        minimalize(out.toSeq)
      }

    case Intervals.MaxWidth(w, s) =>
      evalL(s, positions).filter { case (a, b, _) => b - a + 1 <= w }

    case Intervals.MaxGaps(g, s) =>
      evalL(s, positions).filter { case (a, b, k) => (b - a + 1) - k <= g }

    case Intervals.FirstEnding(limit, s) =>
      evalL(s, positions).filter { case (_, b, _) => b < limit }

    case Intervals.Containing(big, small) =>
      val smalls = evalL(small, positions)
      evalL(big, positions).filter { case (a, b, _) =>
        smalls.exists { case (sa, sb, _) => a <= sa && sb <= b }
      }

    case Intervals.ContainedBy(small, big) =>
      val bigs = evalL(big, positions)
      evalL(small, positions).filter { case (sa, sb, _) =>
        bigs.exists { case (a, b, _) => a <= sa && sb <= b }
      }

    case Intervals.Extend(s, before, after) =>
      // widening can create containment between formerly-minimal intervals —
      // re-minimalize, like the reference wraps extended sources
      minimalize(evalL(s, positions).map { case (a, b, k) =>
        (math.max(0, a - before),
          math.min(Int.MaxValue.toLong, b.toLong + after).toInt, k)
      })

    case Intervals.NotContaining(minuend, subtrahend) =>
      val subs = evalL(subtrahend, positions)
      evalL(minuend, positions).filter { case (a, b, _) =>
        !subs.exists { case (sa, sb, _) => a <= sa && sb <= b }
      }

    case Intervals.NotContainedBy(small, big) =>
      val bigs = evalL(big, positions)
      evalL(small, positions).filter { case (sa, sb, _) =>
        !bigs.exists { case (a, b, _) => a <= sa && sb <= b }
      }

    case Intervals.Overlapping(source, reference) =>
      val refs = evalL(reference, positions)
      evalL(source, positions).filter { case (a, b, _) =>
        refs.exists { case (ra, rb, _) => a <= rb && ra <= b }
      }

    case Intervals.NonOverlapping(minuend, subtrahend) =>
      val subs = evalL(subtrahend, positions)
      evalL(minuend, positions).filter { case (a, b, _) =>
        !subs.exists { case (sa, sb, _) => a <= sb && sa <= b }
      }

    case Intervals.NotNear(pre, post, minuend, subtrahend) =>
      // SpanNotQuery.java:202-210 inequality on inclusive intervals: the
      // exclude [sa,sb] rejects [a,b] iff sa ≤ b + post ∧ sb ≥ a − pre
      val subs = evalL(subtrahend, positions)
      evalL(minuend, positions).filter { case (a, b, _) =>
        !subs.exists { case (sa, sb, _) =>
          sa.toLong <= b.toLong + post && sb.toLong >= a.toLong - pre }
      }

    case Intervals.Before(source, reference) =>
      val refs = evalL(reference, positions)
      evalL(source, positions).filter { case (_, b, _) =>
        refs.exists { case (ra, _, _) => b < ra }
      }

    case Intervals.After(source, reference) =>
      val refs = evalL(reference, positions)
      evalL(source, positions).filter { case (a, _, _) =>
        refs.exists { case (_, rb, _) => a > rb }
      }

    case Intervals.AtLeast(n, ss) =>
      if (n <= 0) minimalize(ss.flatMap(s => evalL(s, positions)))
      else minimalize(ss.combinations(n).flatMap { subset =>
        // Unordered already yields nothing when any subset member is absent
        evalL(Intervals.Unordered(subset), positions)
      }.toSeq)

    case m @ (_: Intervals.Prefix | _: Intervals.Wildcard) =>
      throw new IllegalStateException(
        s"multiterm interval source $m must be expanded against the term dictionary before evaluation")
  }

  /** Minimal matching intervals of `src` in a doc given its per-term sorted
    * position arrays. */
  def eval(src: IntervalsSource, positions: Map[String, Array[Int]]): Vector[Interval] =
    evalL(src, positions).map(iv => (iv._1, iv._2))

  def matches(src: IntervalsSource, positions: Map[String, Array[Int]]): Boolean =
    evalL(src, positions).nonEmpty
}
