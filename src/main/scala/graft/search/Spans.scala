package graft.search

/** Span-query family — SpanOr / SpanNot / SpanFirst / SpanContaining /
  * SpanWithin (`lucene/queries/src/java/org/apache/lucene/queries/spans/
  * SpanOrQuery.java:33`, `SpanNotQuery.java:38`, `SpanFirstQuery.java:35`,
  * `SpanContainingQuery.java:31`, `SpanWithinQuery.java:31`) — re-expressed
  * as a THIN LOWERING onto the interval algebra ([[Intervals]]), which this
  * engine evaluates through its one positional kernel
  * ([[Positional.matchingDocs]]) over doc-range slices, led by the rarest
  * required term.
  *
  * Span enumeration and minimal-interval enumeration differ per span (spans
  * can be non-minimal), but they agree at the DOC-MATCH level for
  * [[Spans.SpanOr]], [[Spans.SpanNot]] (term-like excludes) and
  * [[Spans.SpanFirst]]: every qualifying span contains a minimal qualifying
  * interval — the first/width constraints are monotone under interval
  * inclusion, and an exclude rejecting a contained interval rejects its
  * container (the [[Intervals.NotNear]] inequality is monotone in both
  * edges). Since a SpanQuery here is a constant-score doc-set predicate
  * (like [[SpanNearQuery]] and [[IntervalQuery]]), doc-level agreement is
  * result agreement.
  *
  * DOCUMENTED DIVERGENCE — [[Spans.SpanContaining]]/[[Spans.SpanWithin]]
  * (and a SpanNot whose EXCLUDE is itself a nested near): the container
  * side is evaluated over MINIMAL intervals, i.e. exactly the reference's
  * `Intervals.containing`/`containedBy` semantics, not the span iterators'
  * greedy enumeration. When one occurrence of the container source nests
  * inside another (x@0 x@4 y@5 y@10: greedy spans emit [4,10], minimal
  * intervals keep only [4,5]), a little span inside only the wide window
  * matches the span query but not the interval form. The reference's own
  * intervals package is its recommended successor to spans and makes the
  * same trade; SpansSpec pins the minimal semantics by brute force.
  * Per-span scoring (sloppy freq) stays with the dedicated
  * [[SpanNearQuery]] operator.
  */
sealed trait SpanSource extends Serializable

object Spans {
  /** single-term span (`SpanTermQuery`) */
  final case class SpanTerm(t: String) extends SpanSource
  /** clauses within `slop` total gap positions, optionally in order
    * (`SpanNearQuery`) — the `Intervals.maxgaps(slop, ordered|unordered)`
    * analog named by the reference's own Intervals scaladoc */
  final case class SpanNear(clauses: Seq[SpanSource], slop: Int,
                            inOrder: Boolean) extends SpanSource
  /** union of clause spans (`SpanOrQuery`) */
  final case class SpanOr(clauses: Seq[SpanSource]) extends SpanSource
  /** include spans with NO exclude span overlapping them, within `pre`
    * positions before or `post` positions after the include
    * (`SpanNotQuery`; its skip/accept inequality is mirrored exactly by
    * [[Intervals.NotNear]] — note pre widens the include's LEFT edge, so it
    * bounds the exclude's END, and post its start) */
  final case class SpanNot(include: SpanSource, exclude: SpanSource,
                           pre: Int = 0, post: Int = 0) extends SpanSource
  /** spans of `m` whose (exclusive) end position is ≤ `end`
    * (`SpanFirstQuery`: matches near the beginning of the field) */
  final case class SpanFirst(m: SpanSource, end: Int) extends SpanSource
  /** big spans containing ≥ 1 little span (`SpanContainingQuery`) */
  final case class SpanContaining(big: SpanSource, little: SpanSource) extends SpanSource
  /** little spans contained in ≥ 1 big span (`SpanWithinQuery`) */
  final case class SpanWithin(little: SpanSource, big: SpanSource) extends SpanSource

  /** Lower a span tree to its interval analog — every span combinator has
    * an exact doc-level counterpart in the algebra (see trait scaladoc). */
  def toIntervals(s: SpanSource): IntervalsSource = s match {
    case SpanTerm(t) => Intervals.Term(t)
    case SpanNear(cs, slop, true) =>
      Intervals.MaxGaps(slop, Intervals.Ordered(cs.map(toIntervals)))
    case SpanNear(cs, slop, false) =>
      Intervals.MaxGaps(slop, Intervals.Unordered(cs.map(toIntervals)))
    case SpanOr(cs) => Intervals.Or(cs.map(toIntervals))
    case SpanNot(i, e, pre, post) =>
      Intervals.NotNear(pre, post, toIntervals(i), toIntervals(e))
    case SpanFirst(m, end) => Intervals.FirstEnding(end, toIntervals(m))
    case SpanContaining(b, l) => Intervals.Containing(toIntervals(b), toIntervals(l))
    case SpanWithin(l, b) => Intervals.ContainedBy(toIntervals(l), toIntervals(b))
  }
}
