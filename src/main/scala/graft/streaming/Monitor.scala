package graft.streaming

import graft.core.{Analyzer, Token}
import graft.search._
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.streaming.StreamingQuery

/** Percolator — the reference's `monitor` module
  * (`lucene/monitor/src/java/org/apache/lucene/monitor/Monitor.java:42`):
  * the flow is inverted — queries are registered up front, documents stream
  * through, and each document reports which queries match it. The per-document
  * evaluation over an analyzed token multiset is the `MemoryIndex` analog
  * (`lucene/memory/src/java/org/apache/lucene/index/memory/MemoryIndex.java:198`).
  *
  * Spark-first shape: the registered queries are a broadcast-sized set (they
  * are human-authored rules); matching is a pure per-row flatMap — no shuffle,
  * no state, embarrassingly parallel, so it rides inside any streaming or
  * batch transform at full input bandwidth. Lucene's presearcher (indexing the
  * queries to prune candidates) is an optimization of the same contract; with
  * a broadcast rule set the brute per-doc loop is the honest baseline and is
  * CPU-bound on the analyzer, not on rule count, until rules reach ~10^4.
  */
object Monitor {

  /** Match-time view of one doc: term -> positions. */
  final class DocView(toks: IndexedSeq[Token]) {
    val positions: Map[String, Array[Int]] =
      toks.groupBy(_.term).map { case (t, g) => t -> g.map(_.position).toArray }
    def has(t: String): Boolean = positions.contains(t)
    def freq(t: String): Int = positions.get(t).map(_.length).getOrElse(0)
    val terms: Set[String] = positions.keySet
  }

  /** Pure per-doc query evaluation (match/no-match; no scoring — the
    * monitor's contract is which queries matched). Supports the full AST
    * except operators needing global statistics (none of the boolean,
    * positional, or term-expansion predicates do). */
  def matches(q: Query, doc: DocView): Boolean = q match {
    case MatchAllDocsQuery => true
    case MatchNoDocsQuery => false
    case TermQuery(t) => doc.has(t)
    case SynonymQuery(ts) => ts.exists(doc.has)
    case TermInSetQuery(ts) => ts.exists(doc.has)
    case PrefixQuery(p) => doc.terms.exists(_.startsWith(p))
    case _: WildcardQuery => matches(QueryRewriter.rewrite(q), doc) // lowers to prefix/regexp
    case RegexpQuery(pat) =>
      val re = java.util.regex.Pattern.compile("^(?:" + pat + ")$")
      doc.terms.exists(t => re.matcher(t).find())
    case FuzzyQuery(t, maxE) =>
      doc.terms.exists(c => levenshtein(c, t) <= maxE)
    case TermRangeQuery(lo, hi, il, ih) =>
      doc.terms.exists { t =>
        lo.forall(l => if (il) t >= l else t > l) && hi.forall(h => if (ih) t <= h else t < h)
      }
    case PhraseQuery(ts, 0) =>
      ts.forall(doc.has) && {
        val arrays = ts.map(doc.positions).toArray
        arrays(0).exists(p0 => arrays.indices.tail.forall(i =>
          java.util.Arrays.binarySearch(arrays(i), p0 + i) >= 0))
      }
    case PhraseQuery(ts, slop) =>
      // sloppy phrase: matched iff the engine's greedy minimal-interval
      // enumeration yields at least one in-slop match (same matcher as the
      // scored path, so percolate ≡ search on match/no-match). The matcher's
      // preconditions mirror sloppyPhraseFrame's: ≥ 2 pairwise-distinct
      // terms — reject unsupported rules instead of mis-matching them
      if (ts.size < 2 || ts.distinct.size != ts.size)
        throw new UnsupportedOperationException(
          "sloppy phrases need >= 2 pairwise-distinct terms (use slop=0 for repeats)")
      ts.forall(doc.has) &&
        SloppyMatcher.sloppyFreq(ts.map(doc.positions).toArray, slop) > 0.0
    case MultiPhraseQuery(ps) =>
      ps.forall(_.exists(doc.has)) && {
        val byIdx = ps.map(alts =>
          alts.filter(doc.has).flatMap(t => doc.positions(t).toSeq).distinct.sorted.toArray)
        byIdx(0).exists(p0 => byIdx.indices.tail.forall(i =>
          java.util.Arrays.binarySearch(byIdx(i), p0 + i) >= 0))
      }
    case SpanNearQuery(ts, slop, inOrder) =>
      ts.forall(doc.has) &&
        SpanMatcher.matches(ts.map(doc.positions).toArray, ts.size + slop, inOrder)
    case BoostQuery(inner, _) => matches(inner, doc)
    case ConstantScoreQuery(inner) => matches(inner, doc)
    case DisjunctionMaxQuery(ds, _) => ds.exists(matches(_, doc))
    case BooleanQuery(clauses, msm) =>
      val must = clauses.collect { case (Occur.MUST, c) => c }
      val filter = clauses.collect { case (Occur.FILTER, c) => c }
      val should = clauses.collect { case (Occur.SHOULD, c) => c }
      val nots = clauses.collect { case (Occur.MUST_NOT, c) => c }
      // SHOULD clauses: at least one required when they are the only
      // positive clauses, else at least minimumShouldMatch
      val neededShould =
        if (should.isEmpty) 0
        else if (must.isEmpty && filter.isEmpty) math.max(msm, 1)
        else msm
      must.forall(matches(_, doc)) &&
        filter.forall(matches(_, doc)) &&
        !nots.exists(matches(_, doc)) &&
        should.count(matches(_, doc)) >= neededShould &&
        (must.nonEmpty || filter.nonEmpty || should.nonEmpty)
    case IntervalQuery(src) =>
      IntervalEval.matches(src, doc.positions)
    case SpanQuery(s) =>
      IntervalEval.matches(Spans.toIntervals(s), doc.positions)
    case _: DocIdRangeQuery =>
      // a DocView has no doc id — fail the registration, not the micro-batch
      throw new UnsupportedOperationException(
        "DocIdRangeQuery cannot be percolated: per-document matching has no doc id")
    case other =>
      throw new UnsupportedOperationException(
        s"monitor does not support query type ${other.getClass.getSimpleName}")
  }

  /** Driver-side registration validation: reject rule shapes [[matches]]
    * cannot evaluate BEFORE any document streams through, so one bad rule
    * fails its own registration call — never a whole micro-batch on the
    * executors. Every percolation entry point validates its rule set; the
    * throws inside [[matches]] stay as a backstop for unvalidated callers. */
  def validate(q: Query): Unit = q match {
    case PhraseQuery(ts, slop) if slop > 0 && (ts.size < 2 || ts.distinct.size != ts.size) =>
      throw new IllegalArgumentException(
        s"unsupported monitor rule: sloppy phrases need >= 2 pairwise-distinct terms (got $ts)")
    case _: DocIdRangeQuery =>
      throw new IllegalArgumentException(
        "unsupported monitor rule: DocIdRangeQuery cannot be percolated (per-document matching has no doc id)")
    case _: ScoredFuzzyQuery =>
      throw new IllegalArgumentException(
        "unsupported monitor rule: ScoredFuzzyQuery needs index-wide term stats; register FuzzyQuery instead")
    case BoostQuery(inner, _) => validate(inner)
    case ConstantScoreQuery(inner) => validate(inner)
    case DisjunctionMaxQuery(ds, _) => ds.foreach(validate)
    case BooleanQuery(clauses, _) => clauses.foreach { case (_, c) => validate(c) }
    case MatchAllDocsQuery | MatchNoDocsQuery => ()
    case _: TermQuery | _: SynonymQuery | _: TermInSetQuery | _: PrefixQuery |
         _: WildcardQuery | _: RegexpQuery | _: FuzzyQuery | _: TermRangeQuery |
         _: PhraseQuery | _: MultiPhraseQuery | _: SpanNearQuery | _: IntervalQuery |
         _: SpanQuery => ()
    case other => // Scored* rewrites need index-wide stats; see matches()
      throw new IllegalArgumentException(
        s"unsupported monitor rule: ${other.getClass.getSimpleName} cannot be percolated")
  }

  /** Registration-time lowering: span rules become interval rules ONCE, so
    * percolation never recomputes `Spans.toIntervals` per (rule, document)
    * in the hot flatMap — the one rule shape whose evaluation structure was
    * built per call instead of stored beside the rule. */
  private def lowerSpans(q: Query): Query = q match {
    case SpanQuery(s) => IntervalQuery(Spans.toIntervals(s))
    case BooleanQuery(clauses, msm) =>
      BooleanQuery(clauses.map { case (o, c) => (o, lowerSpans(c)) }, msm)
    case BoostQuery(inner, b) => BoostQuery(lowerSpans(inner), b)
    case ConstantScoreQuery(inner) => ConstantScoreQuery(lowerSpans(inner))
    case DisjunctionMaxQuery(ds, tb) => DisjunctionMaxQuery(ds.map(lowerSpans), tb)
    case other => other
  }

  private[graft] def lowerAll(queries: Seq[(String, Query)]): Seq[(String, Query)] =
    queries.map { case (qid, q) => (qid, lowerSpans(q)) }

  private def validateAll(queries: Seq[(String, Query)]): Unit =
    queries.foreach { case (qid, q) =>
      try validate(q)
      catch {
        case e: IllegalArgumentException =>
          throw new IllegalArgumentException(s"rule '$qid': ${e.getMessage}", e)
      }
    }

  /** Guard terms of a query: a set such that EVERY matching document must
    * contain at least one of them, or None when no such set exists (pure
    * negations, match-all, term-expansion predicates). The presearcher
    * contract of the reference's `TermFilteredPresearcher`
    * (`lucene/monitor/src/java/org/apache/lucene/monitor/TermFilteredPresearcher.java:62`):
    * rules are bucketed by guard term once, and a document only evaluates
    * rules whose guard intersects its token set — matching cost scales with
    * the document's CANDIDATE rules, not the registered-rule count.
    *
    * Soundness by case: a conjunction may pick any single required clause's
    * guard (we take the first guardable one); a disjunction needs the union
    * of ALL branches' guards and is unguardable if any branch is. */
  def guardTerms(q: Query): Option[Set[String]] = q match {
    case TermQuery(t) => Some(Set(t))
    case SynonymQuery(ts) => Some(ts.toSet)
    case TermInSetQuery(ts) => Some(ts)
    case PhraseQuery(ts, _) => ts.headOption.map(Set(_)) // all required: any one guards
    case MultiPhraseQuery(ps) => ps.headOption.map(_.toSet)
    case SpanNearQuery(ts, _, _) => ts.headOption.map(Set(_))
    case IntervalQuery(src) => Some(src.terms) // every leaf mode needs ≥1 of them
    case SpanQuery(s) => Some(Spans.toIntervals(s).terms)
    case BoostQuery(inner, _) => guardTerms(inner)
    case ConstantScoreQuery(inner) => guardTerms(inner)
    case DisjunctionMaxQuery(ds, _) =>
      val gs = ds.map(guardTerms)
      if (gs.forall(_.isDefined)) Some(gs.flatMap(_.get).toSet) else None
    case BooleanQuery(clauses, msm) =>
      val positives = clauses.collect { case (Occur.MUST, c) => c } ++
        clauses.collect { case (Occur.FILTER, c) => c }
      val firstGuarded = positives.iterator.map(guardTerms).collectFirst { case Some(g) => g }
      firstGuarded.orElse {
        val should = clauses.collect { case (Occur.SHOULD, c) => c }
        // only sound when ≥1 SHOULD clause must match
        if (should.nonEmpty && (positives.isEmpty || msm >= 1)) {
          val gs = should.map(guardTerms)
          if (gs.forall(_.isDefined)) Some(gs.flatMap(_.get).toSet) else None
        } else None
      }
    case _ => None // MatchAll, fuzzy/prefix/wildcard/regexp/range expansions, negations
  }

  /** [[percolate]] with the guard-term presearcher: rules bucketed by guard
    * term (broadcast), each doc evaluates only `unguarded ∪ rules-whose-guard-
    * intersects-its-terms`. Identical output to the brute loop (spec-checked);
    * the win is per-doc candidate count at rule sets ≥ ~10^4. */
  def percolatePresearched(docs: Dataset[(Long, String)], queries: Seq[(String, Query)],
                           analyzer: Analyzer): DataFrame = {
    validateAll(queries)
    val lowered = lowerAll(queries)
    val spark = docs.sparkSession
    import spark.implicits._
    val guarded = scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.ArrayBuffer[Int]]
    val unguarded = scala.collection.mutable.ArrayBuffer.empty[Int]
    lowered.zipWithIndex.foreach { case ((_, q), i) =>
      guardTerms(q) match {
        case Some(g) if g.nonEmpty => g.foreach(t => guarded.getOrElseUpdate(t, scala.collection.mutable.ArrayBuffer.empty) += i)
        case _ => unguarded += i
      }
    }
    val bc = spark.sparkContext.broadcast(
      (lowered.toIndexedSeq, guarded.view.mapValues(_.toArray).toMap, unguarded.toArray, analyzer))
    docs.flatMap { case (id, text) =>
      val (qs, byTerm, always, an) = bc.value
      val view = new DocView(an.tokenize(text))
      val cand = new java.util.TreeSet[Integer]()
      always.foreach(i => cand.add(i))
      view.terms.foreach(t => byTerm.get(t).foreach(_.foreach(i => cand.add(i))))
      val out = Vector.newBuilder[(Long, String)]
      cand.forEach { i =>
        val (qid, q) = qs(i)
        if (matches(q, view)) out += ((id, qid))
      }
      out.result()
    }.toDF("docId", "queryId")
  }

  private def levenshtein(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) => if (i == 0) j else if (j == 0) i else 0)
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a.charAt(i - 1) == b.charAt(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Batch percolation: each `(docId, text)` row → one row per matching
    * registered query: `(docId, queryId)`. */
  def percolate(docs: Dataset[(Long, String)], queries: Seq[(String, Query)],
                analyzer: Analyzer): DataFrame = {
    validateAll(queries)
    val lowered = lowerAll(queries)
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((lowered, analyzer))
    docs.flatMap { case (id, text) =>
      val (qs, an) = bc.value
      val view = new DocView(an.tokenize(text))
      qs.collect { case (qid, q) if matches(q, view) => (id, qid) }
    }.toDF("docId", "queryId")
  }

  /** Streaming percolation: emits `(docId, queryId)` matches per micro-batch
    * through `sink` (the `Monitor.match(Document...)` continuous flow). */
  def start(docs: Dataset[(Long, String)], queries: Seq[(String, Query)],
            analyzer: Analyzer)(sink: (DataFrame, Long) => Unit): StreamingQuery = {
    validateAll(queries)
    docs.writeStream
      .foreachBatch { (batch: Dataset[(Long, String)], batchId: Long) =>
        sink(percolate(batch, queries, analyzer), batchId)
      }
      .start()
  }
}
