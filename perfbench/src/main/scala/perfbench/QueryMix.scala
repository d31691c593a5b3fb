package perfbench

import graft.core.SimpleAnalyzer
import graft.search._
import graft.webtext.PageGen

/** One benchmark query: a shape label plus the query itself. */
final case class MixQuery(id: String, shape: String, query: Query) {
  /** Constant-score shapes: their top-k is the k smallest matching doc ids. */
  def constantScore: Boolean = shape == "prefix" || shape == "range"
}

/** The seeded query mix: `perShape` distinct queries of each of ten shapes.
  *
  * Term ranks follow the generator's Zipf vocabulary ([[PageGen.word]] of
  * rank r is the r-th most frequent word); the head terms are the top ranks.
  * Tail terms and phrases are read off generated pages of the corpus, so
  * every tail term and every phrase has at least one hit. */
object QueryMix {

  val Shapes: Seq[String] = Seq("term_head", "term_mid", "term_tail", "bool_and", "bool_or",
    "bool_not", "bool_msm", "phrase", "prefix", "range")

  /** Shapes `searchBatch` scores in its shared postings pass. The others
    * (phrase, prefix, range) fall back to one `search` each inside the batch,
    * which the single-query pass already measures. */
  val BatchShapes: Seq[String] = Seq("term_head", "term_mid", "term_tail", "bool_and", "bool_or",
    "bool_not", "bool_msm")

  /** Shapes of the per-step probe queries on a reopened NRT view: fixed-size
    * queries (one term, two terms, a two-word phrase), so the probes cost
    * about the same from seed to seed. */
  val NrtShapes: Seq[String] = Seq("term_mid", "bool_and", "phrase")

  def build(seed: Long, p: PageGen.Params, corpusDocs: Long, perShape: Int = 10): Seq[MixQuery] = {
    val rnd = new java.util.Random(seed * 0x9E3779B97F4A7C15L + 0x51ED)
    val cdf = PageGen.zipfCdf(p)
    val rank: Map[String, Int] = (0 until p.vocabSize).map(j => PageGen.word(j) -> j).toMap
    // the i-th query of a shape draws its words from the i-th of `perShape`
    // equal slices of the shape's rank range, so every seed's mix spans the
    // range alike and differs only within the slices
    var slice = 0
    def ranked(lo: Int, hi: Int): String = {
      val width = math.max(1, (hi - lo) / perShape)
      PageGen.word(lo + slice * width + rnd.nextInt(width))
    }
    def tokensOf(doc: Long): IndexedSeq[String] =
      SimpleAnalyzer.tokenize(Corpus.text(doc, p, cdf)).map(_.term)
    def randomDoc(): Long = (rnd.nextDouble() * corpusDocs).toLong

    def tailTerm(): String = {
      var t: Option[String] = None
      while (t.isEmpty)
        t = tokensOf(randomDoc()).filter(w => rank.get(w).exists(_ >= 3000)).headOption
      t.get
    }
    def phrase(): Query = {
      var q: Option[Query] = None
      while (q.isEmpty) {
        val ws = tokensOf(randomDoc()).filterNot(_.startsWith("hw"))
        if (ws.length >= 2) {
          val i = rnd.nextInt(ws.length - 1)
          if (ws(i) != ws(i + 1)) q = Some(PhraseQuery(Seq(ws(i), ws(i + 1))))
        }
      }
      q.get
    }
    def terms(n: Int, lo: Int, hi: Int): Seq[TermQuery] =
      Iterator.continually(ranked(lo, hi)).distinct.take(n).map(TermQuery).toSeq

    // the most frequent words: the only ones whose document frequency can
    // pass the searcher's pruning threshold on a benchmark-sized corpus
    val heads: Seq[Query] = (0 until perShape).map(j => TermQuery(PageGen.word(j)))
    def draw(shape: String): Query = shape match {
      case "term_mid" => TermQuery(ranked(50, 1000))
      case "term_tail" => TermQuery(tailTerm())
      case "bool_and" => BooleanQuery.must(terms(2, 10, 300): _*)
      case "bool_or" => BooleanQuery.should(terms(2 + slice % 3, 10, 3000): _*)
      case "bool_not" =>
        val Seq(a, b) = terms(2, 10, 300)
        BooleanQuery(Seq(Occur.MUST -> a, Occur.MUST_NOT -> b))
      case "bool_msm" =>
        BooleanQuery(terms(3, 10, 300).map(Occur.SHOULD -> _), minimumShouldMatch = 2)
      case "phrase" => phrase()
      case "prefix" => PrefixQuery(ranked(0, 500).take(2))
      case "range" =>
        val w = ranked(0, 3000)
        TermRangeQuery(Some(w), Some(w.take(2) + "z"), includeLower = true, includeUpper = true)
    }
    Shapes.flatMap { shape =>
      val qs =
        if (shape == "term_head") heads
        else {
          val seen = scala.collection.mutable.Set.empty[Query]
          (0 until perShape).map { i =>
            slice = i
            Iterator.continually(draw(shape)).find(seen.add).get
          }
        }
      qs.zipWithIndex.map { case (q, i) => MixQuery(s"$shape-$i", shape, q) }
    }
  }

  /** Whether the `term_head` queries of `mix` take the path a workload
    * expects: with `pruned`, each word's document frequency must exceed the
    * searcher's `pruneThreshold` (single-term top-k takes the pruned path);
    * without, none may. Returns the offending words. */
  def headPathProblem(mix: Seq[MixQuery], docFreq: String => Int, pruneThreshold: Long,
                      pruned: Boolean): Option[String] = {
    val wrong = mix.filter(_.shape == "term_head").collect {
      case MixQuery(_, _, TermQuery(t)) if (docFreq(t) > pruneThreshold) != pruned => s"$t (df ${docFreq(t)})"
    }
    if (wrong.isEmpty) None
    else Some(s"term_head should ${if (pruned) "pass" else "stay within"} the pruning threshold " +
      s"$pruneThreshold: ${wrong.mkString(", ")}")
  }
}
