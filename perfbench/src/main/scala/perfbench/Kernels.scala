package perfbench

import graft.core.{PostingBlock, PostingsCodec, SimpleAnalyzer, SmallFloat, TokenSink}
import graft.search.Wand
import graft.webtext.PageGen

/** Single-threaded kernel rates over generated text, without Spark. */
object Kernels {

  /** Call `body` (which returns the units it processed) until `budgetMs`
    * have passed; returns units per second. */
  private def rate(budgetMs: Long)(body: => Long): Double = {
    val t0 = System.nanoTime()
    val end = t0 + budgetMs * 1000000L
    var units = 0L
    while (System.nanoTime() < end) units += body
    units / ((System.nanoTime() - t0) / 1e9)
  }

  /** `core.tokenize.mb_per_s`, `core.encode.postings_per_s`,
    * `core.decode.blocks_per_s`, `search.wand.blocks_per_s`. */
  def measure(p: PageGen.Params, docs: Int = 2000, budgetMs: Long = 400): Map[String, Double] = {
    val cdf = PageGen.zipfCdf(p)
    val texts = (0 until docs).map(i => Corpus.text(i.toLong, p, cdf))
    val textBytes = texts.map(_.getBytes("UTF-8").length.toLong).sum
    var sinkCount = 0L
    val sink: TokenSink = (_, _, _, _) => sinkCount += 1
    val tokenize = rate(budgetMs) { texts.foreach(SimpleAnalyzer.tokenizeRaw(_, sink)); textBytes } / 1e6

    // the oracle's in-memory inversion and BM25 scorer supply the postings
    val oracle = new Oracle(p, docs)
    val doclens = oracle.docLengths
    val lists = oracle.sortedTerms.map { t =>
      val ps = oracle.postingsOf(t)
      (t, ps.map(_._1).toArray, ps.map(_._2.length).toArray, ps.map(_._2).toArray)
    }
    val nPostings = lists.map(_._2.length.toLong).sum
    def encodeAll(): Seq[(String, Vector[PostingBlock])] = lists.map { case (t, ds, fs, ps) =>
      t -> PostingsCodec.encodeBlocks(ds, fs, ds.map(d => doclens(d.toInt)), ps)
    }
    val encode = rate(budgetMs) { encodeAll(); nPostings }

    val blocks = encodeAll()
    val allBlocks = blocks.flatMap(_._2)
    val decode = rate(budgetMs) { allBlocks.foreach(b => PostingsCodec.decodeBlock(b)); allBlocks.length.toLong }

    // a three-term disjunction over the highest-df terms: head terms decide
    // how much block-max skipping the rising threshold buys
    val top = blocks.sortBy(b => -b._2.map(_.count).sum).take(3)
    val scorers = top.map { case (t, _) => t -> oracle.termScorer(oracle.docFreq(t)) }.toMap
    val rows = top.flatMap { case (t, bs) =>
      val s = scorers(t)
      bs.map { b =>
        val ub = b.impFreqs.indices.map(i => s(b.impFreqs(i), SmallFloat.byte4ToInt(b.impDlbs(i)))).max
        (t, ub, b)
      }
    }
    val wand = rate(budgetMs) {
      Wand.segmentTopK(rows.iterator, scorers, scorers.size, requireAll = false, threshold = 0.0, k = 10).size
      rows.length.toLong
    }
    require(sinkCount > 0)
    Map("core.tokenize.mb_per_s" -> tokenize, "core.encode.postings_per_s" -> encode,
      "core.decode.blocks_per_s" -> decode, "search.wand.blocks_per_s" -> wand)
  }
}
