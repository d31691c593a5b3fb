package graft

import graft.core.{PostingBlock, PostingsCodec}
import graft.search.{Searcher, TermQuery, ScoringMode}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[Searcher.searchByIndexOrder]] — index-sort early termination
  * (TopFieldCollector canEarlyTerminate): decoding blocks in firstDoc order
  * until no later block can hold one of the k earliest live docs must
  * return exactly the exhaustive sorted result, with and without pending
  * tombstones. */
class SortedEarlySpec extends AnyFunSuite {

  private lazy val spark = SparkTestEnv.spark
  private lazy val searcher = new Searcher(SparkTestEnv.index, ScoringMode.PreciseBM25())

  private def exhaustive(t: String, k: Int): Seq[(Long, Double)] =
    searcher.scored(TermQuery(t)).orderBy(asc("docId")).limit(k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)

  private def early(t: String, k: Int): Seq[(Long, Double)] =
    searcher.searchByIndexOrder(t, k)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)

  test("early-terminated == exhaustive for head, mid and rare terms, several k") {
    for (t <- Seq("spark", "dup", "customer"); k <- Seq(1, 3, 10, 50)) {
      assert(early(t, k) == exhaustive(t, k), s"term=$t k=$k")
    }
    assert(early("nosuchterm", 5).isEmpty)
  }

  test("the candidate prefix is genuinely smaller than the full posting list") {
    // 'spark' df ≈ 900 at sf0.001 → ≥ 8 blocks of 128; k = 3 candidates
    val blocks = SparkTestEnv.index.postings
      .filter(col("term") === "spark")
      .select(explode(col("blocks")).as("b")).count()
    assert(blocks > 3, s"corpus too small to exercise pruning (blocks=$blocks)")
    assert(early("spark", 3) == exhaustive("spark", 3))
  }

  test("pending tombstones: the k earliest live docs equal the exhaustive result") {
    val t = new Searcher(Indexes.tombstonedIndex(spark, SparkTestEnv.sfDir),
      ScoringMode.PreciseBM25())
    val got = t.searchByIndexOrder("spark", 10)
      .collect().map(_.getLong(0)).toSeq
    // every returned doc is live (doc_id % 7 == 3 tombstoned) and in order
    assert(got.forall(_ % 7 != 3) && got == got.sorted && got.size == 10)
    // dead docs are skipped as blocks decode and never count toward k: equal
    // to the exhaustive live result, also with a dead doc in the first block
    val firstBlock = t.index.postings.filter(col("term") === "spark")
      .select(explode(col("blocks")).as("b")).select("b.*").as[PostingBlock](Encoders.product[PostingBlock])
      .orderBy(asc("firstDoc")).head()
    assert(PostingsCodec.decodeDocIds(firstBlock).exists(_ % 7 == 3), "a dead doc in the first block")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sortBy(_._1)
    for (k <- Seq(1, 3, 10, 50, 200)) {
      val want = rows(t.scored(TermQuery("spark")).orderBy(asc("docId")).limit(k))
      assert(rows(t.searchByIndexOrder("spark", k)) == want, s"k=$k")
    }
  }
}
