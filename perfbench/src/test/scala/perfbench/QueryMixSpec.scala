package perfbench

import graft.search.{PhraseQuery, TermQuery}
import graft.webtext.PageGen
import org.scalatest.funsuite.AnyFunSuite

class QueryMixSpec extends AnyFunSuite {
  private val docs = 400L
  private def mix(seed: Long) = QueryMix.build(seed, PageGen.Params(seed = seed), docs, perShape = 5)

  test("the same seed gives the same mix, another seed another") {
    assert(mix(7) == mix(7))
    assert(mix(7).map(_.query) != mix(8).map(_.query))
  }

  test("every shape has distinct queries") {
    val m = mix(3)
    assert(m.map(_.shape).distinct == QueryMix.Shapes)
    QueryMix.Shapes.foreach { s =>
      val qs = m.filter(_.shape == s).map(_.query)
      assert(qs.size == 5 && qs.distinct.size == 5, s)
    }
    assert(m.map(_.id).distinct.size == m.size)
  }

  test("every phrase and every tail term has a hit on the seeded corpus") {
    Seq(1L, 2L, 3L).foreach { seed =>
      val oracle = new Oracle(PageGen.Params(seed = seed), docs.toInt)
      mix(seed).filter(q => q.shape == "phrase" || q.shape == "term_tail").foreach { q =>
        assert(oracle.scored(q.query).nonEmpty, s"seed $seed: ${q.query} has no hit")
        q.query match {
          case PhraseQuery(ts, 0) => assert(ts.size == 2)
          case TermQuery(_) =>
          case other => fail(s"unexpected $other")
        }
      }
    }
  }
}
