package graft

import org.scalatest.Assertions._

/** Top-k equality for specs that compare two plans of one query. */
object TopKAssertions {

  private def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b))

  /** Equal top-k up to float noise: scores agree rank by rank within 1e-9
    * relative, and docs differ only among those tied with the last score. */
  def assertSameTopK(label: String, got: Seq[(Long, Double)], want: Seq[(Long, Double)]): Unit = {
    assert(got.size == want.size, s"$label: ${got.size} hits, expected ${want.size}")
    got.zip(want).foreach { case (g, w) => assert(close(g._2, w._2), s"$label: $got vs $want") }
    if (want.nonEmpty) {
      def above(xs: Seq[(Long, Double)]) = xs.filterNot(h => close(h._2, want.last._2)).map(_._1).toSet
      assert(above(got) == above(want), s"$label: $got vs $want")
    }
  }
}
