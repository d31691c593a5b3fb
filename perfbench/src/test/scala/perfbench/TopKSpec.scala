package perfbench

import org.scalatest.funsuite.AnyFunSuite

class TopKSpec extends AnyFunSuite {
  private def ranked(xs: (Long, Double)*): Seq[(Long, Double)] = xs

  test("an identical top-k is accepted") {
    val ref = ranked(1L -> 3.0, 2L -> 2.0, 3L -> 1.0)
    assert(TopK.compare(ref, ref, k = 3, refLimit = 5).isEmpty)
  }

  test("float-equal scores may swap ranks") {
    val ref = ranked(1L -> 3.0, 2L -> 2.0, 3L -> (2.0 - 1e-14), 4L -> 1.0)
    val got = ranked(1L -> 3.0, 3L -> (2.0 - 1e-14), 2L -> 2.0, 4L -> 1.0)
    assert(TopK.compare(got, ref, k = 4, refLimit = 6).isEmpty)
  }

  test("a near-tie at rank k may be cut either way") {
    // the reference was cut at refLimit inside a tie group at the k-th score
    val ref = ranked(1L -> 3.0, 2L -> 1.0, 3L -> 1.0, 4L -> 1.0)
    val got = ranked(1L -> 3.0, 9L -> (1.0 + 1e-13))
    assert(TopK.compare(got, ref, k = 2, refLimit = 4).isEmpty)
    assert(TopK.compare(ranked(1L -> 3.0, 4L -> 1.0), ref, k = 2, refLimit = 4).isEmpty)
  }

  test("a doc outside an untruncated reference is refused") {
    val ref = ranked(1L -> 3.0, 2L -> 1.0, 3L -> 1.0)
    val got = ranked(1L -> 3.0, 9L -> 1.0)
    assert(TopK.compare(got, ref, k = 2, refLimit = 5).exists(_.contains("doc 9")))
  }

  test("wrong scores, missing hits and duplicates are refused") {
    val ref = ranked(1L -> 3.0, 2L -> 2.0, 3L -> 1.0)
    assert(TopK.compare(ranked(1L -> 3.0, 2L -> 2.5, 3L -> 1.0), ref, 3, 5).exists(_.contains("rank 2")))
    assert(TopK.compare(ranked(1L -> 3.0, 2L -> 2.0), ref, 3, 5).exists(_.contains("2 hits")))
    assert(TopK.compare(ranked(1L -> 3.0, 1L -> 3.0), ranked(1L -> 3.0, 2L -> 3.0), 2, 5)
      .exists(_.contains("duplicate")))
    // a doc the reference scores differently
    val swapped = ranked(1L -> 3.0, 3L -> 2.0, 2L -> 1.0)
    assert(TopK.compare(swapped, ref, 3, 5).isDefined)
  }

  test("constant-score shapes must return the smallest doc ids") {
    val ref = ranked(1L -> 1.0, 2L -> 1.0, 5L -> 1.0)
    assert(TopK.compare(ref.take(2), ref, k = 2, refLimit = 3, exactIds = true).isEmpty)
    assert(TopK.compare(ranked(1L -> 1.0, 5L -> 1.0), ref, k = 2, refLimit = 3, exactIds = true).isDefined)
  }
}
