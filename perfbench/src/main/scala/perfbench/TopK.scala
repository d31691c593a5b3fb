package perfbench

/** Checks a top-k result against an exhaustive reference. */
object TopK {

  /** Relative tolerance under which two scores count as equal: the pruned and
    * exhaustive paths sum the same per-term scores in different orders. */
  val Eps = 1e-9

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Eps * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** `actual` is the engine's top-k as (docId, score) in rank order.
    * `reference` is the exhaustive ranking in (score desc, docId asc) order,
    * cut at `refLimit` >= k rows, so that it also holds the docs tied with
    * the k-th one.
    *
    * Accepted differences: docs whose scores are equal within [[Eps]] may
    * swap ranks, and a doc tied with the k-th score may be cut either way.
    * With `exactIds` (constant-score shapes, whose top-k is the k smallest
    * doc ids) the doc ids must match the reference exactly.
    *
    * Returns None when the result is acceptable, else what is wrong. */
  def compare(actual: Seq[(Long, Double)], reference: Seq[(Long, Double)],
              k: Int, refLimit: Int, exactIds: Boolean = false): Option[String] = {
    require(refLimit >= k, "the reference must hold at least k rows")
    val want = math.min(k, reference.length)
    if (actual.length != want)
      return Some(s"${actual.length} hits, expected $want")
    if (actual.map(_._1).distinct.length != actual.length)
      return Some("duplicate doc ids")
    val mismatch = actual.indices.find(i => !close(actual(i)._2, reference(i)._2))
    if (mismatch.isDefined) {
      val i = mismatch.get
      return Some(s"rank ${i + 1}: score ${actual(i)._2}, expected ${reference(i)._2}")
    }
    if (exactIds) {
      val ids = actual.map(_._1)
      val refIds = reference.take(want).map(_._1)
      return if (ids == refIds) None else Some(s"doc ids $ids, expected $refIds")
    }
    val byDoc = reference.toMap
    // the reference was cut inside a tie group: docs past the cut may still
    // carry the cut score legitimately
    val truncated = reference.length >= refLimit
    actual.collectFirst {
      case (d, s) if byDoc.get(d).exists(rs => !close(rs, s)) =>
        s"doc $d scored $s, expected ${byDoc(d)}"
      case (d, s) if !byDoc.contains(d) && !(truncated && close(s, reference.last._2)) =>
        s"doc $d (score $s) is not in the reference top-$refLimit"
    }
  }
}
