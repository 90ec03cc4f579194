package perfbench

/** The output check, on plain data so its self-test needs no Spark. */
object Checks {

  /** What one pass wrote: the passed ids, each rejected id with the operator
    * that rejected it, and the number of passed rows whose dedup key
    * (normalized text or image bytes) another passed row shares.
    */
  final case class Outcome(passed: Seq[Long], rejected: Seq[(Long, String)], sharedKeys: Long)

  /** Every problem found; empty means the pass is correct.
    *  - conservation: each input id lands exactly once across passed and rejected
    *  - no two passed rows share a dedup key
    *  - each id in `mustReject` is rejected by the named operator
    *  - the digest of the passed ids equals `committed`, when one is committed
    */
  def verify(inputIds: Seq[Long], out: Outcome, mustReject: Map[Long, String],
      committed: Option[String]): Seq[String] = {
    val errs = Seq.newBuilder[String]
    val input = inputIds.toSet
    val all = out.passed ++ out.rejected.map(_._1)
    val counts = all.groupBy(identity).view.mapValues(_.size)
    val twice = counts.count(_._2 > 1)
    if (twice > 0) errs += s"conservation: $twice ids land more than once"
    val lost = input.count(!counts.contains(_))
    if (lost > 0) errs += s"conservation: $lost input ids are in no output"
    val extra = counts.keys.count(!input.contains(_))
    if (extra > 0) errs += s"conservation: $extra output ids are not input ids"
    if (out.sharedKeys > 0) errs += s"dedup: ${out.sharedKeys} passed rows share a key"
    val rejectedBy = out.rejected.toMap
    val wrong = mustReject.filter { case (id, op) => !rejectedBy.get(id).contains(op) }
    if (wrong.nonEmpty) {
      val (id, op) = wrong.minBy(_._1)
      errs += s"planted: ${wrong.size} planted rows not rejected by the right operator " +
        s"(e.g. id $id: want $op, got ${rejectedBy.getOrElse(id, "passed")})"
    }
    committed.foreach { d =>
      val got = digest(out.passed)
      if (got != d) errs += s"digest: passed ids hash to $got, committed $d"
    }
    errs.result()
  }

  /** Order-independent digest of a set of ids: SHA-256 of the sorted list. */
  def digest(ids: Iterable[Long]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    ids.toArray.sorted.foreach(id => md.update(java.nio.ByteBuffer.allocate(8).putLong(id).array()))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  /** The tail: the highest percentile with at least ten samples beyond it.
    * Returns (value, percentile, sample count). With fewer than eleven
    * samples no percentile qualifies and the slowest sample stands in,
    * reported as percentile 100.
    */
  def tail(samples: Seq[Double]): (Double, Double, Int) = {
    val s = samples.sorted
    val n = s.size
    require(n > 0, "no samples")
    if (n < 11) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.size
    require(n > 0, "no samples")
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
