package perfbench

/** Output checks. Pure functions over collected results, so the suite can
  * feed them corrupted inputs; each returns None when the output is right
  * and a one-line reason when it is not.
  */
object Checks {
  type T3 = (String, String, String)

  def precisionRecall[A](actual: Set[A], expected: Set[A]): (Double, Double) = {
    val hit = actual.count(expected.contains).toDouble
    (if (actual.isEmpty) 0.0 else hit / actual.size,
      if (expected.isEmpty) 1.0 else hit / expected.size)
  }

  /** The paper's acceptance gate on the triple set: P and R ≥ floor
    * against the closed-form expected set.
    */
  def tripleSet(actual: Set[T3], expected: Set[T3], floor: Double = 0.95): Option[String] = {
    val (p, r) = precisionRecall(actual, expected)
    if (p >= floor && r >= floor) None
    else Some(f"triple set P=$p%.4f R=$r%.4f (floor $floor) over ${actual.size} rows")
  }

  /** `GraphBuilder.stats` rows against `ClosedFormGraph.expectedStats`. */
  def graphStats(actual: Set[(String, Double)], expected: Set[(String, Double)]): Option[String] =
    if (actual == expected) None
    else {
      val diff = (actual diff expected).toSeq.sortBy(_._1).take(3)
      val miss = (expected diff actual).toSeq.sortBy(_._1).take(3)
      Some(s"graph stats differ: unexpected $diff, missing $miss")
    }

  /** Two row sets that must be identical (a driver-path result against
    * the distributed one; the in-memory triple set against the
    * checkpointed one).
    */
  def sameRows(what: String, a: Seq[String], b: Seq[String]): Option[String] = {
    val (sa, sb) = (a.sorted, b.sorted)
    if (sa == sb) None
    else {
      val first = sa.zipAll(sb, "<none>", "<none>").find { case (x, y) => x != y }
      Some(s"$what: ${sa.size} vs ${sb.size} rows, first difference $first")
    }
  }

  /** Rank vectors that must agree to within `tol` per id. */
  def sameRanks(what: String, a: Map[String, Double], b: Map[String, Double],
                tol: Double = 1e-9): Option[String] =
    if (a.keySet != b.keySet) Some(s"$what: id sets differ (${a.size} vs ${b.size})")
    else a.find { case (k, v) => math.abs(v - b(k)) > tol }
      .map { case (k, v) => s"$what: $k is $v vs ${b(k)}" }
}
