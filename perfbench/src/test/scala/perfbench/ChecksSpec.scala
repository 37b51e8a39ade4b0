package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** The output checks must reject corrupted results, not only pass good ones.
  * Run with `sbt test` from perfbench/.
  */
class ChecksSpec extends AnyFunSuite {
  private val expected: Set[Checks.T3] =
    (0 until 200).map(i => (s"C$i", "defines", s"f$i")).toSet

  test("a triple set equal to the expected set passes") {
    assert(Checks.tripleSet(expected, expected).isEmpty)
  }

  test("a triple set with rows dropped fails recall") {
    val dropped = expected.toSeq.sorted.drop(20).toSet // 10 % missing
    val err = Checks.tripleSet(dropped, expected)
    assert(err.exists(_.contains("R=0.9000")))
  }

  test("a triple set with wrong rows added fails precision") {
    val noisy = expected ++ (0 until 30).map(i => (s"X$i", "calls", s"y$i"))
    assert(Checks.tripleSet(noisy, expected).exists(_.contains("P=0.8696")))
  }

  test("a few missing rows stay within the 0.95 gate") {
    assert(Checks.tripleSet(expected.drop(5), expected).isEmpty)
  }

  test("an empty triple set fails") {
    assert(Checks.tripleSet(Set.empty, expected).isDefined)
  }

  test("graph stats must match exactly") {
    val st = Set(("nodes", 10.0), ("edges", 12.0), ("density", 12.0 / 90))
    assert(Checks.graphStats(st, st).isEmpty)
    assert(Checks.graphStats(st - (("edges", 12.0)) + (("edges", 11.0)), st).isDefined)
    assert(Checks.graphStats(st - (("nodes", 10.0)), st).isDefined)
  }

  test("row sets compare as multisets, order aside") {
    assert(Checks.sameRows("x", Seq("a", "b", "b"), Seq("b", "a", "b")).isEmpty)
    assert(Checks.sameRows("x", Seq("a", "b"), Seq("a", "b", "b")).isDefined)
    assert(Checks.sameRows("x", Seq("a", "c"), Seq("a", "b")).isDefined)
  }

  test("rank vectors agree within tolerance only") {
    val a = Map("x" -> 0.25, "y" -> 0.75)
    assert(Checks.sameRanks("pr", a, a.map { case (k, v) => k -> (v + 1e-12) }).isEmpty)
    assert(Checks.sameRanks("pr", a, a.updated("y", 0.7501)).isDefined)
    assert(Checks.sameRanks("pr", a, a - "y").isDefined)
  }
}
