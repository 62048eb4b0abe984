package graft

import org.scalatest.funsuite.AnyFunSuite

/** Contracts for the bench's regression gate: `Bench.regressionGate`
  * decides which queries of a session are suspects against the raw
  * rolling minima of earlier sessions, and roll updates must freeze
  * under non-default execution configs (ADVICE r18: one
  * throughput-favorable run would otherwise poison the rolling records
  * forever).
  */
class BenchAdjudicationSpec extends AnyFunSuite {

  private def gate(prior: Map[String, Double], cur: Map[String, Double],
                   eligible: Boolean = true, prevShift: Double = 1.0) =
    Bench.regressionGate(prior, cur, eligible, prevShift)

  test("regressionGate: a 2x slower query is a suspect; sub-0.5 s and first-run queries are not") {
    val g = gate(
      prior = Map("q_slow" -> 1.0, "q_tiny" -> 0.1, "q_same" -> 0.8),
      cur = Map("q_slow" -> 2.0, "q_tiny" -> 0.4, "q_same" -> 0.8,
        "q_new" -> 9.0))
    assert(g.suspects == Seq("q_slow" -> 2.0))
    assert(g.ratios("q_tiny") == 4.0, "a sub-0.5 s query is rated, never flagged")
    assert(!g.ratios.contains("q_new"), "a first run has nothing to regress from")
    assert(g.rollmin == Map("q_slow" -> 1.0, "q_tiny" -> 0.1, "q_same" -> 0.8,
      "q_new" -> 9.0))
  }

  test("regressionGate: the board shift is divided out only with >= 10 ratios") {
    val board = (1 to 10).map(i => f"q_$i%02d")
    val prior = (board :+ "q_hot").map(_ -> 1.0).toMap
    // ten queries 1.5x slower (host), one 3x slower (regression)
    val g = gate(prior, board.map(_ -> 1.5).toMap + ("q_hot" -> 3.0))
    assert(g.ratios.size == 11)
    assert(g.globalShift == 1.5 && g.shiftBase == 1.5)
    assert(g.suspects == Seq("q_hot" -> 2.0))
    // the same 1.5x slowdown on a focused run is not laundered as shift
    val focused = gate(prior.filter(_._1 != "q_hot"),
      board.take(9).map(_ -> 1.5).toMap)
    assert(focused.globalShift == 1.5 && focused.shiftBase == 1.0)
    assert(focused.suspects.map(_._1).sorted == board.take(9))
    assert(focused.suspects.forall(_._2 == 1.5))
  }

  test("regressionGate: a board shift above 1.5x in this and the previous record is flagged") {
    val board = (1 to 10).map(i => s"q_$i")
    val prior = board.map(_ -> 1.0).toMap
    val cur = board.map(_ -> 1.6).toMap
    assert(gate(prior, cur, prevShift = 1.6).boardShift)
    assert(!gate(prior, cur, prevShift = 1.0).boardShift)
    val nine = board.take(9).toSet
    assert(!gate(prior.filter(kv => nine(kv._1)), cur.filter(kv => nine(kv._1)),
      prevShift = 1.6).boardShift,
      "a focused run makes no board statement")
    assert(gate(prior, cur, prevShift = 1.6).suspects.isEmpty)
  }

  test("regressionGate: x_stream gates are exempt") {
    val g = gate(Map("x_stream_window" -> 1.0), Map("x_stream_window" -> 5.0))
    assert(g.suspects.isEmpty && g.ratios.isEmpty)
    assert(g.rollmin == Map("x_stream_window" -> 1.0))
  }

  test("regressionGate: a -1 sentinel in the prior record's min never enters rollmin") {
    val f = java.nio.file.Files.createTempFile("bench-prior", ".json")
    try {
      java.nio.file.Files.write(f,
        """{"min":{"q_failed":-1.0,"q_ok":2.0}}""".getBytes("UTF-8"))
      val prior = Bench.readPrevMap(f, Seq("rollmin", "min"))
      val g = gate(prior, Map("q_failed" -> 3.0, "q_ok" -> -1.0))
      assert(g.rollmin == Map("q_failed" -> 3.0, "q_ok" -> 2.0))
      assert(g.ratios.isEmpty && g.suspects.isEmpty)
    } finally java.nio.file.Files.deleteIfExists(f)
  }

  test("regressionGate: a non-default config freezes rollmin and takes no ratio") {
    val g = gate(Map("q_a" -> 1.0), Map("q_a" -> 0.5, "q_b" -> 3.0),
      eligible = false)
    assert(g.rollmin == Map("q_a" -> 1.0))
    assert(g.ratios.isEmpty && g.suspects.isEmpty)
  }

  test("rollEligibleConfig: default env eligible; every shaping knob freezes rolls") {
    assert(Bench.rollEligibleConfig(Map.empty))
    assert(Bench.rollEligibleConfig(Map("SPARK_GRAFT_CPUS" -> "32")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_MASTER" -> "local-cluster[2,8,8192]")))
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_CPUS" -> "8")))
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_STREAM_FILES" -> "span:648000")))
    // ADVICE r19 (medium): the remaining execution-shaping knobs freeze
    // rolls too — a smaller corpus or a different iteration count each
    // sets records a default run can never match
    assert(!Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.01")))
    assert(Bench.rollEligibleConfig(Map(
      "SPARK_GRAFT_SF_DIR" -> "/root/testdata/sf0.1")),
      "explicitly naming the default corpus stays eligible")
    assert(!Bench.rollEligibleConfig(Map("SPARK_GRAFT_BENCH_ITERS" -> "6")))
    assert(Bench.rollEligibleConfig(Map("SPARK_GRAFT_BENCH_ITERS" -> "3")),
      "explicitly naming the default iteration count stays eligible")
  }
}
