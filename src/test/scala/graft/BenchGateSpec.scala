package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench's flat-profile envelope must be ENFORCED, not just
  * recorded (VERDICT r11 item 2: round 10 shipped two 4-6 s lines
  * green because nothing failed). Planted-offender coverage for the
  * gate (with its breach retry) that main() turns into a non-zero
  * exit. */
class BenchGateSpec extends AnyFunSuite {

  private val sweep = "/root/testdata/sf0.1"

  /** The gate's verdict when every re-measure reproduces the first one. */
  private def gate(results: Seq[(String, Double, Boolean)], maxLine: Double,
                   sfDir: String): Option[String] = {
    val bySec = results.map { case (k, v, _) => k -> v }.toMap
    Bench.gateWithRetry(results.map { case (k, v, ok) => (k, v, ok, 0L) }, maxLine, sfDir,
      name => (bySec(name), true, 0L))._2
  }

  test("a planted slow line fails the gate with the offender named") {
    val results = Seq(("q1_agg", 0.4, true), ("q170_graph_triangles", 5.21, true),
      ("q2_join", 0.3, true))
    val msg = gate(results, 3.0, sweep)
    assert(msg.isDefined)
    assert(msg.get.contains("q170_graph_triangles=5.21s"))
    assert(!msg.get.contains("q1_agg"))
  }

  test("an all-fast sweep passes") {
    val results = Seq(("q1_agg", 0.4, true), ("q170_graph_triangles", 2.2, true))
    assert(gate(results, 3.0, sweep).isEmpty)
  }

  test("failed lines are the errors channel's job, not the envelope's") {
    // a FAILED query reports negative seconds and rides the errors
    // list; the envelope must not double-report it
    val results = Seq(("q9_broken", 9.9, false))
    assert(gate(results, 3.0, sweep).isEmpty)
  }

  test("amplified-SF probes and explicit opt-out disable the gate") {
    val slow = Seq(("q1_agg", 9.0, true))
    assert(gate(slow, 3.0, "/tmp/amplified_x32").isEmpty)
    assert(gate(slow, 0.0, sweep).isEmpty)
    assert(gate(slow, -1.0, sweep).isEmpty)
  }

  // --- breach-retry discipline (VERDICT r13 item 1) ---------------------

  private def fourCol(rows: (String, Double, Boolean)*): Seq[(String, Double, Boolean, Long)] =
    rows.map { case (k, v, ok) => (k, v, ok, 7L) }

  test("retry: a regime spike (fast re-measure) clears the gate and is evidenced") {
    val sweep13 = fourCol(("q1_agg", 0.4, true), ("q62_decontamination", 5.35, true))
    var remeasured = List.empty[String]
    val (resolved, failure) = Bench.gateWithRetry(sweep13, 3.5, sweep, { name =>
      remeasured ::= name; (0.31, true, 3L)
    })
    assert(failure.isEmpty, failure)
    // ONLY the breaching line is re-measured
    assert(remeasured == List("q62_decontamination"))
    // reported seconds = best of all measures; evidence carries both
    val q62 = resolved.find(_._1 == "q62_decontamination").get
    assert(q62._2 == 0.31 && q62._3 && q62._4 == 3L)
    assert(q62._5.contains((5.35, 0.31)))
    // the untouched fast line carries no retry evidence
    assert(resolved.find(_._1 == "q1_agg").get._5.isEmpty)
  }

  test("retry: a TRUE regression (slow re-measure) still fails, naming both measures") {
    val sweep13 = fourCol(("q88_top_tokens", 6.64, true))
    val (resolved, failure) = Bench.gateWithRetry(sweep13, 3.5, sweep,
      _ => (6.1, true, 900L))
    assert(failure.isDefined)
    assert(failure.get.contains("q88_top_tokens=6.10s"))
    assert(failure.get.contains("first 6.64s") && failure.get.contains("retry 6.10s"))
    // reported seconds stay min-of-all-measures even on failure
    assert(resolved.head._2 == 6.1 && resolved.head._3)
  }

  test("retry: a retry that lands between gate and first measure still fails") {
    val (_, failure) = Bench.gateWithRetry(fourCol(("q90_anomaly_windows", 5.8, true)),
      3.5, sweep, _ => (4.2, true, 0L))
    assert(failure.isDefined && failure.get.contains("q90_anomaly_windows=4.20s"))
  }

  test("retry: an ERRORING re-measure is a reproduced breach, not a soft error") {
    // ADVICE r14: the old behavior reclassified a sweep-passing line
    // as failed (errors channel) and let the gate pass — a query that
    // crashes when slow converted a reproducible breach into exit 0
    val (resolved, failure) = Bench.gateWithRetry(fourCol(("q62_decontamination", 5.35, true)),
      3.5, sweep, _ => (1.0, false, 0L))
    assert(failure.isDefined, "an unreproducibly-fast line must fail the gate")
    assert(failure.get.contains("retry ERRORED"))
    // the line itself keeps its valid sweep measure and ok status
    assert(resolved.head._3, "sweep-passing line must not be reclassified failed")
    assert(resolved.head._2 == 5.35)
    // evidence encodes the erroring retry as a negative duration
    assert(resolved.head._5.contains((5.35, -1.0)))
  }

  test("retry: disabled gate (amplified SF / opt-out) never re-measures") {
    var calls = 0
    val slow = fourCol(("q1_agg", 9.0, true))
    val (_, f1) = Bench.gateWithRetry(slow, 3.5, "/tmp/amplified_x32",
      { _ => calls += 1; (0.1, true, 0L) })
    val (_, f2) = Bench.gateWithRetry(slow, 0.0, sweep,
      { _ => calls += 1; (0.1, true, 0L) })
    assert(f1.isEmpty && f2.isEmpty && calls == 0)
    // and an already-failed line is never re-measured either
    val (_, f3) = Bench.gateWithRetry(fourCol(("q9_broken", 9.9, false)), 3.5, sweep,
      { _ => calls += 1; (0.1, true, 0L) })
    assert(f3.isEmpty && calls == 0)
  }
}
