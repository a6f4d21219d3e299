package graft

import graft.Bench.{QBench, adopt, loadavg, runInterleaved, spreadExceeds, waitForLoad}
import org.scalatest.funsuite.AnyFunSuite

/** The bench's self-adjudication rule: a forced-contention measurement
  * (wide rep spread) triggers the end-of-run retry, and adjudication
  * adopts the smaller median — so a single ambient-load window can't
  * poison the committed artifact.
  */
class BenchSpec extends AnyFunSuite {

  test("spreadExceeds: 3x spread triggers, tight spread and failures don't") {
    // forced contention: one rep swept by a load window -> max/min = 10x
    assert(spreadExceeds(QBench(med = 2.5, min = 1.0, max = 10.0)))
    // boundary: exactly 3x does NOT trigger (strictly greater)
    assert(!spreadExceeds(QBench(med = 2.0, min = 1.0, max = 3.0)))
    assert(spreadExceeds(QBench(med = 2.0, min = 1.0, max = 3.0001)))
    // steady-state queries stay untouched
    assert(!spreadExceeds(QBench(med = 1.1, min = 1.0, max = 1.3)))
    // a failed query (-1 sentinel) is never retried
    assert(!spreadExceeds(QBench(med = -1.0, min = -1.0, max = -1.0)))
    // degenerate zero-min never divides by zero
    assert(!spreadExceeds(QBench(med = 0.0, min = 0.0, max = 1.0)))
  }

  test("adopt: contention inflates, so the smaller median wins; failed retries keep the first run") {
    val contaminated = QBench(med = 9.0, min = 2.0, max = 30.0)
    val clean = QBench(med = 2.1, min = 2.0, max = 2.3)
    // the end-of-run retry lands outside the load window: adopted
    assert(adopt(contaminated, clean) == clean)
    // the retry itself hit contention (bigger median): first run kept
    assert(adopt(clean, contaminated) == clean)
    // retry crashed (-1): first run kept, never the sentinel
    assert(adopt(contaminated, QBench(-1.0, -1.0, -1.0)) == contaminated)
    // tie: keep the first run (stable artifact under re-runs)
    assert(adopt(clean, clean.copy(max = 9.9)) == clean)
  }

  test("runInterleaved: round-robin order, per-query stats, failure skips remaining reps") {
    val order = collection.mutable.ArrayBuffer[(String, Int)]()
    // q2 fails at rep 1 -> its rep 2 must never run; q1/q3 complete
    val fake = Map(
      ("q1", 0) -> 1.0, ("q2", 0) -> 5.0, ("q3", 0) -> 2.0,
      ("q1", 1) -> 1.2, ("q2", 1) -> -1.0, ("q3", 1) -> 2.2,
      ("q1", 2) -> 1.1, ("q3", 2) -> 2.1)
    val out = runInterleaved(Seq("q1", "q2", "q3"), 3) { (q, r) =>
      order += ((q, r)); fake((q, r))
    }
    // rep-major order: ALL queries' rep r before any query's rep r+1 —
    // the property that spreads one contention window across queries
    assert(order.toSeq == Seq(("q1", 0), ("q2", 0), ("q3", 0),
      ("q1", 1), ("q2", 1), ("q3", 1), ("q1", 2), ("q3", 2)))
    val m = out.toMap
    assert(m("q1") == QBench(1.1, 1.0, 1.2))
    assert(m("q2") == QBench(-1.0, -1.0, -1.0), "failure poisons the query")
    assert(m("q3") == QBench(2.1, 2.0, 2.2))
    // input order preserved for the artifact
    assert(out.map(_._1) == Seq("q1", "q2", "q3"))
    // one item (the end-of-run retry): reps run back to back, a failure
    // at rep 2 poisons the query and rep 3 never runs
    val solo = collection.mutable.ArrayBuffer[Int]()
    val one = runInterleaved(Seq("q4"), 3) { (_, r) =>
      solo += r; if (r == 1) -1.0 else 1.0
    }
    assert(solo.toSeq == Seq(0, 1))
    assert(one == Seq("q4" -> QBench(-1.0, -1.0, -1.0)))
  }

  test("waitForLoad: passes when quiet or unmeasurable, waits out a spike, refuses a persistent load") {
    // quiet at first sample: no sleep at all
    var slept = 0L
    assert(waitForLoad(2.0, 60, 10, () => 1.5, slept += _))
    assert(slept == 0L)
    // unmeasurable (-1, no /proc): gate passes
    assert(waitForLoad(2.0, 60, 10, () => -1.0, _ => ()))
    // spike that clears on the third poll
    val samples = Iterator(9.0, 5.0, 1.9, 1.8)
    var polls = 0
    assert(waitForLoad(2.0, 60, 10, () => { polls += 1; samples.next() }, _ => ()))
    assert(polls == 3)
    // persistent load: refuses after the wait budget
    assert(!waitForLoad(2.0, 30, 10, () => 8.0, _ => ()))
  }

  test("loadavg: reads a non-negative 1-min load on Linux") {
    // loadavg() returns -1 where /proc/loadavg does not exist — only
    // assert the read on Linux-like hosts
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get("/proc/loadavg")))
    assert(loadavg() >= 0.0)
  }
}
