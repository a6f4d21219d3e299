package graft

import graft.ops.AsOf
import org.scalatest.funsuite.AnyFunSuite

class AsOfSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("as-of join: inclusive boundary, latest-before wins, unmatched probe is null") {
    val events = Seq(
      (1L, 100L, 10.0, 1000L),
      (1L, 200L, 20.0, 1001L),
      (2L, 500L, 50.0, 1002L)
    ).toDF("key", "tm", "value", "event_id")
    val probes = Seq(
      (11L, 1L, 150L), // between the two events -> matches tm=100
      (12L, 1L, 200L), // exactly at an event -> inclusive, matches tm=200
      (13L, 1L, 999L), // far after -> latest event (tm=200)
      (14L, 2L, 400L)  // before key 2's first event -> unmatched
    ).toDF("probe_id", "key", "tm")
    val got = AsOf.lastEventAsOf(events, probes, Seq("value", "event_id"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    assert(got(11L).contains(10.0))
    assert(got(12L).contains(20.0))
    assert(got(13L).contains(20.0))
    assert(got(14L).isEmpty)
  }

  test("tolerance as-of: stale match nulled, fresh match kept, boundary inclusive") {
    val events = Seq(
      (1L, 100L, 10.0, 1000L),
      (2L, 500L, 50.0, 1002L)
    ).toDF("key", "tm", "value", "event_id")
    val probes = Seq(
      (11L, 1L, 150L), // 50 behind, within tol=100 -> fresh
      (12L, 1L, 200L), // exactly tol behind (200-100=100) -> inclusive, fresh
      (13L, 1L, 201L), // 101 behind -> stale, nulled
      (14L, 2L, 400L)  // no event at-or-before -> unmatched
    ).toDF("probe_id", "key", "tm")
    val got = AsOf.lastEventAsOfTol(events, probes, Seq("value", "event_id"),
        tolerance = 100L)
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got(11L).contains(10.0))
    assert(got(12L).contains(10.0))
    assert(got(13L).isEmpty)
    assert(got(14L).isEmpty)
  }
}
