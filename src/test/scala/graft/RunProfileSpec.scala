package graft

import graft.tools.RunProfile
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RunProfile's counters are exact per run: the bus is drained on both
  * sides of the body, so back-to-back runs read their own jobs, tasks
  * and shuffle records with no sleep and nothing carried over.
  */
class RunProfileSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  // one job, one stage, 7 tasks, no exchange
  private def scan(): Unit = spark.range(0, 7000, 1, 7).collect()
  // 3 map tasks each write one partial row per key (3 x 5 = 15 records);
  // AQE runs the map stage as its own job and coalesces the 15 tiny rows
  // into one reduce task
  private def grouped(): Unit =
    spark.range(0, 3000, 1, 3).groupBy(col("id") % 5).count().collect()

  private def shape(r: RunProfile.Run) = (r.jobs, r.stages, r.tasks, r.shufRecords)

  test("back-to-back runs read exact counts with nothing carried over") {
    val prof = RunProfile(spark)
    assert(RunProfile(spark) eq prof, "one profiler per session")
    // a slow listener on the same queue keeps the bus behind the jobs, so
    // counts read without the drain after the body would come up short
    val lag = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = Thread.sleep(20)
    }
    spark.sparkContext.addSparkListener(lag)
    val (a, b, a2) =
      try (prof.measure(scan()), prof.measure(grouped()), prof.measure(scan()))
      finally spark.sparkContext.removeSparkListener(lag)
    assert(shape(a) == ((1L, 1L, 7L, 0L)))
    assert(shape(b) == ((2L, 2L, 4L, 15L)))
    assert(shape(a2) == shape(a), "the grouped run leaked into the next one")
    assert(b.shufMb > 0 && b.shufReadMb > 0 && a.shufMb == 0)
    assert(Seq(a, b, a2).forall(r => r.wallSec > 0 && r.taskSec >= 0 && r.gcSec >= 0))
  }

  test("a fresh expression counts its codegen compile with a non-negative time") {
    val r = RunProfile(spark).measure(
      spark.range(0, 10, 1, 1).selectExpr(s"id * ${System.nanoTime()}L + 1 AS x").collect())
    assert(r.compiles >= 1)
    assert(r.compileSec > 0)
  }

  test("a failing body propagates its exception and the next run stays exact") {
    val prof = RunProfile(spark)
    val e = intercept[Exception](prof.measure(
      spark.range(0, 10, 1, 1).selectExpr("raise_error('boom')").collect()))
    assert(e.getMessage.contains("boom"))
    assert(shape(prof.measure(grouped())) == ((2L, 2L, 4L, 15L)))
  }

  test("median and render: per-field medians, -1 with no run, whole counts") {
    val runs = Seq(3.0, 1.0, 2.0).map(w =>
      RunProfile.Run(w, w.toLong, 1, 4, w / 10, 0, 0, 0, 0.5, 15, 0, 0))
    val m = RunProfile.median(runs).toMap
    assert(m("wall_sec") == 2.0 && m("jobs") == 2.0 && m("task_sec") == 0.2)
    assert(RunProfile.median(Nil).forall(_._2 == -1.0))
    assert(RunProfile.render(RunProfile.median(runs).take(3), json = true) ==
      """{"wall_sec":2,"jobs":2,"stages":1}""")
    assert(RunProfile.render(runs.head.fields.slice(8, 10), json = false) ==
      "shuf_mb=0.5000 shuf_records=15")
  }
}
