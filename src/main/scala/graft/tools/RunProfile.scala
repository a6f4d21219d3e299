package graft.tools

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The one run profiler behind Bench, Profile and Soak: a `SparkListener`
  * registered once per SparkContext that sums scheduler counters, read
  * around a body by [[measure]]. The listener bus is drained
  * (ListenerBridge) before and after the body, so every event the body's
  * jobs posted lands in its run and in no other — no sleep, no counter
  * reset. Jobs that other threads run at the same time are counted too:
  * measure one body at a time.
  */
final class RunProfile private (private val sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, taskMs, gcMs, stageMs,
    shufR, shufW, shufRec = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    // submit -> complete: wall minus Σ stage wall is work outside the
    // stages (Catalyst/AQE planning, codegen, broadcast building)
    for (t0 <- s.stageInfo.submissionTime; t1 <- s.stageInfo.completionTime)
      stageMs.addAndGet(t1 - t0)
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = t.taskMetrics
    if (m != null) {
      taskMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }

  // codegen counters are JVM-wide and exact: the histogram's count and the
  // nanosecond accumulator (the histogram's snapshot is a decaying sample)
  private def snapshot(): Array[Long] = Array(jobs.get, stages.get, tasks.get,
    taskMs.get, gcMs.get, stageMs.get, shufR.get, shufW.get, shufRec.get,
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Run `body` and return its counters. An exception from `body`
    * propagates (after the drain), and the next run is still exact.
    */
  def measure(body: => Unit): RunProfile.Run = {
    ListenerBridge.drain(sc)
    val before = snapshot()
    val t0 = System.nanoTime()
    val wallNs = try { body; System.nanoTime() - t0 } finally ListenerBridge.drain(sc)
    val d = snapshot().lazyZip(before).map(_ - _)
    RunProfile.Run(wallNs / 1e9, d(0), d(1), d(2), d(3) / 1e3, d(4) / 1e3,
      d(5) / 1e3, d(6) / 1048576.0, d(7) / 1048576.0, d(8), d(9), d(10) / 1e9)
  }
}

object RunProfile {

  /** One run's counters; `shufMb` is shuffle write. */
  final case class Run(wallSec: Double, jobs: Long, stages: Long, tasks: Long,
      taskSec: Double, gcSec: Double, stageWallSec: Double, shufReadMb: Double,
      shufMb: Double, shufRecords: Long, compiles: Long, compileSec: Double) {
    /** `snake_case` name -> value, in declaration order (`wall_sec` first). */
    def fields: Seq[(String, Double)] =
      productElementNames.map(_.replaceAll("([A-Z])", "_$1").toLowerCase)
        .zip(productIterator.map { case l: Long => l.toDouble; case d: Double => d })
        .toSeq
  }

  private var current: RunProfile = _

  /** The session's profiler, registered on its SparkContext on first use. */
  def apply(spark: SparkSession): RunProfile = synchronized {
    val sc = spark.sparkContext
    if (current == null || (current.sc ne sc)) {
      current = new RunProfile(sc)
      sc.addSparkListener(current)
    }
    current
  }

  /** Each field's own median over `runs`; -1 for every field with no run. */
  def median(runs: Seq[Run]): Seq[(String, Double)] =
    Run(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).fields.zipWithIndex.map { case ((k, _), i) =>
      val xs = runs.map(_.fields(i)._2).sorted
      k -> (if (xs.isEmpty) -1.0 else xs(xs.size / 2))
    }

  /** `k=v` pairs (Profile's line) or a JSON object (Bench's `profile`). */
  def render(fields: Seq[(String, Double)], json: Boolean): String = {
    val kv = fields.map { case (k, v) =>
      val s = if (v == math.rint(v)) v.toLong.toString else "%.4f".format(v)
      if (json) s"\"$k\":$s" else s"$k=$s"
    }
    if (json) kv.mkString("{", ",", "}") else kv.mkString(" ")
  }
}
