package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Per-layer recording for the traced run. Everything is observed from
  * outside the program: Spark listeners for the driver and executor
  * layers, the codegen compile counters, and spans the workloads record
  * around each public call. With tracing off, `span` only runs its body
  * and no listener is registered.
  */
final class Trace(val on: Boolean, spark: SparkSession, slots: Int) {
  case class Span(id: Int, name: String, parent: Int, startNs: Long, endNs: Long)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private val t0 = System.nanoTime()

  /** Time `body` as a span under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(id, name, open.headOption.getOrElse(-1), System.nanoTime(), -1)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  // ---- per-op layer sums (reset at each op boundary) ----

  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStart = mutable.Map.empty[Int, Long]
  private var peakExecBytes = 0L

  /** Add `v` to layer metric `name` for the current op. */
  def add(name: String, v: Double): Unit =
    if (on) sums.synchronized { sums(name) = sums.getOrElse(name, 0.0) + v }

  private val listener = new SparkListener {
    override def onJobStart(j: SparkListenerJobStart): Unit = sums.synchronized {
      jobStart(j.jobId) = j.time
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = sums.synchronized {
      jobStart.remove(j.jobId).foreach(s => jobIntervals += ((s, j.time)))
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) sums.synchronized {
        add("exec.tasks", 1)
        add("exec.task_s", m.executorRunTime / 1e3)
        add("exec.gc_s", m.jvmGCTime / 1e3)
        add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1048576.0)
        peakExecBytes = math.max(peakExecBytes, m.peakExecutionMemory)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      val p = qe.tracker.phases
      for ((phase, metric) <- Seq("analysis" -> "driver.analysis_ms",
          "optimization" -> "driver.optimization_ms", "planning" -> "driver.planning_ms"))
        p.get(phase).foreach(s => add(metric, s.durationMs.toDouble))
    }
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  }

  if (on) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  private def compiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount
  private def compileNs: Long =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime

  // ---- op boundaries ----

  private val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
  private var opStartMs = 0L
  private var c0 = 0L
  private var cNs0 = 0L

  def beginOp(): Unit = if (on) {
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    sums.synchronized { sums.clear(); jobIntervals.clear(); peakExecBytes = 0L }
    c0 = compiles; cNs0 = compileNs
    opStartMs = System.currentTimeMillis()
  }

  /** Close the op that ran for `wallMs`: fold the listener sums and the
    * workload's own additions into one per-op record.
    */
  def endOp(wallMs: Double): Unit = if (on) {
    val endMs = opStartMs + wallMs.toLong
    org.apache.spark.perfbenchbridge.Bus.drain(spark.sparkContext)
    sums.synchronized {
      // union of the job intervals that fall inside the op
      val iv = jobIntervals.map { case (s, e) => (math.max(s, opStartMs), math.min(e, endMs)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var curS = -1L; var curE = -1L
      iv.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
        else curE = math.max(curE, e)
      }
      if (curE > curS) covered += curE - curS
      add("driver.jobs", jobIntervals.size)
      add("driver.outside_jobs_ms", math.max(0.0, wallMs - covered))
      add("driver.codegen_compiles", (compiles - c0).toDouble)
      add("driver.codegen_compile_ms", (compileNs - cNs0) / 1e6)
      add("exec.peak_execution_mb", peakExecBytes / 1048576.0)
      add("exec.slot_busy_ratio",
        sums.getOrElse("exec.task_s", 0.0) * 1000.0 / (wallMs * slots))
      perOp += sums.toMap
    }
  }

  /** Mean over the timed ops of each layer metric, 0 for a layer the
    * workload never touched.
    */
  def perOpMeans(names: Seq[String]): Map[String, Double] =
    names.map { n =>
      n -> (if (perOp.isEmpty) 0.0 else perOp.map(_.getOrElse(n, 0.0)).sum / perOp.size)
    }.toMap

  /** Set-up timers. */
  val setUpMetrics = mutable.Map.empty[String, Double]
  def setUpMetric(name: String, v: Double): Unit = if (on) setUpMetrics(name) = v

  /** Spans as JSON (times in ms from the start of the run). */
  def spansJson: String = spans.map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},""" +
      f""""start_ms":${(s.startNs - t0) / 1e6}%.3f,"end_ms":${(s.endNs - t0) / 1e6}%.3f}"""
  }.mkString("[\n", ",\n", "\n]")

  /** Write spans, per-op layer records and the traced run's own
    * end-to-end figures to `<dir>/trace-<tag>.json`.
    */
  def write(dir: java.io.File, tag: String, e2e: Seq[(String, String, Double)],
      opsMs: Seq[Double], bootS: Double, setUpS: Double, warmS: Double,
      steal: Double): Unit = if (on) {
    dir.mkdirs()
    def obj(m: Iterable[(String, Double)]) =
      m.map { case (k, v) => s""""$k":${Main.fmt(v)}""" }.mkString("{", ",", "}")
    val json = s"""{"end_to_end":${obj(e2e.map(x => x._1 -> x._3))},
      |"op_ms":${opsMs.map(Main.fmt).mkString("[", ",", "]")},
      |"boot_s":${Main.fmt(bootS)},"set_up_s":${Main.fmt(setUpS)},"warm_s":${Main.fmt(warmS)},"cpu_steal":${Main.fmt(steal)},
      |"set_up_metrics":${obj(setUpMetrics)},
      |"per_op":${perOp.map(m => obj(m.toSeq.sortBy(_._1))).mkString("[\n", ",\n", "\n]")},
      |"spans":$spansJson}
      |""".stripMargin
    java.nio.file.Files.write(new java.io.File(dir, s"trace-$tag.json").toPath,
      json.getBytes("UTF-8"))
  }

  def close(): Unit = if (on) {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }
}
