package perfbench

import org.apache.spark.sql.SparkSession
import java.io.File
import java.lang.management.ManagementFactory
import scala.collection.mutable

/** The benchmark's JVM side: one workload, one process, one caller.
  *
  *   perfbench.Main [--launched-ns <n>] --workload <backfill|serve|ingest|dedup>
  *     --seed <n> --seconds <s> --trace <0|1> --dir <scratch dir> [--out <dir>]
  *     [--selftest]
  *   perfbench.Main --train 1 --dir <scratch dir>
  *
  * Prints one JSON line last: end-to-end metrics with `--trace 0`,
  * per-layer metrics with `--trace 1`. Exits non-zero when a check fails.
  */
object Main {
  /** The workloads BENCHMARK.json gates on. `dedup` runs only by hand: its
    * runs cost the most (a cold first op of ~20 s), and the gate's time
    * budget cannot hold it beside the other three at steady op counts.
    */
  val Gated = Seq("backfill", "serve", "ingest")
  val Workloads = Gated :+ "dedup"

  val perLayer: Seq[(String, String)] = Seq(
    "driver.analysis_ms" -> "ms", "driver.optimization_ms" -> "ms",
    "driver.planning_ms" -> "ms", "driver.codegen_compiles" -> "count",
    "driver.codegen_compile_ms" -> "ms", "driver.jobs" -> "count",
    "driver.outside_jobs_ms" -> "ms", "exec.task_s" -> "s", "exec.tasks" -> "count",
    "exec.gc_s" -> "s", "exec.shuffle_write_mb" -> "MB", "exec.shuffle_read_mb" -> "MB",
    "exec.spill_mb" -> "MB", "exec.peak_execution_mb" -> "MB",
    "exec.slot_busy_ratio" -> "ratio",
    "schema.window_view_ms" -> "ms", "ops.customer_view_ms" -> "ms",
    "ops.merchant_view_ms" -> "ms", "pit.as_of_ms" -> "ms",
    "online.snapshot_build_ms" -> "ms", "online.predict_plan_ms" -> "ms",
    "scoring.predict_collect_ms" -> "ms", "online.cold_start_rows" -> "count",
    "streaming.trigger_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.wal_commit_ms" -> "ms",
    "streaming.commit_offsets_ms" -> "ms", "streaming.state_rows" -> "count",
    "streaming.state_memory_mb" -> "MB", "streaming.state_commit_ms" -> "ms",
    "streaming.state_rows_removed" -> "count",
    "streaming.rocksdb_bytes_written_mb" -> "MB",
    "online.upsert_calls" -> "count", "online.store_keys" -> "count",
    "online.get_fresh_us" -> "us")

  /** Per-layer metrics of the `scale` layer, printed on `dedup` runs only. */
  val scaleLayer: Seq[(String, String)] = Seq(
    "scale.jaccard_topk_ms" -> "ms", "scale.neardup_groups_ms" -> "ms",
    "scale.incremental_dedup_ms" -> "ms", "scale.fuzzy_contamination_ms" -> "ms",
    "scale.pinned_rdds_left" -> "count", "scale.cached_mb_left" -> "MB")

  def session(workload: String, dir: File, slots: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-$workload")
      // graft.Bench's mainline session
      .config("spark.sql.shuffle.partitions", slots.toString)
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // everything a run writes stays under its own scratch directory
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
    if (workload == "ingest")
      b.config("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
        // state-store maintenance runs on a timer thread; pushed past the
        // run length so it never lands inside some runs' timed phase only
        .config("spark.sql.streaming.stateStore.maintenanceInterval", "600s")
    b.getOrCreate()
  }

  def make(name: String, spark: SparkSession, seed: Long, trace: Trace): Workload = name match {
    case "backfill" => new Backfill(spark, seed, trace)
    case "serve" => new Serve(spark, seed, trace)
    case "ingest" => new Ingest(spark, seed, trace)
    case "dedup" => new Dedupe(spark, seed, trace)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Share of CPU time a virtual machine's host withheld from it (steal) since
    * `from`, a `/proc/stat` cpu line; noise from outside the run.
    */
  def cpuLine(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }
  def stealShare(from: Array[Long]): Double = {
    val d = cpuLine().zip(from).map { case (b, a) => b - a }
    if (d.sum <= 0 || d.length < 8) 0.0 else d(7).toDouble / d.sum
  }

  def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val selftest = args.contains("--selftest")
    if (opts.contains("train")) return train(new File(opts("dir")))
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val dir = new File(opts("dir"))
    val slots = math.min(4, Runtime.getRuntime.availableProcessors)

    // the launcher's CLOCK_MONOTONIC reading just before it started this
    // JVM (System.nanoTime reads the same clock on Linux); else JVM start
    val launchedNs = opts.get("launched-ns").map(_.toLong).getOrElse(System.nanoTime() -
      ManagementFactory.getRuntimeMXBean.getUptime * 1000000L)

    val spark = session(workload, dir, slots)
    spark.sparkContext.setLogLevel("WARN")
    val bootS = (System.nanoTime() - launchedNs) / 1e9
    val trace = new Trace(traced, spark, slots)
    val code = try {
      if (selftest) selfTest(workload, spark, seed, trace, dir)
      else {
        val w = make(workload, spark, seed, trace)
        val tu = System.nanoTime()
        // a failed check of the set-up, the warm-up or the whole run
        // fails every timed op; a failed check of one op fails that op
        val runErrors = mutable.ArrayBuffer.empty[String]
        runErrors ++= w.setUp(new File(dir, "setup"))
        val setUpS = (System.nanoTime() - tu) / 1e9
        val tw = System.nanoTime()
        for (_ <- 1 to w.warmOps) { w.next(); w.op(); runErrors ++= w.checkOp() }
        val warmS = (System.nanoTime() - tw) / 1e9
        val opErrors = mutable.ArrayBuffer.empty[String]
        var failedOps = 0
        val lat = mutable.ArrayBuffer.empty[Double]
        val cpu0 = cpuLine()
        var timed = 0.0
        var setupS = 0.0
        while (timed < seconds || lat.size < w.minOps) {
          w.next()
          trace.beginOp()
          val t = System.nanoTime()
          if (lat.isEmpty) setupS = (t - launchedNs) / 1e9
          trace.span("op")(w.op())
          val ms = (System.nanoTime() - t) / 1e6
          val errs = w.checkOp()
          if (errs.nonEmpty) failedOps += 1
          opErrors ++= errs
          trace.endOp(ms)
          lat += ms
          timed += ms / 1e3
        }
        val steal = stealShare(cpu0)
        val tf = System.nanoTime()
        runErrors ++= w.finish()
        w.tearDown()
        System.err.println(f"[perfbench] $workload: ${lat.size} ops in $timed%.1f s, " +
          f"host cpu steal ${steal * 100}%.1f%%; boot $bootS%.2f s, set-up $setUpS%.2f s, " +
          f"warm-up $warmS%.2f s, final checks ${(System.nanoTime() - tf) / 1e9}%.2f s; " +
          s"op ms ${lat.map(x => f"$x%.0f").mkString(" ")}")
        if (runErrors.nonEmpty) failedOps = lat.size
        val e2e = Seq(
          ("setup_s", "s", setupS),
          ("items_per_s", "1/s", w.itemsPerOp * lat.size / timed),
          ("op_p50_ms", "ms", median(lat.toSeq)),
          ("peak_rss_mb", "MB", peakRssMb))
        val metrics =
          if (!traced) e2e
          else {
            val layers = if (workload == "dedup") perLayer ++ scaleLayer else perLayer
            val means = trace.perOpMeans(layers.map(_._1))
            layers.map { case (n, u) => (n, u, trace.setUpMetrics.getOrElse(n, means(n))) }
          }
        if (traced) trace.write(new File(opts.getOrElse("out", ".")),
          s"$workload-seed$seed", e2e, lat.toSeq, bootS, setUpS, warmS, steal)
        val errors = runErrors ++ opErrors
        errors.foreach(e => System.err.println(s"[perfbench] CHECK FAILED $e"))
        val body = metrics.map { case (n, u, v) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
        println(s"""{"correct": ${errors.isEmpty}, "attempted": ${lat.size}, "failed": $failedOps, """ +
          s""""metrics": {${body.mkString(", ")}}}""")
        if (errors.isEmpty) 0 else 1
      }
    } finally {
      trace.close()
      spark.stop()
    }
    sys.exit(code)
  }

  /** One unchecked op of every gated workload, so that the JVM's class-data
    * archive (recorded at exit by the build) holds the Spark SQL, parquet,
    * codegen and streaming classes the runs load.
    */
  def train(dir: File): Unit = {
    val spark = session("ingest", dir, math.min(4, Runtime.getRuntime.availableProcessors))
    val trace = new Trace(false, spark, 1)
    for (name <- Gated) {
      val w = make(name, spark, 0L, trace)
      w.setUp(new File(dir, name))
      w.next()
      w.op()
      w.tearDown()
    }
    spark.stop()
  }

  /** Show that each check rejects a deliberately corrupted output: one
    * set-up and one op, then every check once clean and once per
    * corruption of the program's output.
    */
  def selfTest(workload: String, spark: SparkSession, seed: Long, trace: Trace, dir: File): Int = {
    val w = make(workload, spark, seed, trace)
    val setUpErrs = w.setUp(new File(dir, "selftest"))
    w.next(); w.op()
    def all(): Seq[String] = setUpErrs ++ w.checkOp() ++ w.finish()
    val clean = all()
    println(s"selftest $workload clean: ${if (clean.isEmpty) "accepted" else clean.mkString("; ")}")
    val missed = w.corruptions.filter { label =>
      w.corrupt = label
      val errs = all()
      println(s"selftest $workload $label: " +
        (if (errs.nonEmpty) s"rejected (${errs.head})" else "NOT REJECTED"))
      errs.isEmpty
    }
    w.corrupt = ""
    w.tearDown()
    if (clean.isEmpty && missed.isEmpty) 0 else 1
  }
}
