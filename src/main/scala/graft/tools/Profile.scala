package graft.tools
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Ad-hoc query profiler for plan investigation (guide §1): runs each
  * named query once warm and prints wall seconds next to scheduler-level
  * counters — #jobs, #stages, #tasks, Σ task time, Σ shuffle bytes — so
  * a slow query can be attributed to scheduling overhead (wall ≫
  * Σtask/cores) vs real compute vs shuffle volume. Not part of the
  * driver contract; Bench stays the official benchmark.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val jobs = new AtomicInteger; val stages = new AtomicInteger
    val tasks = new AtomicInteger; val taskMs = new AtomicLong
    val shufR = new AtomicLong; val shufW = new AtomicLong
    val gcMs = new AtomicLong; val stageMs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        // scheduler-visible stage wall (submit -> complete): the gap
        // between a query's wall and Σ stage wall is pure driver work
        // (Catalyst/AQE planning, codegen, broadcast building)
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
        }
      }
    })
    // whole-stage-codegen compile cost (janino): getCount is the only
    // EXACT cumulative value the Dropwizard histogram exposes — the
    // snapshot is a decaying reservoir sample whose per-query sum deltas
    // undercount and even go negative (ADVICE-r16). Report the exact
    // compilation-count delta and estimate ms as count × current mean
    // (approximate, marked '~').
    def compileMs: Long = {
      val h = org.apache.spark.metrics.source.CodegenMetrics
        .METRIC_COMPILATION_TIME
      (h.getCount * h.getSnapshot.getMean).toLong
    }
    def compileN: Long = org.apache.spark.metrics.source.CodegenMetrics
      .METRIC_COMPILATION_TIME.getCount
    spark.range(10000000L).selectExpr("sum(id)").collect()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("PROFILE_REPS", "2").toInt
    for (q <- args.toSeq; rep <- 1 to reps) {
      jobs.set(0); stages.set(0); tasks.set(0); taskMs.set(0)
      shufR.set(0); shufW.set(0); gcMs.set(0); stageMs.set(0)
      val (c0, n0) = (compileMs, compileN)
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async — give it a beat to drain before reading
      Thread.sleep(300)
      println(f"$q rep$rep wall=$wall%.2fs jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} " +
        f"taskTime=${taskMs.get / 1000.0}%.1fs gc=${gcMs.get / 1000.0}%.1fs " +
        f"stageWall=${stageMs.get / 1000.0}%.1fs " +
        f"codegen~${(compileMs - c0) / 1000.0}%.1fs/${compileN - n0}%d " +
        f"shufR=${shufR.get / 1048576.0}%.1fMB shufW=${shufW.get / 1048576.0}%.1fMB")
    }
    spark.stop()
  }
}
