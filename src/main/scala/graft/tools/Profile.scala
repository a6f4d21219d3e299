package graft.tools

/** Per-query profiler for plan investigation: runs each named query 3
  * times warm and prints `<q> rep<n> <wall seconds>` and the
  * [[RunProfile]] counters per rep, to tell scheduling overhead (wall ≫
  * Σtask/cores) from compute and shuffle volume. An investigation tool;
  * Bench stays the official benchmark.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val prof = RunProfile(spark)
    spark.range(10000000L).selectExpr("sum(id)").collect()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = if (args.nonEmpty) args.toSeq else Seq("q01_txn_counts")
    for (q <- qs; rep <- 1 to 3) {
      val r = prof.measure(graft.SparkEntry.queries(q)(spark, dir)
        .write.format("noop").mode("overwrite").save())
      println(f"$q rep$rep ${r.wallSec}%.2f " +
        RunProfile.render(r.fields.tail, json = false))
    }
    spark.stop()
  }
}
