package graft.tools

/** Ad-hoc repeated-run timer for plan investigation (not part of the
  * driver contract; Bench stays the official single-pass benchmark).
  */
object Timing {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    spark.range(10000000L).selectExpr("sum(id)").collect()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val qs = if (args.nonEmpty) args.toSeq else Seq("q01_txn_counts")
    for (q <- qs; rep <- 1 to 3) {
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(q)(spark, dir).write.format("noop").mode("overwrite").save()
      println(f"$q rep$rep ${(System.nanoTime() - t0) / 1e9}%.2f")
    }
    spark.stop()
  }
}
