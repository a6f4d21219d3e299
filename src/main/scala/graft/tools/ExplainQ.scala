package graft.tools

/** Print the formatted physical plan of registered queries (plan-audit
  * companion to [[Profile]]; an investigation tool, not a gate).
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    args.foreach { q =>
      println(s"== $q")
      graft.SparkEntry.queries(q)(spark, dir).explain("formatted")
    }
    spark.stop()
  }
}
