package graft

import graft.plans.Tuning
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The `spark.sql.extensions=graft.GraftExtensions` deployment path: a
  * session built from config alone (no imperative register call) must
  * resolve every engine function from plain SQL.
  */
class ExtensionsSpec extends AnyFunSuite {

  test("config-injected extensions expose all native functions to SQL") {
    // spark.sql.extensions is a STATIC conf resolved from the
    // SparkContext's SparkConf at context creation — a context built by
    // an earlier suite (without it) would silently drop the extension, so
    // stop any live context and build fresh; stop this one afterwards so
    // later suites get a plain factory session.
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .foreach(_.stop())
    val spark = Session.builder(4)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .getOrCreate()
    try {
      val r = spark.sql(
        """SELECT gini_agg(x) AS g, entropy_agg(b) AS e, hhi_agg(b) AS h,
          |       exact_distinct(b) AS d
          |FROM VALUES (1.0, 'a'), (2.0, 'b'), (3.0, 'a'), (4.0, 'c') AS t(x, b)""".stripMargin)
        .head
      assert(r.getLong(3) == 3L)
      assert(r.getDouble(0) > 0.0 && r.getDouble(1) > 0.0 && r.getDouble(2) > 0.0)

      val v = spark.sql(
        "SELECT array_dot(array(1.0F,2.0F), array(3.0F,4.0F)), array_norm(array(3.0F,4.0F))").head
      assert(v.getDouble(0) == 11.0 && v.getDouble(1) == 5.0)

      // DESCRIBE FUNCTION works because injectFunction carries ExpressionInfo
      val desc = spark.sql("DESCRIBE FUNCTION array_dot").collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("array_dot"))

      val wn = spark.sql(
        "SELECT size(winnow('the quick brown fox jumps over the lazy dog', 8, 4))").head
      assert(wn.getInt(0) > 0)

      // graft_distinct: one query text, conf-selected exact/approx twin
      val q = "SELECT graft_distinct(id % 100) FROM range(10000)"
      val exact = spark.sql(q)
      assert(exact.head.getLong(0) == 100L)
      assert(exact.queryExecution.executedPlan.toString.contains("count(distinct"),
        exact.queryExecution.executedPlan.toString)
      Tuning.withConf(spark, "spark.graft.distinct.approx" -> "true") {
        val approx = spark.sql(q)
        val v = approx.head.getLong(0)
        assert(math.abs(v - 100L) <= 5, s"hll estimate $v") // 5% default sd
        assert(approx.queryExecution.executedPlan.toString.contains("approx_count_distinct"),
          approx.queryExecution.executedPlan.toString)
      }
    } finally spark.stop()
  }
}
