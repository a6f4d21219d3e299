package graft

import graft.plans.Tuning
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime bloom-filter join pruning — the shuffle-join analogue of
  * dynamic partition pruning: a selective dim-side predicate builds a
  * bloom filter that is pushed into the fact side's scan, so most fact
  * rows die before the join exchange. At 100 TB this is the difference
  * between shuffling the whole fact table and shuffling the matching
  * slice; the thresholds here only shrink Spark's size gates so the
  * behavior is observable on test data.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private val sf = "/root/testdata/sf0.01"

  test("selective dim filter injects a bloom filter into the fact join side") {
    Tuning.withConf(spark,
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fact side must look "large" to justify the filter; dim side small
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val fact = Tables.lineitem(spark, sf)
      val dim = Tables.orders(spark, sf).where(col("o_totalprice") > 400000.0)
      val joined = fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(sum(col("l_extendedprice")).as("rev"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") && opt.contains("bloom_filter_agg"),
        s"expected a runtime bloom filter in:\n$opt")
      // and the filtered plan still computes the same result
      val expected = Tuning.withConf(spark,
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false") {
        fact.join(dim, fact("l_orderkey") === dim("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_extendedprice")).as("rev"))
          .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      }
      val got = joined.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(got.keySet == expected.keySet)
      got.foreach { case (k, v) =>
        assert(math.abs(v - expected(k)) <= math.abs(expected(k)) * 1e-12, k)
      }
    }
  }
}
