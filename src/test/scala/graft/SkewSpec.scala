package graft

import graft.ops.Skew
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SkewSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("salted aggregation equals direct aggregation") {
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val direct = tx.groupBy(col("customer_id").as("k"))
      .agg(sum(col("amount")).as("total"), count(lit(1)).as("cnt"))
    val salted = Skew.saltedAgg(tx, col("customer_id"), col("transaction_id"), 8)(
      Seq(sum(col("amount")).as("ps"), count(lit(1)).as("pc")),
      Seq(sum(col("ps")).as("total"), sum(col("pc")).as("cnt")))
    assert(direct.join(salted, "k")
      .where(abs(direct("total") - salted("total")) > 1e-6 || direct("cnt") =!= salted("cnt"))
      .count() == 0)
  }

  test("salted distinct count equals countDistinct") {
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val direct = tx.groupBy(col("customer_id").as("k"))
      .agg(countDistinct(col("ip_address")).as("d"))
    val salted = Skew.distinctCount(tx, col("customer_id"), col("ip_address"), 8)
    assert(direct.join(salted, "k").where(col("d") =!= col("distinct_cnt")).count() == 0)
  }

  test("approximate twins track exact values (A7/W10 scale paths)") {
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val cmp = tx.groupBy(col("customer_id"))
      .agg(countDistinct(col("ip_address")).as("exact_d"),
        approx_count_distinct(col("ip_address"), 0.02).as("approx_d"),
        expr("percentile(amount, 0.9D)").as("p90"),
        expr("percentile(amount, 1.0D)").as("pmax"),
        percentile_approx(col("amount"), lit(0.95), lit(1000)).as("approx_p"))
      .collect()
    cmp.foreach { r =>
      val (ed, ad) = (r.getLong(1).toDouble, r.getLong(2).toDouble)
      assert(math.abs(ed - ad) / ed <= 0.1, s"distinct: $ed vs $ad")
      // percentile_approx returns an OBSERVED value (no interpolation) —
      // on small groups compare against the exact [p90, max] bracket
      val (p90, pmax, ap) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
      assert(ap >= p90 && ap <= pmax, s"p95 approx $ap outside [$p90, $pmax]")
    }
  }
}
