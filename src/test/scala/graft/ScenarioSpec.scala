package graft

import graft.ops.CoreFeatures
import graft.scoring.Risk
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** The reference's five manual scenarios (`README.md:379-385`,
  * `producer/transaction_producer.py:218-243`) as risk-level assertions:
  * normal, burst, high amount, multi-IP, night activity.
  */
class ScenarioSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  private def score(rows: Seq[(Long, Long, String, Double, String, Timestamp)]): Array[(Long, Double, String)] = {
    val df = rows.toDF("transaction_id", "customer_id", "merchant_id", "amount", "ip_address", "event_timestamp")
    Risk.scored(CoreFeatures.customerFeatures(df), col("amount"))
      .select(col("transaction_id"), col("risk_score"), col("risk_level"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
      .sortBy(_._1)
  }

  private def ts(s: String) = Timestamp.valueOf(s)

  test("normal transaction scores LOW") {
    // Wednesday mid-day, one modest txn, one ip
    val r = score(Seq((1L, 1L, "m1", 150.50, "ip1", ts("2024-01-10 14:00:00"))))
    assert(r.head._3 == "LOW", r.head.toString)
  }

  test("high-amount transaction scores HIGH (amount boost + saturated sums)") {
    val r = score(Seq((1L, 1L, "m1", 15000.0, "ip1", ts("2024-01-10 14:00:00"))))
    assert(r.head._3 == "HIGH", r.head.toString)
  }

  test("burst: 50 txns in 30 seconds escalates to HIGH") {
    // reference burst scenario: one customer, 1000-5000 amounts, 30 s
    val rows = (0 until 50).map { i =>
      (i.toLong, 1L, "m1", 1000.0 + i * 80.0, "ip1",
        ts(f"2024-01-10 14:00:${i * 3 / 5}%02d.${i * 600 % 1000}%03d"))
    }
    val r = score(rows)
    assert(r.last._3 == "HIGH", r.last.toString)
    // escalation: the 50th txn scores strictly higher than the 1st
    assert(r.last._2 > r.head._2)
  }

  test("multi-IP: >3 distinct IPs in the hour trips the IP boost") {
    val base = Seq((0L, 1L, "m1", 50.0, "ip0", ts("2024-01-10 14:00:00")))
    val multi = (1 to 4).map(i =>
      (i.toLong, 1L, "m1", 50.0, s"ip$i", ts(s"2024-01-10 14:0$i:00")))
    val r = score(base ++ multi)
    val single = score(base)
    assert(r.last._2 >= single.head._2 + 0.25, s"${r.last} vs ${single.head}")
  }

  test("night activity: >3 night txns adds the night boost") {
    val day = score(Seq((1L, 1L, "m1", 50.0, "ip1", ts("2024-01-10 14:00:00"))))
    val night = score((0 until 5).map(i =>
      (i.toLong, 1L, "m1", 50.0, "ip1", ts(s"2024-01-10 02:0$i:00"))))
    // 5th night txn: night_txn_count_24h=5 > 3 -> +0.1 vs the daytime single
    assert(night.last._2 > day.head._2 + 0.09, s"${night.last} vs ${day.head}")
  }
}
