package graft

import graft.ops.{CoreFeatures, Trailing}
import graft.scoring.Risk
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

/** Hand-computed fixtures for the SURVEY §4.3 semantic traps. */
class CoreFeaturesSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  // one customer, three events: t0, t0+59.999s, t0+60s
  private def fixture = Seq(
    (1L, 7L, "m1", 100.0, "ip1", ts("2024-01-06 12:00:00")),        // Saturday
    (2L, 7L, "m2", 200.0, "ip1", ts("2024-01-06 12:00:59.999")),
    (3L, 7L, "m1", 400.0, "ip2", ts("2024-01-06 12:01:00"))
  ).toDF("transaction_id", "customer_id", "merchant_id", "amount", "ip_address", "event_timestamp")

  test("60s trailing window is strict (t-W, t]: event exactly W old is excluded") {
    val w = Trailing.spec($"customer_id", $"event_timestamp")
    val got = fixture.select($"transaction_id",
      CoreFeatures.txnCount(w, 60).as("c"),
      CoreFeatures.amountSum($"amount", w, 60).as("s"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L) == ((1L, 100.0)))
    assert(got(2L) == ((2L, 300.0)))       // t0 is 59.999s old -> included
    assert(got(3L) == ((2L, 600.0)))       // t0 is exactly 60s old -> excluded
  }

  test("stddev is population (divide by n) and 0.0 for a single-row window") {
    val w = Trailing.spec($"customer_id", $"event_timestamp")
    val got = fixture.select($"transaction_id",
      CoreFeatures.amountStdPop($"amount", w, 3600).as("sd"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == 0.0)                 // n=1
    assert(math.abs(got(2L) - 50.0) < 1e-9) // pop std of {100,200} = 50
    // pop std of {100,200,400}: sqrt(46666.67/3) = 124.72191...
    assert(math.abs(got(3L) - 124.72191289246473) < 1e-6)
  }

  test("weekend convention: Python weekday>=5 == Spark dayofweek in {1,7}") {
    val got = fixture.select(CoreFeatures.isWeekend($"event_timestamp")).collect()
    assert(got.forall(_.getBoolean(0)))    // 2024-01-06 is a Saturday
    val mon = Seq(Tuple1(ts("2024-01-08 12:00:00"))).toDF("t")
    assert(!mon.select(CoreFeatures.isWeekend($"t")).head().getBoolean(0))
  }

  test("distinct counts over the frame") {
    val w = Trailing.spec($"customer_id", $"event_timestamp")
    val got = fixture.select($"transaction_id",
      CoreFeatures.distinctOver($"ip_address", w, 3600).as("ips"),
      CoreFeatures.distinctOver($"merchant_id", w, 3600).as("m"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(3L) == ((2L, 2L)))
  }

  test("risk model: zero features -> LOW; high-amount boost applies") {
    val zeros = Risk.model.map { case (f, _, _) => lit(0.0).as(f) }
    val df = Seq(Tuple1(15000.0)).toDF("amount").select(col("amount") +: zeros: _*)
    val r = Risk.scored(df, $"amount").select($"risk_score", $"risk_level").head()
    assert(r.getDouble(0) == 0.3)          // only the >10k boost fires
    assert(r.getString(1) == "LOW")        // 0.3 <= 0.3 -> LOW (reference <=)
  }

  test("entry smoke: flagship pipeline returns rows") {
    assert(SparkEntry.entry(spark).limit(5).count() > 0)
  }
}
