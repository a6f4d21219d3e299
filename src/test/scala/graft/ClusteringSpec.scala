package graft

import graft.ops.Clustering
import graft.sources.EventStream
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class ClusteringSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("dbscan: tight cluster + one outlier; small groups get defaults") {
    val ts = (h: Int) => Timestamp.valueOf(f"2024-01-06 $h%02d:00:00")
    val rows =
      // customer 1: four identical points + one far outlier -> ratio 0.2, 1 cluster
      Seq((1L, 100.0, ts(10)), (1L, 100.0, ts(10)), (1L, 100.0, ts(10)),
        (1L, 100.0, ts(10)), (1L, 5000.0, ts(3)),
        // customer 2: only 4 txns -> defaults (0.0, 1.0)
        (2L, 10.0, ts(1)), (2L, 20.0, ts(2)), (2L, 30.0, ts(3)), (2L, 40.0, ts(4)))
    val df = rows.toDF("customer_id", "amount", "event_timestamp")
    val got = Clustering.dbscanFeatures(df)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got(1L) == ((0.2, 1.0)))
    assert(got(2L) == ((0.0, 1.0)))
  }

  test("json event decode: valid row parses, corrupt row is kept and flagged") {
    val raw = Seq(
      """{"transaction_id":"t1","customer_id":"c1","merchant_id":"m1","amount":12.5,"ip_address":"1.2.3.4","event_timestamp":"2024-01-06T12:00:00Z"}""",
      """{"transaction_id": BROKEN""").toDF("json")
    val out = EventStream.decode(raw).collect()
    val ok = out.find(_.getString(0) == "t1").get
    assert(ok.getDouble(3) == 12.5)
    assert(ok.getTimestamp(5) == Timestamp.valueOf("2024-01-06 12:00:00"))
    assert(out.exists(r => r.isNullAt(0) && !r.isNullAt(6)))
  }
}
