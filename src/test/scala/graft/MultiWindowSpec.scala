package graft

import graft.ops.{MultiWindow, Trailing}
import graft.schema.FeatureViews
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The one-pass kernel's contract: equals the window-function form on the
  * same events — exact for counts / distincts / min / max, 1e-9 relative
  * for the float features (running add/evict sums vs frame re-scan).
  */
class MultiWindowSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  // the PRODUCT window path (facade default), not a private re-derivation —
  // a regression in fullFeatures must fail this spec
  private def windowForm(tx: org.apache.spark.sql.DataFrame) =
    new AmlFeatureStore(spark).fullFeatures(tx)

  private def compare(tx: org.apache.spark.sql.DataFrame): Unit = {
    val expected = windowForm(tx).collect()
      .map(r => r.getLong(0) -> r).toMap
    val got = MultiWindow.fullViewOnePass(tx).collect()
    assert(got.length == expected.size)
    val schema = MultiWindow.outputSchema
    for (g <- got) {
      val e = expected(g.getLong(0))
      var i = 2
      while (i < schema.length) {
        val name = schema(i).name
        schema(i).dataType match {
          case org.apache.spark.sql.types.LongType =>
            val ev = e.getAs[Number](name).longValue
            assert(g.getLong(i) == ev, s"txn ${g.getLong(0)} $name: ${g.getLong(i)} vs $ev")
          case _ =>
            val ev = e.getAs[Number](name).doubleValue
            val gv = g.getDouble(i)
            assert(math.abs(gv - ev) <= 1e-9 * math.max(1.0, math.abs(ev)),
              s"txn ${g.getLong(0)} $name: $gv vs $ev")
        }
        i += 1
      }
    }
  }

  test("one-pass kernel == window form on real sf0.001 events") {
    compare(Tables.transactions(spark, "/root/testdata/sf0.001"))
  }

  test("one-pass kernel == window form on a dense burst (large frames)") {
    // 1500 events 1 s apart from one customer: the 24h frame holds the
    // whole history — the regime where frame re-scan goes quadratic and
    // the kernel stays linear; values must still agree
    val rnd = new scala.util.Random(7)
    val data = (0 until 1500).map { i =>
      (i.toLong, 1L, new java.sql.Timestamp(1700000000000L + i * 1000L),
        math.rint(rnd.nextDouble() * 10000) / 100.0,
        s"m${rnd.nextInt(3)}", s"ip${rnd.nextInt(4)}")
    }
    import spark.implicits._
    val tx = data.toDF("transaction_id", "customer_id", "event_timestamp",
      "amount", "merchant_id", "ip_address")
    compare(tx)
  }

  test("one-pass kernel == window form on adversarial synthetic sequences") {
    // dense bursts (many events inside every window), exact-boundary gaps
    // (events exactly W seconds apart must fall OUT of the strict frame),
    // duplicate timestamps, single-event customers
    val rnd = new scala.util.Random(42)
    val data = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, java.sql.Timestamp, Double, String, String)]
    var id = 0L
    for (c <- 0L until 12L) {
      var t = 1700000000000000L // µs
      val n = if (c == 11) 1 else 400
      for (_ <- 0 until n) {
        val step = rnd.nextInt(6) match {
          case 0 => 0L                  // duplicate ts
          case 1 => 1000000L            // 1 s
          case 2 => 60L * 1000000L      // exactly the 1m window length
          case 3 => 3600L * 1000000L    // exactly 1h
          case 4 => rnd.nextInt(1000000).toLong
          case _ => 86400L * 1000000L   // exactly 24h
        }
        t += step
        data += ((id, c, new java.sql.Timestamp(t / 1000),
          math.rint(rnd.nextDouble() * 10000) / 100.0,
          s"m${rnd.nextInt(5)}", s"ip${rnd.nextInt(7)}"))
        id += 1
      }
    }
    import spark.implicits._
    val tx = data.toSeq.toDF("transaction_id", "customer_id", "event_timestamp",
      "amount", "merchant_id", "ip_address")
    compare(tx)
  }
}
