package graft

import graft.functions.RoundNudged
import graft.schema.FeatureViews
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}
import org.scalatest.funsuite.AnyFunSuite

/** The backfill kernel's contract (`AmlFeatureStore.fullFeatures`, i.e.
  * `ops.MultiWindow`): the same columns, types and values as the
  * window-function form (`FeatureViews.windowView`), bit for bit.
  *
  * One exception: a frame holding peers (events of one customer at the
  * same time) folds them in the kernel's order (transaction_id), while
  * Spark takes them in shuffle order, which it leaves unspecified. Doubles
  * of such frames are compared after the oracle's r6 rounding.
  */
class MultiWindowSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private def kernel(tx: DataFrame) = new AmlFeatureStore(spark).fullFeatures(tx)

  private def r6(x: Double): Double = RoundNudged(Literal(x), 1e4, 5e-11).eval().asInstanceOf[Double]
  private def bits(x: Double): Long = java.lang.Double.doubleToLongBits(x)

  /** For each transaction and window: does its frame hold peers? */
  private def framesWithPeers(tx: DataFrame): Map[Long, Array[Boolean]] = {
    val events = tx.select(col("transaction_id"), col("customer_id"),
        unix_micros(col("event_timestamp"))).collect()
      .map(r => (r.getLong(0), Option(r.get(1)), if (r.isNullAt(2)) Long.MinValue else r.getLong(2)))
    events.groupBy(_._2).values.flatMap { evs =>
      val tms = evs.map(_._3).sorted
      // tied(j): how many i <= j have tms(i) == tms(i - 1)
      val tied = tms.indices.scanLeft(0)((n, i) => n + (if (i > 0 && tms(i) == tms(i - 1)) 1 else 0)).tail
      def firstAbove(x: Long) = {
        var (lo, hi) = (0, tms.length)
        while (lo < hi) { val m = (lo + hi) >>> 1; if (tms(m) > x) hi = m else lo = m + 1 }
        lo
      }
      evs.map { case (id, _, t) =>
        val hi = firstAbove(t) - 1
        id -> FeatureViews.windows6.map { case (_, secs) =>
          // a null time's frame is the customer's null times, sorted first
          val lo = if (t == Long.MinValue) 0 else firstAbove(t - secs * 1000000L)
          tied(hi) - tied(lo) > 0
        }.toArray
      }
    }.toMap
  }

  private def compare(tx: DataFrame): Unit = {
    val want = FeatureViews.windowView(tx)
    val gotDf = kernel(tx)
    assert(gotDf.schema == want.schema)
    val expected = want.collect().map(r => r.getLong(0) -> r).toMap
    val got = gotDf.collect()
    assert(got.length == expected.size)
    val peers = framesWithPeers(tx)
    val schema = gotDf.schema
    val nKinds = FeatureViews.kinds.length
    for (g <- got) {
      val id = g.getLong(0)
      val e = expected(id)
      assert(g.get(1) == e.get(1), s"txn $id customer_id")
      for (i <- 2 until schema.length) {
        val name = schema(i).name
        def at(r: Row) = if (r.isNullAt(i)) "null" else r.get(i).toString
        schema(i).dataType match {
          case LongType =>
            assert(g.get(i) == e.get(i), s"txn $id $name: ${at(g)} vs ${at(e)}")
          case DoubleType if g.isNullAt(i) || e.isNullAt(i) =>
            assert(g.isNullAt(i) && e.isNullAt(i), s"txn $id $name: ${at(g)} vs ${at(e)}")
          case DoubleType =>
            val (gv, ev) = (g.getDouble(i), e.getDouble(i))
            if (peers(id)((i - 2) / nKinds))
              assert(bits(r6(gv)) == bits(r6(ev)), s"txn $id $name (frame holds peers): $gv vs $ev")
            else
              assert(bits(gv) == bits(ev), s"txn $id $name: $gv vs $ev")
        }
      }
    }
  }

  test("one-pass kernel == window form on real sf0.001 events") {
    compare(Tables.transactions(spark, "/root/testdata/sf0.001"))
  }

  test("one-pass kernel == window form on real sf0.01 events") {
    compare(Tables.transactions(spark, "/root/testdata/sf0.01"))
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

  test("window form replays each frame, as the kernel assumes") {
    // Spark's sliding frame re-runs sum over the whole frame whenever the
    // frame changes. Events 1 s apart: 1e16 first, then 1.0s. Once 1e16
    // leaves the 1m frame, a replayed sum is the count of 1.0s, while a
    // running add/evict sum lost those 1.0s to rounding against 1e16.
    val amounts = 1e16 +: Seq.fill(99)(1.0)
    import spark.implicits._
    val tx = amounts.zipWithIndex.map { case (a, i) =>
      (i.toLong, 1L, new java.sql.Timestamp(1700000000000L + i * 1000L), a, "m", "ip")
    }.toDF("transaction_id", "customer_id", "event_timestamp", "amount", "merchant_id", "ip_address")
    val sums = FeatureViews.windowView(tx).collect()
      .map(r => r.getLong(0).toInt -> r.getAs[Double]("txn_amount_sum_1m")).toMap
    var running = 0.0
    for (i <- amounts.indices) {
      running += amounts(i)
      if (i >= 60) running -= amounts(i - 60)
      val replayed = amounts.slice(math.max(0, i - 59), i + 1).foldLeft(0.0)(_ + _)
      assert(bits(sums(i)) == bits(replayed),
        s"event $i: window form ${sums(i)}, replayed $replayed")
    }
    assert(sums(99) == 60.0 && running != 60.0, s"running sum $running")
    compare(tx)
  }

  /** Four customers plus a null one, with null merchants, ips, amounts and
    * timestamps, signed zeros, a NaN amount and tied times.
    */
  private def withNulls(key: Long => Any): Seq[(Long, Any, java.sql.Timestamp, Any, String, String)] = {
    val rnd = new scala.util.Random(11)
    val amounts = Array[Any](null, 0.0, -0.0, 5.0, 12.5, 12.5, 99.99, Double.NaN)
    var t = 1700000000000000L
    (0 until 600).map { i =>
      t += Seq(0L, 1000000L, 30L * 1000000L, 3600L * 1000000L)(rnd.nextInt(4))
      (i.toLong, key(rnd.nextInt(5).toLong),
        if (rnd.nextInt(50) == 0) null else new java.sql.Timestamp(t / 1000),
        amounts(if (i == 300) 7 else rnd.nextInt(7)),
        if (rnd.nextInt(6) == 0) null else s"m${rnd.nextInt(4)}",
        if (rnd.nextInt(4) == 0) null else s"ip${rnd.nextInt(5)}")
    }
  }

  private def frame(rows: Seq[Row], keyType: org.apache.spark.sql.types.DataType) = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), StructType(Seq(
      StructField("transaction_id", LongType), StructField("customer_id", keyType),
      StructField("event_timestamp", TimestampType), StructField("amount", DoubleType),
      StructField("merchant_id", StringType), StructField("ip_address", StringType))))
  }

  test("kernel == window form with long keys, a null key and null values") {
    val rows = withNulls(k => if (k == 4) null else k).map(Row.fromTuple)
    compare(frame(rows, LongType))
  }

  test("kernel == window form with string keys, a null key and null values") {
    val rows = withNulls(k => if (k == 4) null else s"c-$k").map(Row.fromTuple)
    val tx = frame(rows, org.apache.spark.sql.types.StringType)
    compare(tx)
    // null amounts are rows, not values: a frame of null amounts only has
    // a count but no sum, avg, max or min, and a zero std
    val onlyNull = kernel(tx.where(col("amount").isNull)).collect()
    assert(onlyNull.nonEmpty && onlyNull.forall { r =>
      r.getAs[Long]("txn_count_24h") > 0 && r.isNullAt(r.fieldIndex("txn_amount_sum_24h")) &&
        r.isNullAt(r.fieldIndex("avg_txn_amount_24h")) && r.isNullAt(r.fieldIndex("max_txn_amount_24h")) &&
        r.isNullAt(r.fieldIndex("min_txn_amount_24h")) && r.getAs[Double]("std_txn_amount_24h") == 0.0
    })
  }

  test("kernel == window form on one hot key past the buffer's first compactions") {
    // 70,000 events of one customer, minutes apart: frames stay small, so
    // the buffer drops its evicted prefix many times over
    val rnd = new scala.util.Random(3)
    var t = 1700000000000000L
    val rows = (0 until 70000).map { i =>
      t += (rnd.nextInt(3) match {
        case 0 => 0L
        case 1 => 60L * 1000000L
        case _ => rnd.nextInt(7200).toLong * 1000000L
      })
      Row(i.toLong, 7L, new java.sql.Timestamp(t / 1000), math.rint(rnd.nextDouble() * 10000) / 100.0,
        s"m${rnd.nextInt(40)}", s"ip${rnd.nextInt(300)}")
    }
    compare(frame(rows, LongType))
  }
}
