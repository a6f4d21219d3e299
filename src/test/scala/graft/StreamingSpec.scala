package graft

import graft.ops.CoreFeatures
import graft.streaming.{MarkovScore, StreamTxn, StreamingFeatures}
import graft.tables.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The streaming processor's contract: equals the batch range-frame
  * operator on the same events (SURVEY §2.9).
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("StreamConv.cents matches batch round() on negatives (HALF_UP, not toward +inf)") {
    import org.apache.spark.sql.functions.{col, lit, round}
    // -1.125 * 100 = -112.5 EXACTLY in binary: the one case where
    // math.round (toward +inf, -112) and HALF_UP (away from zero, -113)
    // visibly diverge — plus non-tie spot checks on both signs
    val amounts = Seq(-1.125, 1.125, -2.0, 2.004, -2.006, 0.0)
    val batch = spark.range(1).select(
      amounts.zipWithIndex.map { case (a, i) =>
        round(lit(a) * 100).cast("long").as(s"c$i") }: _*).head()
    amounts.zipWithIndex.foreach { case (a, i) =>
      assert(graft.streaming.StreamConv.cents(a) == batch.getLong(i),
        s"amount $a: streaming ${graft.streaming.StreamConv.cents(a)} vs " +
          s"batch ${batch.getLong(i)}")
    }
    assert(graft.streaming.StreamConv.cents(-1.125) == -113L)
  }

  test("transformWithState features == batch window features (two ordered micro-batches)") {
    import spark.implicits._
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)

    val split = tx.map(_.ts_micros).apply(tx.length / 2)
    val (b1, b2) = tx.partition(_.ts_micros <= split)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.customerFeatures(input.toDS())
      .writeStream.format("memory").queryName("feat").outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("feat")
      .select(col("customer_id"), col("ts_micros"), round(col("txn_amount_sum_1h"), 6).as("s1h"),
        col("txn_count_60s"), col("txn_count_1h"), col("unique_ips_1h"),
        col("unique_merchants_1h"), round(col("amount_deviation_score_1h"), 6).as("std1h"),
        col("night_txn_count_24h"), col("weekend_txn_count_7d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap

    val batch = CoreFeatures.customerFeatures(Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        round(col("txn_amount_sum_1h"), 6).as("s1h"),
        col("txn_count_60s"), col("txn_count_1h"), col("unique_ips_1h"),
        col("unique_merchants_1h"), round(col("amount_deviation_score_1h"), 6).as("std1h"),
        col("night_txn_count_24h"), col("weekend_txn_count_7d"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap

    assert(streamed.size == batch.size, s"row counts: ${streamed.size} vs ${batch.size}")
    val diffs = batch.collect { case (k, v) if streamed.get(k) != Some(v) => (k, v, streamed.get(k)) }
    assert(diffs.isEmpty, s"first diffs: ${diffs.take(3)}")
  }

  test("event-time mode: watermark drops late rows, on-time rows match batch") {
    import spark.implicits._
    import graft.streaming.StreamTxnTs
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val b1 = Seq(
      StreamTxnTs(1L, ts("2024-01-10 12:00:00"), 100.0, "m1", "ip1"),
      StreamTxnTs(1L, ts("2024-01-10 12:30:00"), 200.0, "m1", "ip1"))
    // watermark after b1 = 12:30 - 10s; this row is far older -> dropped
    val late = StreamTxnTs(1L, ts("2024-01-10 11:00:00"), 999.0, "m1", "ip1")
    val onTime = StreamTxnTs(1L, ts("2024-01-10 12:31:00"), 50.0, "m1", "ip2")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxnTs]
    val query = StreamingFeatures.customerFeaturesEventTime(input.toDS(), "10 seconds")
      .writeStream.format("memory").queryName("etfeat").outputMode("append").start()
    try {
      input.addData(b1); query.processAllAvailable()
      input.addData(Seq(late, onTime)); query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("etfeat")
      .select(col("ts_micros"), col("amount"), col("txn_count_1h"), col("unique_ips_1h"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3))).toSet
    assert(!out.exists(_._2 == 999.0), s"late row must be dropped: $out")
    // on-time row sees both b1 events in its 1h window
    assert(out.contains((unixMicros("2024-01-10 12:31:00"), 50.0, 3L, 2L)), out.toString)
  }

  private def unixMicros(s: String): Long = java.sql.Timestamp.valueOf(s).getTime * 1000

  test("watermark-bounded dedup drops redeliveries within and across micro-batches") {
    import spark.implicits._
    import graft.streaming.StreamTxnTs
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val e1 = StreamTxnTs(1L, ts("2024-01-10 12:00:00"), 100.0, "m1", "ip1")
    val e2 = StreamTxnTs(1L, ts("2024-01-10 12:00:30"), 200.0, "m1", "ip1")
    val e3 = StreamTxnTs(2L, ts("2024-01-10 12:01:00"), 300.0, "m2", "ip2")

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxnTs]
    val query = StreamingFeatures.dedupedEvents(input.toDS(), "10 minutes")
      .writeStream.format("memory").queryName("dedup").outputMode("append").start()
    try {
      input.addData(Seq(e1, e1, e2)) // in-batch redelivery of e1
      query.processAllAvailable()
      input.addData(Seq(e2, e3)) // cross-batch redelivery of e2 (inside watermark)
      query.processAllAvailable()
    } finally query.stop()

    val out = spark.table("dedup").as[StreamTxnTs].collect()
    assert(out.length == 3, s"expected 3 unique events, got: ${out.toSeq}")
    assert(out.map(e => (e.customer_id, e.event_time)).distinct.length == 3)
  }

  test("stream-stream interval self-join == batch band join on the same events") {
    import spark.implicits._
    import graft.streaming.StreamTxnTs
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      StreamTxnTs(1L, ts("2024-01-10 12:00:00"), 10.0, "m1", "ip1"),
      StreamTxnTs(1L, ts("2024-01-10 12:02:00"), 20.0, "m1", "ip1"),
      StreamTxnTs(1L, ts("2024-01-10 12:09:00"), 30.0, "m1", "ip1"), // > 5m after 1st
      StreamTxnTs(2L, ts("2024-01-10 12:03:00"), 40.0, "m2", "ip2"))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxnTs]
    val query = StreamingFeatures.followPairs(input.toDS(), "10 minutes", 300)
      .writeStream.format("memory").queryName("follow").outputMode("append").start()
    try {
      input.addData(events); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("follow")
      .select(col("customer_id"), col("a1"), col("a2"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    // batch oracle: same band condition over a static frame (renamed
    // projections — a bare aliased self-join resolves ambiguously)
    val x = events.toDF().select(col("customer_id"), col("event_time").as("t1"), col("amount").as("a1"))
    val y = events.toDF().select(col("customer_id").as("c2"), col("event_time").as("t2"), col("amount").as("a2"))
    val batch = x.join(y, col("customer_id") === col("c2") &&
        col("t2") > col("t1") &&
        col("t2") <= col("t1") + expr("INTERVAL 300 SECONDS"))
      .select(col("customer_id"), col("a1"), col("a2"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2))).toSet
    assert(streamed == batch, s"streamed $streamed vs batch $batch")
    // only 12:00 -> 12:02 is inside the 5-minute band
    assert(streamed == Set((1L, 10.0, 20.0)), streamed.toString)
  }

  test("keyed fan-out: merchant view off the same source == batch merchant windows") {
    import spark.implicits._
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[graft.streaming.StreamTxn].collect().sortBy(_.ts_micros)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[graft.streaming.StreamTxn]
    val query = StreamingFeatures.merchantFeatures(input.toDS())
      .writeStream.format("memory").queryName("mfeat").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("mfeat")
      .select(col("merchant_id"), col("ts_micros"), col("merchant_txn_count_1h"),
        round(col("merchant_txn_amount_sum_1h"), 6).as("s"), col("merchant_unique_customers_1h"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap

    val batch = CoreFeatures.merchantFeatures(Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("merchant_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("merchant_txn_count_1h"), round(col("merchant_txn_amount_sum_1h"), 6).as("s"),
        col("merchant_unique_customers_1h"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.toSeq.drop(2)).toMap

    assert(streamed == batch)
  }

  test("checkpoint recovery: a restarted query resumes state and matches batch") {
    import spark.implicits._
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[graft.streaming.StreamTxn].collect().sortBy(_.ts_micros)
    val split = tx.map(_.ts_micros).apply(tx.length / 2)
    val (b1, b2) = tx.partition(_.ts_micros <= split)
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-ckpt-out").toString

    // the memory sink is not fault-tolerant (refuses checkpoint recovery);
    // the parquet file sink is — both runs append to one directory
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[graft.streaming.StreamTxn]
    input.addData(b1.toIndexedSeq)
    val q1 = StreamingFeatures.customerFeatures(input.toDS())
      .writeStream.format("parquet").option("path", outDir).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try q1.processAllAvailable() finally q1.stop()

    // NEW query object, SAME checkpoint: RocksDB state must carry over so
    // batch-2 events see batch-1 history in their trailing frames
    input.addData(b2.toIndexedSeq)
    val q2 = StreamingFeatures.customerFeatures(input.toDS())
      .writeStream.format("parquet").option("path", outDir).outputMode("append")
      .option("checkpointLocation", ckpt).start()
    try q2.processAllAvailable() finally q2.stop()

    val streamed = spark.read.parquet(outDir)
      .select(col("customer_id"), col("ts_micros"), col("txn_count_60s"),
        col("unique_ips_1h"), col("unique_merchants_1h"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    val batch = CoreFeatures.customerFeatures(Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("txn_count_60s"), col("unique_ips_1h"), col("unique_merchants_1h"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    assert(streamed.size == batch.size, s"${streamed.size} vs ${batch.size}")
    assert(streamed == batch)
  }

  test("graph-degree processor == batch running prefix-distinct counts, O(1) per event") {
    import spark.implicits._
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[graft.streaming.StreamTxn].collect().sortBy(_.ts_micros)
    val split = tx.map(_.ts_micros).apply(tx.length / 2)
    val (b1, b2) = tx.partition(_.ts_micros <= split)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[graft.streaming.StreamTxn]
    val query = StreamingFeatures.graphDegrees(input.toDS())
      .writeStream.format("memory").queryName("gdeg").outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("gdeg")
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

    // batch oracle: per-customer running distinct counts over the
    // time-ordered history (scala fold per key)
    val expected = tx.groupBy(_.customer_id).iterator.flatMap { case (cid, es) =>
      val sorted = es.sortBy(_.ts_micros)
      val ms = scala.collection.mutable.HashSet.empty[String]
      val is = scala.collection.mutable.HashSet.empty[String]
      sorted.map { e =>
        ms += e.merchant_id; is += e.ip_address
        (cid, e.ts_micros) -> (ms.size.toLong, is.size.toLong, (ms.size + is.size).toLong)
      }
    }.toMap

    assert(streamed == expected)
  }

  test("streaming session windows (append mode) == batch session_window once the watermark closes them") {
    import spark.implicits._
    val real = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), col("event_timestamp"), col("amount"))
      .as[(Long, java.sql.Timestamp, Double)].collect()
    val maxTs = real.map(_._2.getTime).max
    // one far-future sentinel per customer: pushes the watermark past
    // every real session's end+gap so append mode emits them all; the
    // sentinels' own (still-open) sessions are withheld
    val sentinels = real.map(_._1).distinct
      .map(c => (c, new java.sql.Timestamp(maxTs + 2L * 86400 * 1000), -1.0))

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, java.sql.Timestamp, Double)]
    val agg = input.toDS().toDF("customer_id", "event_timestamp", "amount")
      .withWatermark("event_timestamp", "10 seconds")
      .groupBy(col("customer_id"),
        session_window(col("event_timestamp"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), round(sum(col("amount")), 6).as("amt"))
      .select(col("customer_id"), col("sw.start").as("st"), col("n"), col("amt"))
    val query = agg.writeStream.format("memory").queryName("sess")
      .outputMode("append").start()
    try {
      input.addData(real.toIndexedSeq); query.processAllAvailable()
      input.addData(sentinels.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("sess")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = Tables.transactions(spark, "/root/testdata/sf0.001")
      .groupBy(col("customer_id"),
        session_window(col("event_timestamp"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"), round(sum(col("amount")), 6).as("amt"))
      .select(col("customer_id"), col("sw.start"), col("n"), col("amt"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed == batch,
      s"missing: ${(batch -- streamed).take(3)}; extra: ${(streamed -- batch).take(3)}")
  }

  test("streaming novelty: first-seen flags and counts == batch distinct merchants (q110 twin)") {
    import spark.implicits._
    import graft.streaming.NoveltyProcessor
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    val split = tx.map(_.ts_micros).apply(tx.length / 2)
    val (b1, b2) = tx.partition(_.ts_micros <= split)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = NoveltyProcessor.screen(input.toDS())
      .writeStream.format("memory").queryName("novelty").outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("novelty").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getBoolean(3), r.getLong(4)))
    assert(rows.length == tx.length) // one emission per event
    val batchDistinct = tx.groupBy(_.customer_id)
      .map { case (c, es) => c -> es.map(_.merchant_id).toSet.size.toLong }
    rows.groupBy(_._1).foreach { case (c, es) =>
      // first_seen fires exactly once per (customer, merchant), state
      // survives the micro-batch boundary, and the final counter equals
      // the batch distinct-merchant count
      assert(es.count(_._4) == batchDistinct(c), s"customer $c")
      assert(es.map(_._5).max == batchDistinct(c), s"customer $c")
      es.filter(_._4).groupBy(_._3).foreach { case (m, hits) =>
        assert(hits.length == 1, s"customer $c merchant $m flagged twice")
      }
    }
  }

  test("streaming mirror detector: cumulative pair totals == batch mirror pairs (q118 twin)") {
    import spark.implicits._
    import graft.streaming.MirrorProcessor
    // planted mirrors: repeated exact amounts across merchants, one pair
    // pushed outside the 1h window, one same-merchant repeat (no pair)
    val fixture = Seq(
      (1L, 1L, "m1", 25.00, 0L), (1L, 2L, "m2", 25.00, 600L),
      (1L, 3L, "m3", 25.00, 1200L),    // 3 cross-merchant pairs so far
      (1L, 4L, "m1", 25.00, 1800L),    // pairs with m2,m3 (m1 same) -> +2
      (1L, 5L, "m2", 99.99, 2000L), (1L, 6L, "m2", 99.99, 2100L), // same merchant: 0
      (2L, 7L, "m1", 50.00, 0L), (2L, 8L, "m2", 50.00, 7200L),    // out of window: 0
      (3L, 9L, "m1", 10.00, 0L), (3L, 10L, "m2", 10.00, 3600L)    // boundary: in window
    ).map { case (c, id, m, a, s) => (c, id, m, a, s * 1000000L) }
      .toDF("customer_id", "transaction_id", "merchant_id", "amount", "ts_micros")
    val tx = fixture.withColumn("event_timestamp",
      timestamp_micros(col("ts_micros")))
    val stream = fixture
      .select(col("customer_id"), col("ts_micros"), col("amount"),
        col("merchant_id"), lit("ip").as("ip_address"),
        col("transaction_id")).as[StreamTxn]
      .collect().sortBy(_.ts_micros)
    val (b1, b2) = stream.partition(_.ts_micros <= 1200L * 1000000L)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = MirrorProcessor.screen(input.toDS(), windowSeconds = 3600L)
      .writeStream.format("memory").queryName("mirror").outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("mirror").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3), r.getLong(4)))
    assert(rows.length == stream.length)
    val finalTotals = rows.groupBy(_._1)
      .map { case (c, es) => c -> es.maxBy(_._2)._4 }
    val batch = graft.ops.AmlPatterns.mirrorPairs(tx, windowSeconds = 3600L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // batch emits only customers with >= 1 pair; streaming totals agree
    assert(finalTotals(1L) == batch(1L) && batch(1L) == 5L)
    assert(finalTotals(3L) == batch(3L) && batch(3L) == 1L)
    assert(finalTotals(2L) == 0L && !batch.contains(2L))
  }

  test("streaming structuring screen: final state per customer == batch screen (q79 twin)") {
    import spark.implicits._
    import graft.streaming.StructuringProcessor
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    val split = tx.map(_.ts_micros).apply(tx.length / 2)
    val (b1, b2) = tx.partition(_.ts_micros <= split)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StructuringProcessor.screen(input.toDS())
      .writeStream.format("memory").queryName("struct").outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val rows = spark.table("struct").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5)))
    // one emission per input event; counters never decrease per customer
    assert(rows.length == tx.length)
    rows.groupBy(_._1).foreach { case (_, es) =>
      val ordered = es.sortBy(_._4) // by running total n
      assert(ordered.map(_._3).sameElements(ordered.map(_._3).sorted))
    }
    // the final emission per customer carries full-history counters ==
    // the batch screen's row
    val last = rows.groupBy(_._1).map { case (c, es) => c -> es.maxBy(_._4) }
    val batch = graft.ops.AmlPatterns
      .structuring(Tables.transactions(spark, "/root/testdata/sf0.001"), 100.0)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3), r.getBoolean(4))).toMap
    assert(last.size == batch.size)
    last.foreach { case (c, (_, _, band, n, share, flag)) =>
      val (bBand, bShare, bFlag) = batch(c)
      assert(band == bBand && flag == bFlag, s"customer $c")
      assert(math.abs(share - bShare) < 1e-12, s"customer $c")
      assert(n == tx.count(_.customer_id == c))
    }
  }

  test("streaming dedup gate: first arrival kept, later dups rejected == batch exactGroups (q28 twin)") {
    import spark.implicits._
    import graft.streaming.{DedupProcessor, StreamDoc}
    val docsDf = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = docsDf
      .select(md5(col("text")).as("fp"), col("doc_id"),
        col("doc_id").as("ts_micros")) // arrival order = id order
      .as[StreamDoc].collect().sortBy(_.doc_id)
    val (b1, b2) = docs.partition(_.doc_id < docs(docs.length / 2).doc_id)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamDoc]
    val query = DedupProcessor.screen(input.toDS())
      .writeStream.format("memory").queryName("dedupgate").outputMode("append").start()
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val got = spark.table("dedupgate").collect()
      .map(r => r.getLong(1) -> (r.getBoolean(3), r.getLong(4))).toMap
    val batch = graft.scale.Dedup.exactGroups(docsDf, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == docs.length) // one decision per doc
    // id-ordered replay makes first-arrival == min-id: canonicals match
    // the batch operator, keep fires exactly for the canonical row, and
    // state survives the micro-batch boundary (dups of a batch-1 doc
    // arriving in batch 2 still point at the batch-1 canonical)
    got.foreach { case (id, (keep, canon)) =>
      assert(canon == batch(id), s"doc $id")
      assert(keep == (id == canon), s"doc $id")
    }
    assert(got.values.count(_._1) == batch.values.toSet.size)
  }

  test("near-dup gate: stream flags against a frozen index == batch twin; planted copies caught") {
    import spark.implicits._
    import graft.streaming.{NearDupGate, QualityDoc}
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val index = NearDupGate.buildIndex(
      corpus.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text")).persist()
    // incoming delta: held-out docs + planted exact copies of index docs
    val held = corpus.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).as[QualityDoc].collect()
    val planted = corpus.where(col("doc_id") % 10 =!= 0)
      .orderBy(col("doc_id")).limit(3)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .as[QualityDoc].collect()
    val delta = (held ++ planted).sortBy(_.doc_id)
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getLong(0) -> (r.getInt(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getBoolean(5))).toMap
    val batch = asMap(NearDupGate.flagged(delta.toSeq.toDS(), index).collect())

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val q = NearDupGate.flagged(input.toDS(), index)
      .writeStream.format("memory").queryName("neardup").outputMode("append").start()
    try {
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1.toIndexedSeq); q.processAllAvailable()
      input.addData(b2.toIndexedSeq); q.processAllAvailable()
    } finally q.stop()
    val got = asMap(spark.table("neardup").collect())
    assert(got.size == delta.length)
    assert(got == batch, "batch==stream parity across a micro-batch boundary")
    // exact copies of index docs: hamming 0, flagged, nonzero candidates
    planted.foreach { d =>
      val (n, h, _, f) = got(d.doc_id)
      assert(n > 0 && h == 0 && f, s"planted copy ${d.doc_id}")
    }
    index.unpersist()
  }

  test("near-dup gate wide64: brute-force parity, tighter candidate rows, config guards") {
    import spark.implicits._
    import graft.streaming.{NearDupGate, QualityDoc}
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val ixDocs = corpus.where(col("doc_id") % 10 =!= 0)
    val cfg = NearDupGate.wide64
    val ix32 = NearDupGate.buildIndex(ixDocs, col("doc_id"), col("text")).persist()
    val ix64 = NearDupGate.buildIndex(ixDocs, col("doc_id"), col("text"), cfg).persist()
    // the parameterization's point: 16-bit keys spread the same corpus
    // over 256x the buckets, so the largest (band, key) candidate row
    // SHRINKS — the corpus/1024 growth the r13 verdict flagged
    val max32 = ix32.agg(max(size(col("cands")))).head.getInt(0)
    val max64 = ix64.agg(max(size(col("cands")))).head.getInt(0)
    info(s"max candidate row: 4x8 -> $max32, wide64 -> $max64")
    assert(max64 < max32, s"wide64 must shrink the largest cell ($max64 vs $max32)")
    // brute-force ground truth over the full index (64-bit hamming):
    // pigeonhole guarantees every pair at hamming <= bands-1 surfaces,
    // so the gate decision must equal the exhaustive scan's
    val held = corpus.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("text")).as[QualityDoc].collect()
    val planted = ixDocs.orderBy(col("doc_id")).limit(3)
      .select((col("doc_id") + 100000L).as("doc_id"), col("text"))
      .as[QualityDoc].collect()
    val delta = (held ++ planted).sortBy(_.doc_id)
    val got = NearDupGate.flagged(delta.toSeq.toDS(), ix64, maxHamming = 3, cfg)
      .collect().map(r => r.getLong(0) -> (
        if (r.isNullAt(3)) -1 else r.getInt(3), r.getBoolean(5))).toMap
    val ixFp = graft.scale.Dedup.simhash64(ixDocs, col("doc_id"), col("text"))
      .collect().map(_.getLong(1))
    val deltaFp = graft.scale.Dedup.simhash64(delta.toSeq.toDS().toDF(),
        col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    deltaFp.foreach { case (id, fp) =>
      val brute = ixFp.map(f => java.lang.Long.bitCount(f ^ fp)).min
      val (h, flag) = got(id)
      assert(flag == (brute <= 3), s"doc $id: gate $flag vs brute min $brute")
      if (flag) assert(h == brute, s"doc $id: banded min $h vs brute $brute")
    }
    assert(planted.forall(d => got(d.doc_id)._2), "planted copies caught")
    // layout guards: the banding must tile the fingerprint, and the
    // threshold must leave a band intact (the pigeonhole contract)
    intercept[IllegalArgumentException] {
      NearDupGate.Config(bands = 4, bandBits = 8, wide = true)
    }
    intercept[IllegalArgumentException] {
      NearDupGate.flagged(delta.toSeq.toDS(), ix64, maxHamming = 4, cfg).collect()
    }
    ix32.unpersist(); ix64.unpersist()
  }

  test("semantic gate: stream flags against the frozen embedding index == semDedupDelta") {
    import spark.implicits._
    import graft.streaming.{EmbDoc, SemanticGate}
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val index = emb.where(col("vec_id") % 10 =!= 0)
    val delta = emb.where(col("vec_id") % 10 === 0)
    val (q, members) = SemanticGate.fit(index, k = 8, iters = 1)
    members.persist()
    def asMap(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getDouble(4)),
        if (r.isNullAt(5)) None else Some(r.getLong(5)),
        r.getBoolean(6))).toMap
    // the q265 batch operator is the ground truth — the gate must be
    // bitwise-identical on the same split
    val batch = asMap(graft.scale.Similarity
      .semDedupDelta(index, delta, k = 8, iters = 1, tau = 0.30).collect())
    val docs = delta.select(col("vec_id"), col("embedding"))
      .as[EmbDoc].collect().sortBy(_.vec_id)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[EmbDoc]
    val query = SemanticGate.flagged(input.toDS(), q, members, tau = 0.30)
      .writeStream.format("memory").queryName("semgate").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()
    val streamed = asMap(spark.table("semgate").collect())
    assert(streamed.size == docs.length)
    assert(streamed == batch, "gate == q265 semDedupDelta, bitwise")
    // the gate discriminates on this corpus (some dups, some kept)
    assert(streamed.values.exists(!_._6) && streamed.values.exists(_._6))
    members.unpersist()
  }

  test("markov sequence scorer: streamed NLLs equal the batch model across a batch boundary") {
    import spark.implicits._
    val txDf = Tables.transactions(spark, "/root/testdata/sf0.001")
    val model = graft.ops.AmlPatterns.markovFit(txDf)
    assert(model.vocab == 5 && model.trans.nonEmpty)
    // unseen transitions score like count-0 Laplace cells, never reject
    assert(model.nll("no_such", "alsonot") == math.log(model.vocab.toDouble))

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    // the processor orders by ts within a customer; the fixture must have
    // no same-customer ts ties or batch (ts, txn_id) order could diverge
    assert(tx.groupBy(e => (e.customer_id, e.ts_micros)).forall(_._2.length == 1))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.markovScores(input.toDS(), model)
      .writeStream.format("memory").queryName("mkv").outputMode("append").start()
    val (b1, b2) = tx.splitAt(tx.length / 2) // cuts customers mid-sequence
    try {
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("mkv").as[MarkovScore].collect()
      .map(s => (s.customer_id, s.ts_micros) -> s).toMap
    val expected = tx.groupBy(_.customer_id).values.flatMap { es =>
      es.sortBy(_.ts_micros).sliding(2).collect { case Array(a, b) =>
        (b.customer_id, b.ts_micros) -> (a.merchant_id, b.merchant_id) }
    }.toMap
    assert(streamed.keySet == expected.keySet) // first events emit nothing
    expected.foreach { case (k, (pm, cm)) =>
      val s = streamed(k)
      assert(s.prev_merchant == pm && s.merchant_id == cm, k.toString)
      assert(s.nll == model.nll(pm, cm), k.toString)
    }
    // per-customer means reproduce the batch q193 operator
    val batch = graft.ops.AmlPatterns.markovNll(txDf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val perCust = streamed.values.groupBy(_.customer_id)
    assert(perCust.keySet == batch.keySet)
    perCust.foreach { case (c, ss) =>
      val (n, avgNll) = batch(c)
      assert(ss.size == n, s"customer $c")
      assert(math.abs(ss.map(_.nll).sum / ss.size - avgNll) < 1e-12, s"customer $c")
    }
  }

  test("trained LR scores the streaming feature vector identically to batch") {
    import spark.implicits._
    // the online path must serve the TRAINED model, not just the fixed-
    // weight heuristic: fit on the batch feature view, then apply the
    // same literal margin to the streaming vector — scores must agree
    // wherever the feature vectors do (the 6dp grain the equivalence
    // test above already pins)
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
    val model = graft.scoring.Trainer.fitLogistic(
      batchF, feats, col("amount") > 100, iters = 5, lr = 0.5)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.scoredCustomerFeatures(input.toDS(), model)
      .writeStream.format("memory").queryName("served").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    // the emitted model columns ARE the model: margin re-derived from the
    // emitted (unrounded) feature columns is bitwise-identical, and the
    // probability is its sigmoid
    val served = spark.table("served")
    assert(served.where(col("model_margin") =!=
      graft.scoring.Trainer.margin(model)).count() == 0)
    assert(served.where(col("model_probability") =!=
      lit(1.0) / (lit(1.0) + exp(-col("model_margin")))).count() == 0)

    // identical rounded feature grain on both paths -> identical margins
    def scores(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select(col("customer_id") +: col("ts_micros") +:
          feats.map(f => round(col(f), 6).as(f)): _*)
        .withColumn("score", graft.scoring.Trainer.margin(model))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("score")).toMap
    val streamed = scores(served)
    val batch = scores(batchF)
    assert(streamed.size == batch.size)
    val diffs = batch.collect { case (k, v) if streamed.get(k) != Some(v) => k }
    assert(diffs.isEmpty, s"margin mismatch at ${diffs.take(3)}")

    // a model fit on columns the stream doesn't emit is rejected at
    // plan-build time, not at runtime inside a running query
    val bogus = model.copy(features = Seq("txn_count_1h", "no_such_feature"),
      means = Seq(0.0, 0.0), stds = Seq(1.0, 1.0), weights = Seq(1.0, 1.0))
    val err = intercept[IllegalArgumentException] {
      StreamingFeatures.scoredCustomerFeatures(input.toDS(), bogus)
    }
    assert(err.getMessage.contains("no_such_feature"))
  }

  test("weighted-LR and linear-SVM scorers serve the stream identically to batch (q217/q223 twins)") {
    import spark.implicits._
    // the two remaining fitted-model families behind the reference's
    // /predict: the class-weighted logistic (q217's model — same
    // LogisticModel shape, served by scoredCustomerFeatures) and the
    // hinge-trained linear SVM (q223's — svmScoredFeatures, margin +
    // 0-margin class, no fake probability)
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
    val wlr = graft.scoring.Trainer.fitLogisticWeighted(
      batchF, feats, col("amount") > 100, Seq(5.0), iters = 4, lr = 0.5).head
    val svm = graft.scoring.Trainer.fitLinearSvm(
      batchF, feats, col("amount") > 100, iters = 4, lr = 0.5, lambda = 0.01)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val inW = MemoryStream[StreamTxn]
    val qW = StreamingFeatures.scoredCustomerFeatures(inW.toDS(), wlr)
      .writeStream.format("memory").queryName("served_wlr").outputMode("append").start()
    try { inW.addData(tx.toIndexedSeq); qW.processAllAvailable() } finally qW.stop()
    val inS = MemoryStream[StreamTxn]
    val qS = StreamingFeatures.svmScoredFeatures(inS.toDS(), svm)
      .writeStream.format("memory").queryName("served_svm").outputMode("append").start()
    try { inS.addData(tx.toIndexedSeq); qS.processAllAvailable() } finally qS.stop()

    def scores(df: org.apache.spark.sql.DataFrame, m: graft.scoring.Trainer.LogisticModel)
        : Map[(Long, Long), Double] =
      df.select(col("customer_id") +: col("ts_micros") +:
          feats.map(f => round(col(f), 6).as(f)): _*)
        .withColumn("score", graft.scoring.Trainer.margin(m))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("score")).toMap

    for ((name, m) <- Seq("served_wlr" -> wlr, "served_svm" -> svm)) {
      val served = spark.table(name)
      val streamed = scores(served, m)
      val batch = scores(batchF, m)
      assert(streamed.size == batch.size, name)
      val diffs = batch.collect { case (k, v) if streamed.get(k) != Some(v) => k }
      assert(diffs.isEmpty, s"$name margin mismatch at ${diffs.take(3)}")
    }
    // the SVM emit carries margin + hard class and nothing pretending to
    // be a probability
    val svmServed = spark.table("served_svm")
    assert(svmServed.columns.contains("svm_margin") &&
      svmServed.columns.contains("svm_class") &&
      !svmServed.columns.exists(_.contains("probability")))
    assert(svmServed.where(col("svm_class") =!=
      (col("svm_margin") > 0).cast("long")).count() == 0)
    // plan-build-time feature gate, as for every served model
    val bogus = svm.copy(features = Seq("txn_count_1h", "no_such_feature"),
      means = Seq(0.0, 0.0), stds = Seq(1.0, 1.0), weights = Seq(1.0, 1.0))
    val err = intercept[IllegalArgumentException] {
      StreamingFeatures.svmScoredFeatures(inS.toDS(), bogus)
    }
    assert(err.getMessage.contains("no_such_feature"))
  }

  test("model hot-swap: a version promoted between micro-batches flips scores at the batch boundary") {
    import spark.implicits._
    import graft.scoring.{ModelStore, Trainer}
    import graft.streaming.HotSwapScorer
    // the retrainer lifecycle: v1 serves, a new version lands in the
    // store BETWEEN batches, the NEXT batch scores with it — no restart
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h")
    val v1 = Trainer.LogisticModel(feats, Seq(0.0, 0.0), Seq(1.0, 1.0),
      Seq(0.5, -0.25), 0.1, 1, 0.5)
    val v2 = v1.copy(weights = Seq(-1.0, 2.0), intercept = -0.4)
    val store = java.nio.file.Files.createTempDirectory("swapstore")
      .resolve("models").toString
    ModelStore.table(spark, ModelStore.logisticRows("fraud_lr", 1L, v1))
      .write.parquet(store)
    val swap = new HotSwapScorer(store, "fraud_lr")

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(t => (t.ts_micros, t.transaction_id))
    val (half1, half2) = tx.splitAt(tx.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val out = collection.mutable.ArrayBuffer[(Long, Long, Long, Double)]()
    val query = StreamingFeatures.customerFeatures(input.toDS()).toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= swap.scoreBatch(b)
          .select(col("customer_id"), col("ts_micros"), col("model_version"),
            col("model_score"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        ()
      }
      .start()
    try {
      input.addData(half1.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(1L))
      // promote v2 between batches — the swap point
      ModelStore.table(spark, ModelStore.logisticRows("fraud_lr", 2L, v2))
        .write.mode("append").parquet(store)
      input.addData(half2.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(2L))
    } finally query.stop()

    // batch twin on the SAME events: every row scored by the version
    // serving at its batch, matching the batch scorer bitwise
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        feats.map(col): _*)
    val batchScores = batchF
      .withColumn("m1", Trainer.margin(v1)).withColumn("m2", Trainer.margin(v2))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getAs[Double]("m1"), r.getAs[Double]("m2"))))
      .toMap
    val half1Keys = half1.map(t => (t.customer_id, t.ts_micros)).toSet
    assert(out.size == tx.length)
    var flipped = 0
    out.foreach { case (cid, ts, ver, margin) =>
      val (m1, m2) = batchScores((cid, ts))
      if (half1Keys.contains((cid, ts))) {
        assert(ver == 1L && margin == m1, s"v1 row ($cid,$ts)")
      } else {
        assert(ver == 2L && margin == m2, s"v2 row ($cid,$ts)")
        if (margin != m1) flipped += 1
      }
    }
    // the promotion visibly changed the served scores, not just the stamp
    assert(flipped > 0)
  }

  test("Platt-calibrated NB posterior serves the stream identically to batch (q235/q241 twin)") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.intDiv
    // batch twin of the served projection: the NB features derived from
    // the raw event grain (hour / day-index / amount bucket), the
    // collected literal-chain NB model, the 4dp delta the calibrator is
    // fit on, and the calibrated risk_score
    val batchE = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"),
        unix_micros(col("event_timestamp")).as("ts_micros"), col("amount"))
      .withColumn("hb", hour(timestamp_micros(col("ts_micros"))))
      .withColumn("dowi", pmod(intDiv(col("ts_micros"), lit(86400000000L)),
        lit(7L)))
      .withColumn("vb", least(floor(col("amount") / 100).cast("long"), lit(5L)))
    val nb = graft.scoring.Models.fitNaiveBayes(
      batchE, Seq("hb", "dowi", "vb"), col("amount") > 100)
    val batchScored = batchE.withColumn("d4", graft.queries.r6(nb.delta))
    val calib = graft.scoring.Trainer.fitLogistic(
      batchScored, Seq("d4"), col("amount") > 100, iters = 4, lr = 0.5)
    val batch = batchScored
      .withColumn("risk_score",
        graft.queries.r6(graft.scoring.Trainer.probability(calib)))
      .select(col("customer_id"), col("ts_micros"), col("d4"), col("risk_score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.nbCalibratedScoredFeatures(input.toDS(), nb, calib)
      .writeStream.format("memory").queryName("served_platt")
      .outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val served = spark.table("served_platt")
    // the emitted columns ARE the contract: d4 is the rounded literal
    // chain, risk_score is the calibrator's rounded sigmoid over it
    assert(served.where(col("d4") =!= graft.queries.r6(col("nb_delta"))).count() == 0)
    assert(served.where(col("risk_score") =!= graft.queries.r6(
      graft.scoring.Trainer.probability(calib))).count() == 0)
    val streamed = served
      .select(col("customer_id"), col("ts_micros"), col("d4"), col("risk_score"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    assert(streamed.size == batch.size)
    val diffs = batch.collect { case (k, v) if streamed.get(k) != Some(v) => k }
    assert(diffs.isEmpty, s"calibrated score mismatch at ${diffs.take(3)}")

    // plan-build-time gates: NB features and calibrator features must
    // exist on the (derived) stream schema
    val badNb = nb.copy(features = Seq("hb", "no_such_bucket"))
    val e1 = intercept[IllegalArgumentException] {
      StreamingFeatures.nbCalibratedScoredFeatures(input.toDS(), badNb, calib)
    }
    assert(e1.getMessage.contains("no_such_bucket"))
    val badCal = calib.copy(features = Seq("not_d4"))
    val e2 = intercept[IllegalArgumentException] {
      StreamingFeatures.nbCalibratedScoredFeatures(input.toDS(), nb, badCal)
    }
    assert(e2.getMessage.contains("not_d4"))
  }

  test("boosted stump chain scores the streaming feature vector identically to batch") {
    import spark.implicits._
    // the q180/q191 staged model served online: fit the chain on the
    // batch feature view, then apply the same literal CASE chain to the
    // streaming vector — scores agree wherever the feature vectors do
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
      .localCheckpoint() // read 3x/round by the boosting fit
    val model = graft.scoring.Boosting.fit(
      batchF, feats, col("amount") > 100, rounds = 3, rate = 0.5)
    assert(model.rounds.size == 3)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.boostScoredFeatures(input.toDS(), model)
      .writeStream.format("memory").queryName("boosted").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    // the emitted column IS the chain: re-deriving it from the emitted
    // (unrounded) feature columns is bitwise-identical
    val served = spark.table("boosted")
    assert(served.count() == tx.length)
    assert(served.where(col("boost_score") =!=
      graft.scoring.Boosting.score(model)).count() == 0)

    // identical rounded feature grain on both paths -> identical scores
    def scores(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Double] =
      df.select(col("customer_id") +: col("ts_micros") +:
          feats.map(f => round(col(f), 6).as(f)): _*)
        .withColumn("score", graft.scoring.Boosting.score(model))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Double]("score")).toMap
    val streamed = scores(served)
    val batch = scores(batchF)
    assert(streamed.size == batch.size)
    val diffs = batch.collect { case (k, v) if streamed.get(k) != Some(v) => k }
    assert(diffs.isEmpty, s"score mismatch at ${diffs.take(3)}")

    // a chain whose stump reads a column the stream doesn't emit is
    // rejected at plan-build time
    val bogus = model.copy(rounds = model.rounds.head
      .copy(feature = "no_such_feature") +: model.rounds.tail)
    val err = intercept[IllegalArgumentException] {
      StreamingFeatures.boostScoredFeatures(input.toDS(), bogus)
    }
    assert(err.getMessage.contains("no_such_feature"))
  }

  test("AdaBoost ensemble votes the streaming feature vector identically to batch") {
    import spark.implicits._
    // the q216 SAMME chain served online: fit on the batch view with a
    // 1-in-9 noisy label (SAMME refuses separable data), then apply the
    // same literal stump/alpha chain to the streaming vector
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
      .localCheckpoint() // one candidate pass per boosting round
    val label = ((col("txn_amount_sum_1h") > 200) =!=
      (pmod(col("ts_micros"), lit(9L)) === 0L)).cast("long")
    val model = graft.scoring.AdaBoost.fit(batchF, feats, label, rounds = 2)
    assert(model.size == 2 && model.forall(r => r.err > 0.0 && r.err < 0.5))

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.adaBoostScoredFeatures(input.toDS(), model)
      .writeStream.format("memory").queryName("adaboosted").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    // the emitted columns ARE the chain: re-deriving them from the
    // emitted feature columns is bitwise-identical
    val served = spark.table("adaboosted")
    assert(served.count() == tx.length)
    assert(served.where(col("ada_vote") =!=
      graft.scoring.AdaBoost.voteScore(model)).count() == 0)
    assert(served.where(col("ada_class") =!=
      graft.scoring.AdaBoost.classify(model)).count() == 0)

    // identical feature grain on both paths -> identical classes
    def classes(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select(col("customer_id"), col("ts_micros"),
          graft.scoring.AdaBoost.classify(model).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val streamed = classes(served)
    val batch = classes(batchF)
    assert(streamed.size == batch.size)
    val diffs = batch.collect { case (k, v) if streamed.get(k) != Some(v) => k }
    assert(diffs.isEmpty, s"class mismatch at ${diffs.take(3)}")

    // a stump on a column the stream doesn't emit is rejected at
    // plan-build time
    val bogus = model.head.copy(feature = "no_such_feature") +: model.tail
    val err = intercept[IllegalArgumentException] {
      StreamingFeatures.adaBoostScoredFeatures(input.toDS(), bogus)
    }
    assert(err.getMessage.contains("no_such_feature"))
  }

  test("forest votes the streaming feature vector identically to batch") {
    import spark.implicits._
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: col("transaction_id") +: feats.map(col): _*)
      .localCheckpoint() // two fused candidate passes re-read it
    // full feature set per member: the low-cardinality count features
    // leave single-valued root sides under 2-feature subsets at this SF
    // (subset rotation is exercised in ModelsSpec); samples still differ
    val forest = graft.scoring.Forest.fit(batchF, feats, col("amount") > 100,
      trees = 3,
      t => graft.scale.Splits.bucket(col("transaction_id"), s"sfor$t", 3) =!= 0,
      _ => feats)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.forestScoredFeatures(input.toDS(), forest)
      .writeStream.format("memory").queryName("fvote").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val served = spark.table("fvote")
    assert(served.count() == tx.length)
    // votes re-derived from the emitted feature columns are identical,
    // and the flag is exactly the majority condition
    assert(served.where(col("forest_votes") =!=
      graft.scoring.Forest.votes(forest)).count() == 0)
    assert(served.where(col("forest_flag") =!=
      (col("forest_votes") * 2 > forest.size)).count() == 0)
    // votes are integer counts and match the batch vote distribution
    def dist(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select(col("customer_id"), col("ts_micros"),
          graft.scoring.Forest.votes(forest).as("v"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dist(served) == dist(batchF))
  }

  test("LIME explanations ship with streamed predictions, batch == stream") {
    import spark.implicits._
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
      .localCheckpoint() // fit passes + the batch-side comparison re-read it
    val model = graft.scoring.Boosting.fitTrees(batchF, feats,
      col("amount") > 100, rounds = 2, rate = 0.5)
    val bgRow = batchF.agg(
      graft.queries.r6(avg(col(feats(0)).cast("double"))),
      graft.queries.r6(avg(col(feats(1)).cast("double"))),
      graft.queries.r6(avg(col(feats(2)).cast("double")))).head()
    val bg = (0 until 3).map(bgRow.getDouble)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.limeScoredFeatures(input.toDS(), model, feats, bg)
      .writeStream.format("memory").queryName("lime").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val served = spark.table("lime")
    assert(served.count() == tx.length)
    // additive identity of the surrogate at the all-keep corner:
    // intercept + Σ betas == local prediction whenever the fit is exact,
    // and R² stays in [0, 1]
    val rows = served.select(col("lime_pred"), col("lime_intercept"),
      col(s"lime_${feats(0)}"), col(s"lime_${feats(1)}"),
      col(s"lime_${feats(2)}"), col("lime_r2")).collect()
    rows.foreach { r =>
      val localPred = r.getDouble(1) + r.getDouble(2) + r.getDouble(3) + r.getDouble(4)
      val r2 = r.getDouble(5)
      assert(r2 >= -1e-12 && r2 <= 1.0 + 1e-12, s"r2=$r2")
      if (r2 == 1.0)
        assert(math.abs(localPred - r.getDouble(0)) < 1e-9,
          s"exact surrogate must interpolate: $localPred vs ${r.getDouble(0)}")
    }
    // batch-vs-stream equality of the full explanation vector
    def dist(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double, Double)] = {
      val scoreP = graft.scoring.Lime.maskedTreeScore(model, feats,
        j => lit(bg(j))) _
      graft.scoring.Lime.surrogate(df, 3, scoreP)
        .select(col("customer_id"), col("ts_micros"), col("__s7"), col("__b0"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    }
    val streamSide = served
      .select(col("customer_id"), col("ts_micros"), col("lime_pred"),
        col(s"lime_${feats(0)}"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3))).toSet
    assert(streamSide == dist(batchF))
  }

  test("deep tree predicts the streaming feature vector identically to batch") {
    import spark.implicits._
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
      .localCheckpoint() // one candidate pass per level re-reads it
    val model = graft.scoring.Trees.fitDepth(batchF, feats,
      col("amount") > 100, maxDepth = 4)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val query = StreamingFeatures.deepTreeScoredFeatures(input.toDS(), model)
      .writeStream.format("memory").queryName("dtree").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val served = spark.table("dtree")
    assert(served.count() == tx.length)
    // prediction and leaf path re-derived from the emitted feature
    // columns are identical — the sink-side CASE chains add nothing
    assert(served.where(col("tree_pred") =!=
      graft.scoring.Trees.predict(model)).count() == 0)
    assert(served.where(col("tree_leaf") =!=
      graft.scoring.Trees.leafPath(model)).count() == 0)
    // every served row lands on a terminal leaf of the fitted tree
    val leafSet = model.leaves.map(_._1).toSet
    val servedLeaves = served.select(col("tree_leaf")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(servedLeaves.subsetOf(leafSet), s"$servedLeaves not in $leafSet")
    // batch-vs-stream prediction distribution matches exactly
    def dist(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select(col("customer_id"), col("ts_micros"),
          graft.scoring.Trees.predict(model).as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dist(served) == dist(batchF))
  }

  test("best-first (leaf-wise) tree serves through the deep-tree path with batch parity") {
    import spark.implicits._
    val feats = Seq("txn_count_1h", "txn_amount_sum_1h", "unique_ips_1h")
    val batchF = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id") +: unix_micros(col("event_timestamp")).as("ts_micros") +:
        col("amount") +: feats.map(col): _*)
      .localCheckpoint()
    val bft = graft.scoring.Trees.fitBestFirst(batchF, feats,
      col("amount") > 100, maxLeaves = 4, maxDepth = 3)

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    // a BestFirstTree IS a DeepTree (path-keyed splits) — the existing
    // serving path takes it unchanged, closing /predict parity for the
    // leaf-wise growth strategy too
    val query = StreamingFeatures.deepTreeScoredFeatures(input.toDS(), bft.tree)
      .writeStream.format("memory").queryName("bftree").outputMode("append").start()
    try {
      input.addData(tx.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val served = spark.table("bftree")
    assert(served.count() == tx.length)
    assert(served.where(col("tree_pred") =!=
      graft.scoring.Trees.predict(bft.tree)).count() == 0)
    val leafSet = bft.tree.leaves.map(_._1).toSet
    val servedLeaves = served.select(col("tree_leaf")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(servedLeaves.subsetOf(leafSet), s"$servedLeaves not in $leafSet")
    def dist(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
      df.select(col("customer_id"), col("ts_micros"),
          graft.scoring.Trees.predict(bft.tree).as("p"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(dist(served) == dist(batchF))
  }

  test("hot-swap zoo: AdaBoost v1 -> torn boosted-tree v2 rejected -> clean v3 flips family at the batch boundary") {
    import spark.implicits._
    import graft.scoring.{AdaBoost, Boosting, ModelStore}
    import graft.streaming.HotSwapScorer
    // v1: a SAMME stump ensemble; v3: a boosted depth-2 TREE model — the
    // reference retrainer reloads whatever family won the retrain
    // (`feedback/feedback_system.py:308-388`), so a promotion may change
    // estimator class and the stream must follow without a restart
    val ab = Seq(
      AdaBoost.Round("txn_count_1h", 2.0, 0, 1, 0.3, 2.3333, 0.8473),
      AdaBoost.Round("txn_amount_sum_1h", 500.0, 1, 0, 0.4, 1.5, 0.4055))
    val btr = Boosting.TreeModel(0.25, 0.5, Seq(
      Boosting.TreeRound("txn_count_1h", 1.0,
        "txn_amount_sum_1h", 250.0, "txn_amount_sum_1h", 800.0,
        0.1, -0.2, 0.3, -0.4),
      Boosting.TreeRound("txn_amount_sum_1h", 100.0,
        "txn_count_1h", 2.0, "txn_count_1h", 3.0,
        -0.05, 0.15, -0.25, 0.35)))
    val store = java.nio.file.Files.createTempDirectory("zoostore")
      .resolve("models").toString
    ModelStore.table(spark, ModelStore.withManifest(
        ModelStore.adaBoostRows("fraud", 1L, ab)))
      .write.parquet(store)
    val swap = new HotSwapScorer(store, "fraud")

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(t => (t.ts_micros, t.transaction_id))
    val third = tx.length / 3
    val (part1, rest) = tx.splitAt(third)
    val (part2, part3) = rest.splitAt(third)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val out = collection.mutable.ArrayBuffer[(Long, Long, Long, String, Double)]()
    val query = StreamingFeatures.customerFeatures(input.toDS()).toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= swap.scoreBatch(b)
          .select(col("customer_id"), col("ts_micros"), col("model_version"),
            col("model_kind"), col("model_score"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3),
            r.getDouble(4)))
        ()
      }
      .start()
    try {
      input.addData(part1.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(1L) && swap.currentKind == Some("adaboost"))
      // TORN promotion: version 2 lands with one round row missing but
      // its manifest declaring the full count — the swap must reject the
      // partial slice and keep serving v1 for the whole batch
      val v2full = ModelStore.withManifest(
        ModelStore.boostedTreesRows("fraud", 2L, btr))
      ModelStore.table(spark,
          v2full.filterNot(r => r.part == "round" && r.idx == 1L))
        .write.mode("append").parquet(store)
      input.addData(part2.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(1L) && swap.currentKind == Some("adaboost"),
        "torn v2 must not serve")
      // clean promotion: v3 = the complete tree model — next batch flips
      ModelStore.table(spark, ModelStore.withManifest(
          ModelStore.boostedTreesRows("fraud", 3L, btr)))
        .write.mode("append").parquet(store)
      input.addData(part3.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(3L) && swap.currentKind == Some("boost_trees"))
    } finally query.stop()

    // batch twin: every row scored by the family serving at its batch,
    // bitwise-equal to that family's batch scorer column
    val batchScores = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        AdaBoost.voteScore(ab).as("vote"), Boosting.scoreTrees(btr).as("fx"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getDouble(2), r.getDouble(3))))
      .toMap
    val v1Keys = (part1 ++ part2).map(t => (t.customer_id, t.ts_micros)).toSet
    assert(out.size == tx.length)
    var flipped = 0
    out.foreach { case (cid, ts, ver, kind, score) =>
      val (vote, fx) = batchScores((cid, ts))
      if (v1Keys.contains((cid, ts))) {
        assert(ver == 1L && kind == "adaboost" && score == vote, s"v1 row ($cid,$ts)")
      } else {
        assert(ver == 3L && kind == "boost_trees" && score == fx, s"v3 row ($cid,$ts)")
        if (score != vote) flipped += 1
      }
    }
    assert(flipped > 0)
  }

  test("hashed-quality classifier served on the doc stream == batch scorer (bitwise)") {
    import spark.implicits._
    import graft.scale.{Splits, TextOps}
    import graft.streaming.{DocQuality, QualityDoc}
    val B = 16
    val docsB = Tables.documents(spark, "/root/testdata/sf0.001")
    // fit exactly the q242 chain on the batch side (train slice via the
    // md5 split); the stream only SERVES the fitted literals
    val t = col("text")
    val y = when(TextOps.nTokens(t) < 20, 0L)
      .when(TextOps.stopwordRatio(t) < 0.05, 0L).otherwise(1L)
    val f = TextOps.hashedNgramFeatures(docsB, col("doc_id"), col("text"), B)
      .join(docsB.select(col("doc_id"), y.as("y")), "doc_id")
    val m = graft.scoring.Trainer.fitLogistic(
      f.where(Splits.bucket(col("doc_id"), "hq", 5) =!= 0),
      (0 until B).map(b => s"f$b"), col("y"), iters = 6, lr = 0.5)

    val docs = docsB.select(col("doc_id"), col("text"))
      .as[QualityDoc].collect().sortBy(_.doc_id)
    val (half1, half2) = docs.splitAt(docs.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.hashedQualityScoredDocs(input.toDS(), m, B)
      .writeStream.format("memory").queryName("hq").outputMode("append").start()
    try {
      input.addData(half1.toIndexedSeq); query.processAllAvailable()
      input.addData(half2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    val streamed = spark.table("hq").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    val batch = TextOps.hashedNgramFeatures(docsB, col("doc_id"), col("text"), B)
      .select(col("doc_id"),
        graft.queries.r6(graft.scoring.Trainer.margin(m)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(streamed.size == docs.length && batch.size == docs.length)
    batch.foreach { case (id, s) =>
      assert(streamed(id) == ((s, s > 0)), s"doc $id")
    }
    // the model must actually separate: both decisions present
    assert(streamed.values.exists(_._2) && streamed.values.exists(!_._2))
  }

  test("PII scrub served on the doc stream == batch battery (counts + redacted text)") {
    import spark.implicits._
    import graft.scale.Pii
    import graft.streaming.{DocQuality, QualityDoc}
    val docs = Seq(
      QualityDoc(1L, "mail jo@x.io from 10.0.13.25 acct 123456789012"),
      QualityDoc(2L, "call 555-010-1234 twice: 555-010-1234"),
      QualityDoc(3L, "no pii here at all"))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.piiScrubbedDocs(input.toDS())
      .writeStream.format("memory").queryName("pii").outputMode("append").start()
    try {
      input.addData(docs.take(2)); query.processAllAvailable()
      input.addData(docs.drop(2)); query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("pii").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    val batch = DocQuality.piiScrubbedDocs(docs.toDS())
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch && streamed.size == 3)
    assert(streamed(1).last == true &&
      streamed(1)(4) == "mail <EMAIL> from <IP> acct <NUM>")
    assert(streamed(2)(4) == "call <PHONE> twice: <PHONE>")
    assert(streamed(3).last == false)
    // battery constants are the shared Pii object, not a stream copy
    assert(Pii.patterns.size == 4)
  }

  test("hot-swap into a refit perplexity gate: the curation model promotes mid-stream") {
    import spark.implicits._
    import graft.scale.Perplexity
    import graft.scoring.ModelStore
    import graft.streaming.{HotSwapScorer, SourcedDoc}
    val docsB = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("source"), col("text"))
    // v1: the standard 70% gate; v2: a "refit" stricter 40% gate — the
    // nightly-recut scenario (same LM, tighter thresholds)
    val g1 = Perplexity.fitGate(docsB, keepFrac = 0.7)
    val g2 = Perplexity.fitGate(docsB, keepFrac = 0.4)
    val store = java.nio.file.Files.createTempDirectory("gatestore")
      .resolve("models").toString
    ModelStore.publish(spark, store,
      ModelStore.perplexityGateRows("cur", 1L, g1))
    val swap = new HotSwapScorer(store, "cur")
    val docs = docsB.as[SourcedDoc].collect().sortBy(_.doc_id)
    val (h1, h2) = docs.splitAt(docs.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SourcedDoc]
    val out = collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val query = input.toDS().toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= swap.scoreBatch(b)
          .select(col("doc_id"), col("model_version"), col("model_score"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }.start()
    try {
      input.addData(h1.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentKind == Some("perplexity_gate") &&
        swap.currentVersion == Some(1L))
      ModelStore.publish(spark, store,
        ModelStore.perplexityGateRows("cur", 2L, g2))
      input.addData(h2.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(2L))
    } finally query.stop()
    // every row carries its serving gate's exact batch keep decision
    def keeps(g: Perplexity.Gate) = docsB.select(col("doc_id"),
        g.keep(col("source"), col("text")).cast("double").as("k"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (k1, k2) = (keeps(g1), keeps(g2))
    assert(out.size == docs.length)
    out.foreach { case (id, ver, s) =>
      assert(s == (if (ver == 1L) k1(id) else k2(id)), s"doc $id v$ver")
    }
    // the recut is visibly stricter on the second half
    val v2Kept = out.filter(_._2 == 2L).map(_._3).sum
    val v1WouldKeep = h2.map(d => k1(d.doc_id)).sum
    assert(v2Kept < v1WouldKeep, "40% gate must keep fewer docs than the 70% gate")
  }

  test("chunker served on the doc stream == batch chunk table across a batch boundary") {
    import spark.implicits._
    import graft.streaming.{DocQuality, QualityDoc}
    val docsB = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = docsB.select(col("doc_id"), col("text"))
      .as[QualityDoc].collect().sortBy(_.doc_id)
    val (h1, h2) = docs.splitAt(docs.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.chunkedDocs(input.toDS())
      .writeStream.format("memory").queryName("chunks").outputMode("append").start()
    try {
      input.addData(h1.toIndexedSeq); query.processAllAvailable()
      input.addData(h2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getString(4)))
    val streamed = spark.table("chunks").collect().map(key).toMap
    val batch = DocQuality.chunkedDocs(docs.toSeq.toDS()).collect().map(key).toMap
    assert(streamed == batch && streamed.nonEmpty)
    // a doc longer than one window produces overlapping chunks whose
    // starts step by the stride
    val multi = streamed.keys.groupBy(_._1).filter(_._2.size > 1)
    assert(multi.nonEmpty, "fixture must contain multi-chunk docs")
    multi.foreach { case (d, ks) =>
      val starts = ks.toSeq.map(k => streamed(k)._1).sorted
      assert(starts == (1L to starts.max by 48L).toSeq, s"doc $d")
    }
  }

  test("standing BM25 query hot-swaps mid-stream: refit v2 serves the second half exactly") {
    import spark.implicits._
    import graft.scale.Retrieval
    import graft.scoring.ModelStore
    import graft.streaming.{HotSwapScorer, QualityDoc}
    val docsB = Tables.documents(spark, "/root/testdata/sf0.001")
    // v1: doc 3's standing query at 16 terms; v2: the nightly refit at
    // 8 terms (query-term pruning tightened) — same alerting stream
    val m1 = Retrieval.fitStanding(docsB, col("doc_id"), col("text"),
      col("doc_id") === 3L, topTerms = 16).head
    val m2 = Retrieval.fitStanding(docsB, col("doc_id"), col("text"),
      col("doc_id") === 3L, topTerms = 8).head
    assert(m2.terms.size < m1.terms.size)
    val store = java.nio.file.Files.createTempDirectory("sbstore")
      .resolve("models").toString
    ModelStore.publish(spark, store, ModelStore.bm25QueryRows("alert", 1L, m1))
    val swap = new HotSwapScorer(store, "alert")
    val docs = docsB.select(col("doc_id"), col("text"))
      .as[QualityDoc].collect().sortBy(_.doc_id)
    val (h1, h2) = docs.splitAt(docs.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val out = collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    val query = input.toDS().toDF().writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= swap.scoreBatch(b)
          .select(col("doc_id"), col("model_version"), col("model_score"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        ()
      }.start()
    try {
      input.addData(h1.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentKind == Some("bm25_query") &&
        swap.currentVersion == Some(1L))
      ModelStore.publish(spark, store, ModelStore.bm25QueryRows("alert", 2L, m2))
      input.addData(h2.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(2L))
    } finally query.stop()
    // every row carries its serving version's exact batch score, BITWISE
    def scores(m: Retrieval.StandingBm25) = docsB
      .select(col("doc_id"), m.score(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val (s1, s2) = (scores(m1), scores(m2))
    assert(out.size == docs.length)
    out.foreach { case (id, ver, s) =>
      assert(s == (if (ver == 1L) s1(id) else s2(id)), s"doc $id v$ver")
    }
    // the pruned v2 query can only lose contribution mass
    h2.foreach(d => assert(s2(d.doc_id) <= s1(d.doc_id) + 1e-12, d.doc_id))
  }

  test("gopher repetition battery served on the doc stream == batch operator") {
    import spark.implicits._
    import graft.streaming.{DocQuality, QualityDoc}
    val docsB = Tables.documents(spark, "/root/testdata/sf0.001")
    val docs = docsB.select(col("doc_id"), col("text"))
      .as[QualityDoc].collect().sortBy(_.doc_id)
    val (h1, h2) = docs.splitAt(docs.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.repetitionFlaggedDocs(input.toDS())
      .writeStream.format("memory").queryName("gopher").outputMode("append").start()
    try {
      input.addData(h1.toIndexedSeq); query.processAllAvailable()
      input.addData(h2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("gopher").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // batch twin = the q247 operator itself (same projection columns)
    val batch = graft.scale.TextOps.gopherRepetition(
        docsB, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch && streamed.size == docs.length)
  }

  test("duplicate-line rules served on the doc stream == batch battery") {
    import spark.implicits._
    import graft.streaming.{DocQuality, QualityDoc}
    val docs = Seq(
      QualityDoc(1L, "abc\nabc\ndefgh\nabc"), // dup frac 0.5 -> flags
      QualityDoc(2L, "one\ntwo\nthree"),      // no dups
      QualityDoc(3L, "xyz\n\n\nxyz"),         // empty lines excluded
      QualityDoc(4L, ""))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.lineFlaggedDocs(input.toDS())
      .writeStream.format("memory").queryName("lines").outputMode("append").start()
    try {
      input.addData(docs.take(2)); query.processAllAvailable()
      input.addData(docs.drop(2)); query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("lines").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // the batch operator (q253's gate) on the same rows — the stream
    // serves the identical projection, so equality is bitwise
    val batch = graft.scale.TextOps.gopherLineStats(
        docs.toDF(), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch && streamed.size == 4)
    assert(streamed(1L) == Seq(4L, 0.5,
      graft.scoring.KMeansOps.r6d(6.0 / 14), true))
    assert(streamed(2L).last == false && streamed(4L).head == 0L)
  }

  test("C4 battery served on the doc stream == batch battery across a batch boundary") {
    import spark.implicits._
    import graft.streaming.{DocQuality, QualityDoc}
    val goodDoc = "alpha beta gamma delta epsilon.\nzeta eta theta iota kappa!\nlambda mu nu xi omicron?"
    val docs = Seq(
      QualityDoc(1L, goodDoc),                                          // kept
      QualityDoc(2L, goodDoc + "\nlorem ipsum dolor sit amet."),        // doc rule
      QualityDoc(3L, goodDoc + "\nplease enable javascript to stay."),  // line rule only
      QualityDoc(4L, "too few kept lines here.\nno punct"),
      QualityDoc(5L, ""))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.c4FlaggedDocs(input.toDS())
      .writeStream.format("memory").queryName("c4gate").outputMode("append").start()
    try {
      input.addData(docs.take(2)); query.processAllAvailable()
      input.addData(docs.drop(2)); query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("c4gate").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // batch twin = the q267 operator itself (same projection columns)
    val batch = graft.scale.C4.lineStats(docs.toDF(), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch && streamed.size == docs.length)
    assert(streamed(1L).last == true, "clean 3-kept-line doc survives")
    assert(streamed(2L).last == false, "lorem ipsum drops the doc")
    assert(streamed(3L).last == true, "javascript drops the LINE, doc survives")
    assert(streamed(4L).last == false && streamed(5L).last == false)
  }

  test("Gopher quality rules served on the doc stream == batch battery across a batch boundary") {
    import spark.implicits._
    import graft.streaming.{DocQuality, QualityDoc}
    val good = ("alpha beta gamma delta epsilon " * 10) + "the of and that"
    val docs = Seq(
      QualityDoc(1L, good),                              // survives every rule
      QualityDoc(2L, "the of and that tiny"),            // word-count bound
      QualityDoc(3L, good + " " + ("12345 " * 20)),      // alpha fraction
      QualityDoc(4L, "alpha beta gamma delta epsilon " * 10), // no stop words
      QualityDoc(5L, ""))
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.qualityRuleFlaggedDocs(input.toDS())
      .writeStream.format("memory").queryName("gq").outputMode("append").start()
    try {
      input.addData(docs.take(2)); query.processAllAvailable()
      input.addData(docs.drop(2)); query.processAllAvailable()
    } finally query.stop()
    val streamed = spark.table("gq").collect()
      .map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    // batch twin = the q279 operator itself (same projection columns)
    val batch = graft.scale.TextOps.gopherQuality(
        docs.toDF(), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.toSeq.drop(1)).toMap
    assert(streamed == batch && streamed.size == docs.length)
    assert(streamed(1L).last == false, "clean doc is NOT flagged")
    assert(Seq(2L, 3L, 4L, 5L).forall(streamed(_).last == true))
  }

  test("frozen lang-NB served on the doc stream == batch predict across a batch boundary") {
    import spark.implicits._
    import graft.streaming.{DocQuality, QualityDoc}
    val corpus = Tables.documents(spark, "/root/testdata/sf0.001")
    val m = graft.scale.LangId.fit(corpus, col("doc_id"), col("text"),
      col("lang"), graft.scale.Splits.bucket(col("doc_id"), "lid", 5) =!= 0)
    val docs = corpus.where(col("doc_id") % 7 === 0)
      .select(col("doc_id"), col("text")).as[QualityDoc].collect()
      .sortBy(_.doc_id) :+ QualityDoc(999999L, "ab") // trigram-less -> NULL
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[QualityDoc]
    val query = DocQuality.langTaggedDocs(input.toDS(), m)
      .writeStream.format("memory").queryName("langtag").outputMode("append").start()
    try {
      val (b1, b2) = docs.splitAt(docs.length / 2)
      input.addData(b1.toIndexedSeq); query.processAllAvailable()
      input.addData(b2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()
    def m2(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      r.getLong(0) -> (if (r.isNullAt(1)) null else r.getString(1))).toMap
    val streamed = m2(spark.table("langtag").collect())
    val batch = m2(DocQuality.langTaggedDocs(docs.toSeq.toDS(), m).collect())
    assert(streamed.size == docs.length)
    assert(streamed == batch, "batch==stream parity")
    assert(streamed(999999L) == null, "trigram-less doc tags NULL")
    assert(streamed.values.filter(_ != null).toSet.subsetOf(
      m.classes.map(_.lang).toSet))
  }

  test("hot-swap to nb_platt: the served calibrated pair promotes mid-stream like any family") {
    import spark.implicits._
    import org.apache.spark.sql.graftbridge.ColumnBridge.intDiv
    import graft.scoring.{ModelStore, Trainer}
    import graft.streaming.HotSwapScorer
    def buckets(d: org.apache.spark.sql.DataFrame) = d
      .withColumn("hb", hour(timestamp_micros(col("ts_micros"))))
      .withColumn("dowi", pmod(intDiv(col("ts_micros"), lit(86400000000L)), lit(7L)))
      .withColumn("vb", least(floor(col("amount") / 100).cast("long"), lit(5L)))
    val batchE = buckets(Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"),
        unix_micros(col("event_timestamp")).as("ts_micros"), col("amount")))
    val nb = graft.scoring.Models.fitNaiveBayes(
      batchE, Seq("hb", "dowi", "vb"), col("amount") > 100)
    val calib = graft.scoring.Trainer.fitLogistic(
      batchE.withColumn("d4", graft.queries.r6(nb.delta)),
      Seq("d4"), col("amount") > 100, iters = 4, lr = 0.5)
    val lr = Trainer.LogisticModel(Seq("txn_count_1h"), Seq(0.0), Seq(1.0),
      Seq(0.5), 0.1, 1, 0.5)
    val store = java.nio.file.Files.createTempDirectory("nbstore")
      .resolve("models").toString
    ModelStore.table(spark, ModelStore.withManifest(
        ModelStore.logisticRows("served", 1L, lr)))
      .write.parquet(store)
    val swap = new HotSwapScorer(store, "served")

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(t => (t.ts_micros, t.transaction_id))
    val (half1, half2) = tx.splitAt(tx.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val out = collection.mutable.ArrayBuffer[(Long, Long, String, Double)]()
    val query = StreamingFeatures.customerFeatures(input.toDS()).toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        // the serving wiring derives the NB buckets statelessly before
        // the swap point, so a promoted nb_platt finds its features
        out ++= swap.scoreBatch(buckets(b))
          .select(col("customer_id"), col("ts_micros"), col("model_kind"),
            col("model_score"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        ()
      }
      .start()
    try {
      input.addData(half1.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentKind == Some("logistic"))
      ModelStore.table(spark, ModelStore.withManifest(
          ModelStore.nbPlattRows("served", 2L, nb, calib)))
        .write.mode("append").parquet(store)
      input.addData(half2.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentKind == Some("nb_platt") && swap.currentVersion == Some(2L))
    } finally query.stop()

    // batch twin: v2 rows carry the q241 calibrated probability bitwise
    val batchP = batchE.withColumn("d4", graft.queries.r6(nb.delta))
      .select(col("customer_id"), col("ts_micros"),
        graft.queries.r6(graft.scoring.Trainer.probability(calib)).as("p"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val h2 = half2.map(t => (t.customer_id, t.ts_micros)).toSet
    out.foreach { case (cid, ts, kind, score) =>
      if (h2.contains((cid, ts))) {
        assert(kind == "nb_platt" && score == batchP((cid, ts)), s"v2 row ($cid,$ts)")
      } else assert(kind == "logistic")
    }
    assert(out.count(o => o._3 == "nb_platt") == half2.size)
  }

  test("hot-swap pin/unpin: rollback serves the pinned version, unpin resumes latest-wins") {
    import spark.implicits._
    import graft.scoring.{AdaBoost, ModelStore, Trainer}
    import graft.streaming.HotSwapScorer
    val v1 = Trainer.LogisticModel(Seq("txn_count_1h"), Seq(0.0), Seq(1.0),
      Seq(0.5), 0.1, 1, 0.5)
    val v2 = Seq(AdaBoost.Round("txn_count_1h", 2.0, 0, 1, 0.3, 2.3333, 0.8473))
    val store = java.nio.file.Files.createTempDirectory("pinstore")
      .resolve("models").toString
    ModelStore.table(spark, ModelStore.withManifest(
        ModelStore.logisticRows("m", 1L, v1))).write.parquet(store)
    ModelStore.table(spark, ModelStore.withManifest(
        ModelStore.adaBoostRows("m", 2L, v2)))
      .write.mode("append").parquet(store)
    val swap = new HotSwapScorer(store, "m")
    // latest-wins by default
    assert(swap.resolve(spark)._1 == 2L && swap.currentKind == Some("adaboost"))
    // rollback: pin the last good version — next resolve serves it
    swap.pin(1L)
    assert(swap.resolve(spark)._1 == 1L && swap.currentKind == Some("logistic"))
    // unpin: back to latest
    swap.unpin()
    assert(swap.resolve(spark)._1 == 2L && swap.currentKind == Some("adaboost"))
    // pin to a version that never existed: rebuild fails, cached serves
    swap.pin(99L)
    assert(swap.resolve(spark)._1 == 2L, "bad pin must keep the cached version serving")
    // ...and the absorbed failure is counted, not silent
    assert(swap.consecutiveFailures == 1)
    swap.unpin()
    assert(swap.resolve(spark)._1 == 2L && swap.consecutiveFailures == 0)
  }

  test("hot-swap into forest: a published forest promotes mid-stream and serves the exact vote count") {
    import spark.implicits._
    import graft.scoring.{AdaBoost, Forest, ModelStore, Trees}
    import graft.streaming.HotSwapScorer
    // v1: a SAMME stump ensemble; v2: a 2-member depth-2 forest written
    // through ModelStore.publish (manifest emitted by default) — the
    // reference retrainer reloads its RandomForest members like every
    // other dump (models/advanced_models.py:228-231,252)
    val ab = Seq(
      AdaBoost.Round("txn_count_1h", 2.0, 0, 1, 0.3, 2.3333, 0.8473))
    val fo = Seq(
      Forest.DeepFTree(0, Seq("txn_count_1h", "txn_amount_sum_1h"),
        Trees.DeepTree(2, 10, 4, Map(
          "" -> Trees.Split("txn_count_1h", 2.0, 0.4, 6, 4, 4, 0),
          "l" -> Trees.Split("txn_amount_sum_1h", 250.0, 0.1, 3, 3, 3, 1)))),
      Forest.DeepFTree(1, Seq("txn_amount_sum_1h"),
        Trees.DeepTree(2, 10, 3, Map(
          "" -> Trees.Split("txn_amount_sum_1h", 400.0, 0.3, 5, 1, 5, 2)))))
    val store = java.nio.file.Files.createTempDirectory("foreststore")
      .resolve("models").toString
    ModelStore.publish(spark, store, ModelStore.adaBoostRows("m", 1L, ab))
    val swap = new HotSwapScorer(store, "m")

    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), col("ip_address"), col("transaction_id"))
      .as[StreamTxn].collect().sortBy(t => (t.ts_micros, t.transaction_id))
    val (half1, half2) = tx.splitAt(tx.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val out = collection.mutable.ArrayBuffer[(Long, Long, String, Double)]()
    val query = StreamingFeatures.customerFeatures(input.toDS()).toDF()
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out ++= swap.scoreBatch(b)
          .select(col("customer_id"), col("ts_micros"), col("model_kind"),
            col("model_score"))
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
        ()
      }
      .start()
    try {
      input.addData(half1.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentKind == Some("adaboost"))
      ModelStore.publish(spark, store, ModelStore.forestRows("m", 2L, fo))
      input.addData(half2.toIndexedSeq); query.processAllAvailable()
      assert(swap.currentVersion == Some(2L) && swap.currentKind == Some("forest"))
    } finally query.stop()
    // batch twin: v2 rows carry the exact majority-vote count
    val batchVotes = CoreFeatures.customerFeatures(
        Tables.transactions(spark, "/root/testdata/sf0.001"))
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        Forest.votesDeep(fo).cast("double").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val v1Keys = half1.map(t => (t.customer_id, t.ts_micros)).toSet
    assert(out.size == tx.length)
    out.foreach { case (cid, ts, kind, score) =>
      if (!v1Keys.contains((cid, ts))) {
        assert(kind == "forest" && score == batchVotes((cid, ts)),
          s"forest row ($cid,$ts)")
      } else assert(kind == "adaboost")
    }
    // votes span more than one value on this corpus (not a constant column)
    assert(out.filter(_._3 == "forest").map(_._4).distinct.size > 1)
  }

  test("curation counters: per-source running totals across micro-batches == batch flag aggregation") {
    import spark.implicits._
    import graft.scale.{Perplexity, Splits, TextOps}
    import graft.streaming.{CurationCounters, NearDupGate, SourcedDoc}
    val B = 16
    val docsB = Tables.documents(spark, "/root/testdata/sf0.001")
    val t = col("text")
    val y = when(TextOps.nTokens(t) < 20, 0L)
      .when(TextOps.stopwordRatio(t) < 0.05, 0L).otherwise(1L)
    val f = TextOps.hashedNgramFeatures(docsB, col("doc_id"), col("text"), B)
      .join(docsB.select(col("doc_id"), y.as("y")), "doc_id")
    val m = graft.scoring.Trainer.fitLogistic(
      f.where(Splits.bucket(col("doc_id"), "hq", 5) =!= 0),
      (0 until B).map(b => s"f$b"), col("y"), iters = 6, lr = 0.5)
    // batch-fit the frozen perplexity gate (q252): the stream only
    // serves the frozen LM kernel + per-source threshold literals
    val gate = Perplexity.fitGate(
      docsB.select(col("doc_id"), col("source"), col("text")))
    // frozen near-dup index over yesterday's corpus (doc_id % 10 != 0);
    // the stream is today's delta plus planted copies of indexed docs.
    // Texts stream MARKED (the q263/q276 fixture) so the frozen lang
    // gate — CCNet's first filter, new in r14 — actually discriminates.
    val marked = concat(col("text"), lit(" "), col("lang"),
      lit(" "), col("lang"), lit(" "), col("lang"))
    val index = NearDupGate.buildIndex(
      docsB.where(col("doc_id") % 10 =!= 0), col("doc_id"), marked).persist()
    val langNb = graft.scale.LangId.fit(docsB, col("doc_id"), marked,
      col("lang"), Splits.bucket(col("doc_id"), "lid", 5) =!= 0, buckets = 64)
    val langGate = Some((langNb, Seq("en", "de", "es")))
    // round-16 gates: the C4 battery over a lined view (the corpus has
    // no natural lines — two always-kept sentences, an even-id third
    // kept line, an id-gated lorem trigger) and the media-payload
    // exact-dedup gate (ids ≡ 0 mod 3 collapse onto 5 shared payload
    // templates; the frozen index holds the non-delta fps)
    val c4Text = concat(col("text"),
      lit("\nthe quick brown fox jumps over the lazy dog again."),
      lit("\npack my box with five dozen liquor jugs today."),
      when(col("doc_id") % 2 === 0,
        lit("\na third kept sentence closes the block.")).otherwise(lit("")),
      when(col("doc_id") % 13 === 0,
        lit("\nlorem ipsum dolor sit amet placeholder here."))
        .otherwise(lit("")))
    val c4Gate = Some((c4Text, graft.scale.C4.defaultBadWords))
    val mediaFp = md5(when(col("doc_id") % 3 === 0,
        concat(lit("payload:"), (col("doc_id") % 5).cast("string")))
      .otherwise(concat(lit("payload:"), col("doc_id").cast("string"))))
    val mediaIx = docsB.where(col("doc_id") % 10 =!= 0)
      .select(mediaFp.as("media_fp")).distinct().persist()
    val mediaGate = Some((mediaFp, mediaIx: org.apache.spark.sql.DataFrame))

    val delta = docsB.where(col("doc_id") % 10 === 0)
      .select(col("doc_id"), col("source"), marked.as("text"))
      .as[SourcedDoc].collect()
    val planted = docsB.where(col("doc_id") % 10 =!= 0)
      .orderBy(col("doc_id")).limit(3)
      .select((col("doc_id") + 100000L).as("doc_id"), col("source"),
        marked.as("text"))
      .as[SourcedDoc].collect()
    val docs = (delta ++ planted).sortBy(_.doc_id)
    val (half1, half2) = docs.splitAt(docs.length / 2)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[SourcedDoc]
    val query = CurationCounters.totals(input.toDS(), m, B, gate, Some(index),
        langGate = langGate, c4Gate = c4Gate, mediaGate = mediaGate)
      .toDF().writeStream.format("memory").queryName("funnel")
      .outputMode("update").start()
    try {
      input.addData(half1.toIndexedSeq); query.processAllAvailable()
      // mid-stream: totals cover exactly the first half
      val mid = spark.table("funnel").groupBy(col("source"))
        .agg(max(col("n_docs")).as("n")).agg(sum(col("n"))).head().getLong(0)
      assert(mid == half1.length, s"mid-stream doc total $mid != ${half1.length}")
      input.addData(half2.toIndexedSeq); query.processAllAvailable()
    } finally query.stop()

    // latest emitted totals per source (update mode: last row wins)
    def thirteen(r: org.apache.spark.sql.Row) =
      (1 to 13).map(r.getLong).toList
    val streamed = spark.table("funnel")
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("source"))
          .orderBy(col("n_docs").desc)))
      .where(col("rn") === 1).drop("rn")
      .collect().map(r => r.getString(0) -> thirteen(r)).toMap
    // the batch side IS CurationCounters.batchTotals — the same frame
    // the q294 driver-gated battery funnel hashes against its DuckDB
    // oracle, so streamed == batchTotals here transitively pins the
    // streaming processor's end-state to the q294 hash gate
    val batch = CurationCounters.batchTotals(
        CurationCounters.flaggedDocs(docs.toSeq.toDS(),
          m, B, gate, Some(index), langGate = langGate,
          c4Gate = c4Gate, mediaGate = mediaGate))
      .collect().map(r => r.getString(0) -> thirteen(r)).toMap
    assert(streamed.keySet == batch.keySet)
    batch.foreach { case (src, v) =>
      assert(streamed(src) == v, s"source $src: ${streamed(src)} != $v")
    }
    // gates discriminate on this corpus, survivors exist, and survivor
    // token mass is a real sub-mass (not vacuous counters)
    // list indices: 0 n_docs, 1 n_tokens, 2 lang, 3 heuristic, 4 gopher,
    // 5 pii, 6 quality, 7 perplexity, 8 neardup, 9 c4_kept,
    // 10 mediadup_docs, 11 survivors, 12 survivor_tokens
    def tot(i: Int) = batch.values.map(_(i)).sum
    assert(tot(11) > 0 && tot(11) < tot(0), "survivors")
    // the lang gate discriminates: a strict sub-mass keeps (the marked
    // corpus carries en/de/es targets AND fr/zh rejects)
    assert(tot(2) > 0 && tot(2) < tot(0), "lang gate must discriminate")
    assert(batch.values.exists(v => v(7) > 0 && v(7) < v(0)),
      "perplexity gate must discriminate")
    assert(tot(12) > 0 && tot(12) < tot(1),
      "survivor token mass must be a strict sub-mass")
    // the planted copies of indexed docs are caught by the live gate
    assert(tot(8) >= planted.length, "near-dup incidence covers planted copies")
    // the round-16 gates discriminate too: C4 keeps a strict sub-mass
    // (odd-id docs miss the third kept line), media-dedup flags a
    // nonempty strict sub-mass (the shared payload templates)
    assert(tot(9) > 0 && tot(9) < tot(0), "c4 gate must discriminate")
    assert(tot(10) > 0 && tot(10) < tot(0),
      "media-dup gate must discriminate")
    index.unpersist(); mediaIx.unpersist()

    // frozen-gate serving == the batch q248-style threshold keep set,
    // doc by doc (the streaming-perplexity parity contract)
    val lmBatch = TextOps.trigramLmScore(docsB, col("doc_id"), col("text"))
      .select(col("doc_id"), graft.queries.r6(col("lm_score")).as("lm"))
    val thCol = gate.threshold(col("source"))
    val mismatch = docsB.select(col("doc_id"), col("source"), col("text"))
      .join(lmBatch, Seq("doc_id"), "left")
      .select(gate.keep(col("source"), col("text")).as("served"),
        (col("lm").isNotNull && thCol.isNotNull &&
          col("lm") >= thCol).as("batchKeep"))
      .where(col("served") =!= col("batchKeep")).count()
    assert(mismatch == 0L, s"$mismatch docs diverge between frozen and batch keep")
  }
}
