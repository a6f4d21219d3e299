package graft

import graft.online.{SnapshotStore, StreamingSnapshot}
import graft.sources.Generator
import graft.streaming.{CustomerFeatureProcessor, StreamFeatures, StreamTxn, StreamingFeatures}
import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.util.Random

/** End-to-end §3.1 spine: generator -> stream -> stateful features ->
  * online snapshot -> point lookup with TTL.
  */
class OnlineSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("generator burst -> streaming features -> snapshot upsert -> TTL lookup") {
    import spark.implicits._
    val events = Generator.burst(spark, customerId = 7L)
      .select(col("customer_id"), unix_micros(col("event_timestamp")).as("ts_micros"),
        col("amount"), col("merchant_id"), lit("10.0.0.1").as("ip_address"),
        col("transaction_id"))
      .as[StreamTxn].collect().sortBy(_.ts_micros)

    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val store = new SnapshotStore
    val query = StreamingSnapshot.start(StreamingFeatures.customerFeatures(input.toDS()), store)
    try {
      input.addData(events.toIndexedSeq)
      query.processAllAvailable()
    } finally query.stop()

    // the sink writes partition-parallel from tasks — no driver funnel
    assert(store.driverWrites == 0, "snapshot upserts must not run on the driver")
    assert(store.taskWrites > 0)

    val snap = store.get(7L).get
    assert(snap.txn_count_60s == 50)          // all 50 burst txns within 60 s
    assert(snap.velocity_score_1h == 50 / 60.0)
    assert(store.get(999L).isEmpty)           // cold key -> default path
    val lastTs = events.last.ts_micros
    assert(store.getFresh(7L, lastTs + 1000).isDefined)
    assert(store.getFresh(7L, lastTs + 86401L * 1000000).isEmpty) // TTL expired
  }

  test("seeded generator is deterministic and shaped like the reference") {
    val a = Generator.transactions(spark, 1000).collect()
    val b = Generator.transactions(spark, 1000).collect()
    assert(a.sameElements(b))
    val df = Generator.transactions(spark, 1000)
    val hot = df.where(col("customer_id") < 100).count().toDouble / 1000
    assert(hot > 0.3 && hot < 0.45, s"hot-key share $hot") // 30% + base-rate overlap
    assert(df.where(col("is_suspicious")).count() < 100)
  }

  private val HourUs = 3600L * 1000000

  /** Three batches of events: every key in 1..keys once or twice per
    * batch, and the hot key 0 six times per batch, its newest three at one
    * timestamp (two of them with equal amounts). Amounts are quarters, so
    * window sums are exact whatever order peers are summed in.
    */
  private def batches(seed: Long, keys: Int): Seq[Seq[StreamTxn]] = {
    val r = new Random(seed)
    def amount() = (1 + r.nextInt(4000)) / 4.0
    def tx(k: Long, ts: Long, a: Double) = StreamTxn(k, ts, a, s"m${r.nextInt(5)}", s"ip${r.nextInt(3)}")
    (0 until 3).map { b =>
      val t0 = 1704067200L * 1000000 + b * HourUs
      val peers = t0 + HourUs / 2
      val hot = Seq(tx(0, t0 + 1, amount()), tx(0, t0 + 2, amount()), tx(0, t0 + 3, amount()),
        tx(0, peers, 40.0), tx(0, peers, 70.0), tx(0, peers, 70.0))
      val rest = (1L to keys).flatMap(k =>
        Seq.fill(1 + r.nextInt(2))(tx(k, t0 + 1 + r.nextInt(3600) * 1000000L, amount())))
      r.shuffle(hot ++ rest)
    }
  }

  /** Equal longs, and doubles equal to a relative 1e-9 (std-dev sums depend on peer order). */
  private def same(a: StreamFeatures, b: StreamFeatures): Boolean =
    a.productIterator.zip(b.productIterator).forall {
      case (x: Double, y: Double) => math.abs(x - y) <= 1e-9 * math.max(1.0, math.abs(x))
      case (x, y) => x == y
    }

  test("sink: after every micro-batch the store is the brute-force latest row per key") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val store = new SnapshotStore
    val query = StreamingSnapshot.start(StreamingFeatures.customerFeatures(input.toDS()), store)
    val seen = mutable.Map.empty[Long, Vector[StreamTxn]]
    try batches(seed = 5, keys = 60).foreach { b =>
      input.addData(b)
      query.processAllAvailable()
      b.foreach(e => seen(e.customer_id) = seen.getOrElse(e.customer_id, Vector.empty) :+ e)
      assert(store.size == seen.size)
      seen.foreach { case (k, evs) =>
        val latest = evs.maxBy(e => (e.ts_micros, e.amount))
        val want = CustomerFeatureProcessor.features(latest, evs.sortBy(_.ts_micros).toArray)
        val got = store.get(k)
        assert(got.exists(same(_, want)), s"key $k: stored $got, brute force $want")
      }
      assert(store.driverWrites == 0, "snapshot upserts must not run on the driver")
    } finally query.stop()
    assert(store.get(0L).map(_.amount).contains(70.0)) // same-time peers: larger amount wins
  }

  test("upsert: any row order, and a replayed batch, give the same store") {
    val r = new Random(11)
    val rows = batches(seed = 9, keys = 20).flatten.groupBy(_.customer_id).values.flatMap { evs =>
      val sorted = evs.sortBy(_.ts_micros).toArray
      CustomerFeatureProcessor.featuresBatch(sorted, sorted)
    }.toVector
    def contents(s: SnapshotStore) = (0L to 20L).map(k => k -> s.get(k)).toMap
    val first = new SnapshotStore
    first.upsert(rows.iterator)
    val want = rows.groupBy(_.customer_id).view.mapValues(_.maxBy(f => (f.ts_micros, f.amount))).toMap
    assert(contents(first) == want.map { case (k, f) => k -> Some(f) })
    (0 until 20).foreach { _ =>
      val s = new SnapshotStore
      s.upsert(r.shuffle(rows).iterator)
      assert(contents(s) == contents(first))
    }
    val replayed = new SnapshotStore
    replayed.upsert(rows.iterator)
    replayed.upsert(r.shuffle(rows).iterator)
    assert(contents(replayed) == contents(first))
  }

  test("sink: each micro-batch runs one shuffle, the stateful operator's") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    val store = new SnapshotStore
    val stages = mutable.Map.empty[String, Int] // batch id -> shuffle stages
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
          .foreach(b => stages.synchronized(stages(b) = stages.getOrElse(b, 0) + j.stageInfos.size - 1))
    }
    spark.sparkContext.addSparkListener(listener)
    val query = StreamingSnapshot.start(StreamingFeatures.customerFeatures(input.toDS()), store)
    try batches(seed = 3, keys = 30).foreach { b =>
      input.addData(b)
      query.processAllAvailable()
    } finally {
      query.stop()
      ListenerBridge.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(stages.size >= 3, s"micro-batch jobs seen: $stages")
    assert(stages.values.forall(_ <= 1), s"shuffle stages per micro-batch: $stages")
  }

  test("registry: a stopped or failed query drops its store, which stays readable") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = StreamTxn(1L, 1704067200L * 1000000, 10.0, "m", "ip")
    val stores = Seq(new SnapshotStore, new SnapshotStore)
    stores.foreach { store =>
      val input = MemoryStream[StreamTxn]
      val query = StreamingSnapshot.start(StreamingFeatures.customerFeatures(input.toDS()), store)
      assert(SnapshotStore.registry.containsValue(store))
      input.addData(ev)
      query.processAllAvailable()
      query.stop()
    }
    val input = MemoryStream[StreamTxn]
    val failing = new SnapshotStore
    val query = StreamingSnapshot.start(StreamingFeatures.customerFeatures(input.toDS())
      .map(f => if (f.amount < 0) sys.error("bad row") else f), failing)
    input.addData(ev.copy(amount = -1.0))
    intercept[StreamingQueryException](query.awaitTermination())
    ListenerBridge.drain(spark.sparkContext)
    (stores :+ failing).foreach(s => assert(!SnapshotStore.registry.containsValue(s)))
    stores.foreach(s => assert(s.get(1L).map(_.amount).contains(10.0)))
  }
}
