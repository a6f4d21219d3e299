package perfbench

import graft.AmlFeatureStore
import graft.online.{SnapshotStore, StreamingSnapshot}
import graft.scale.Dedup
import graft.streaming.{StreamFeatures, StreamTxn}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import java.io.File
import scala.collection.mutable

/** One workload: a closed loop with one caller. `setUp` builds inputs and
  * program state; each op stages its inputs in `next` (untimed), runs the
  * program in `op` (timed), and is checked in `checkOp` (untimed).
  * `finish` runs the checks that need the whole run.
  */
abstract class Workload(val spark: SparkSession, val seed: Long, val trace: Trace) {
  /** Events, requests or documents one op completes. */
  def itemsPerOp: Int
  def warmOps: Int
  /** Timed ops at least, however short `--seconds`: enough that every run
    * times the same number of ops, since latency still falls op by op
    * (JIT) through the timed phase and a run of 2 ops and one of 3 would
    * read different places on that curve.
    */
  def minOps: Int
  def setUp(dir: File): Seq[String]
  def next(): Unit = ()
  def op(): Unit
  def checkOp(): Seq[String] = Nil
  def finish(): Seq[String] = Nil
  def tearDown(): Unit = ()

  val store = new AmlFeatureStore(spark)

  /** Self-test hook: the named program output is corrupted before its
    * check reads it (see [[Main.selfTest]]).
    */
  var corrupt: String = ""
  def corruptions: Seq[String]

  /** `rows` with `field` of one row changed, when `label` is corrupted. */
  def tamper(label: String, rows: Array[Row], field: String): Array[Row] =
    if (corrupt != label || rows.isEmpty) rows
    else {
      val i = rows.length / 2
      val row = rows(i)
      val j = row.fieldIndex(field)
      val v: Any = row.get(j) match {
        case l: Long => l + 1
        case n: Int => n + 1
        case d: Double => d + 1.0
        case b: Boolean => !b
        case s: String => s + "x"
        case s: scala.collection.Seq[_] => s :+ "x"
      }
      rows.updated(i, new GenericRowWithSchema(row.toSeq.updated(j, v).toArray, row.schema))
    }

  /** `v` plus one, when `label` is corrupted. */
  def tamper(label: String, v: Long): Long = if (corrupt == label) v + 1 else v

  def lng(r: Row, f: String): Long = r.getAs[Any](f) match {
    case l: Long => l
    case n: Int => n.toLong
  }

  /** A public program call, recorded as a span and as `<name>_ms`. */
  def call[T](name: String)(body: => T): T = {
    val t = System.nanoTime()
    try trace.span(name)(body)
    finally trace.add(name + "_ms", (System.nanoTime() - t) / 1e6)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def num(r: Row, f: String): Double = r.getAs[Any](f) match {
    case l: Long => l.toDouble
    case i: Int => i.toDouble
    case d: Double => d
    case null => Double.NaN
  }

  /** Compare named numbers; counts must match exactly (they are whole). */
  def diff(what: String, got: Map[String, Double], want: Map[String, Double],
      rel: Double = 1e-9): Seq[String] =
    want.toSeq.sortBy(_._1).flatMap { case (k, w) =>
      got.get(k) match {
        case Some(g) if Reference.close(g, w, if (k.startsWith("std_") ||
            k.startsWith("amount_deviation")) 1e-7 else rel) => None
        case g => Some(s"$what: $k = ${g.getOrElse("missing")}, reference $w")
      }
    }.take(5)

  def txFrame(txs: Seq[Gen.Tx]): DataFrame = {
    import spark.implicits._
    txs.map(t => (t.id, t.ts, t.customer, t.merchant, t.amount, t.ip)).toDF(
      "transaction_id", "ts", "customer_id", "merchant_id", "amount", "ip_address")
      .select(col("transaction_id"), timestamp_micros(col("ts")).as("event_timestamp"),
        col("customer_id"), col("merchant_id"), col("amount"), col("ip_address"))
  }

  def writeRead(df: DataFrame, path: File): DataFrame = {
    df.write.parquet(path.getPath)
    spark.read.parquet(path.getPath)
  }
}

/** Offline backfill: full window view, customer and merchant views, and a
  * point-in-time training set, each forced through the noop sink.
  */
final class Backfill(spark: SparkSession, seed: Long, trace: Trace)
    extends Workload(spark, seed, trace) {
  import Gen.Offline._
  val Probes = 2000
  val windows = Seq("1h" -> 3600L, "24h" -> 86400L)
  def itemsPerOp: Int = N
  def warmOps: Int = 1
  def minOps: Int = 5
  def corruptions: Seq[String] = Seq("fullFeatures", "customerFeatures", "merchantFeatures", "trainingSet")

  private var txs: Array[Gen.Tx] = _
  private var probes: Array[(Long, Long, Long)] = _
  private var tx: DataFrame = _
  private var events: DataFrame = _
  private var probeDf: DataFrame = _

  def setUp(dir: File): Seq[String] = {
    import spark.implicits._
    txs = Gen.transactions(seed, 1, N, Customers, Hot, HotShare, Merchants, Gen.T0, Span)
    val r = Gen.rng(seed, 2)
    probes = Array.tabulate(Probes) { i =>
      (i.toLong, Gen.customer(r, Customers, Hot, HotShare),
        Gen.T0 + (r.nextLong() & Long.MaxValue) % Span)
    }
    tx = writeRead(txFrame(txs), new File(dir, "tx"))
    events = tx.select(col("customer_id").as("key"),
      unix_micros(col("event_timestamp")).as("ts_micros"), col("amount"))
    probeDf = writeRead(probes.toSeq.toDF("probe_id", "key", "ts_micros"), new File(dir, "probes"))
    Nil
  }

  def op(): Unit = {
    call("schema.window_view")(noop(store.fullFeatures(tx)))
    call("ops.customer_view")(noop(store.customerFeatures(tx)))
    call("ops.merchant_view")(noop(store.merchantFeatures(tx)))
    call("pit.as_of")(noop(store.trainingSet(events, probeDf, windows)))
  }

  /** Brute-force trailing windows for a seeded sample of keys (hot keys
    * included) and every probe.
    */
  override def finish(): Seq[String] = {
    val r = Gen.rng(seed, 3)
    val keys = (0L until 2L) ++ Seq.fill(8)((Hot + r.nextInt(Customers - Hot)).toLong)
    val byKey = txs.groupBy(_.customer).map { case (k, v) => k -> v.sortBy(_.ts).toSeq }
    val byId = txs.map(t => t.id -> t).toMap
    val errs = mutable.ArrayBuffer.empty[String]
    def sampled(df: DataFrame, key: String, ids: Set[Long]) =
      df.where(col(key).isin(ids.toSeq: _*)).collect()
        .filter(row => r.nextInt(4) == 0 || row.getAs[Long]("transaction_id") % 97 == 0)
    val full = tamper("fullFeatures",
      sampled(store.fullFeatures(tx), "customer_id", keys.toSet), "std_txn_amount_6h")
    if (full.isEmpty) errs += "fullFeatures: no rows for the sampled keys"
    full.foreach { row =>
      val e = byId(row.getAs[Long]("transaction_id"))
      val want = Reference.fullView(byKey(e.customer), e)
      errs ++= diff(s"fullFeatures txn ${e.id}", want.keys.map(k => k -> num(row, k)).toMap, want)
    }
    tamper("customerFeatures", sampled(store.customerFeatures(tx), "customer_id", keys.toSet),
        "unique_ips_1h").foreach { row =>
      val e = byId(row.getAs[Long]("transaction_id"))
      val want = Reference.customerView(byKey(e.customer), e)
      errs ++= diff(s"customerFeatures txn ${e.id}", want.keys.map(k => k -> num(row, k)).toMap, want)
    }
    val byMerchant = txs.groupBy(_.merchant).map { case (k, v) => k -> v.sortBy(_.ts).toSeq }
    val merchants = Seq.fill(4)(s"m${r.nextInt(Merchants)}").toSet
    tamper("merchantFeatures", store.merchantFeatures(tx)
        .where(col("merchant_id").isin(merchants.toSeq: _*)).collect()
        .filter(_ => r.nextInt(8) == 0), "merchant_unique_customers_1h").foreach { row =>
        val e = byId(row.getAs[Long]("transaction_id"))
        val want = Reference.merchantView(byMerchant(e.merchant), e)
        errs ++= diff(s"merchantFeatures txn ${e.id}", want.keys.map(k => k -> num(row, k)).toMap, want)
      }
    val pit = tamper("trainingSet", store.trainingSet(events, probeDf, windows).collect(),
      "txn_count_24h")
    if (pit.length != Probes) errs += s"trainingSet: ${pit.length} rows for $Probes probes"
    val probeById = probes.map(p => p._1 -> p).toMap
    pit.foreach { row =>
      val (id, key, t) = probeById(row.getAs[Long]("probe_id"))
      val keyEvents = byKey.getOrElse(key, Seq.empty)
      val want = Reference.asOf(keyEvents, t, windows)
      val got = want.keys.map(k => k -> num(row, k)).toMap
      // a probe may count only events at or before its own time
      val visible = keyEvents.count(_.ts <= t)
      if (got("txn_count_24h") > visible)
        errs += s"trainingSet probe $id sees ${got("txn_count_24h")} events, only $visible precede it"
      errs ++= diff(s"trainingSet probe $id", got, want)
    }
    errs.toSeq
  }
}

/** Online serving: a TTL snapshot built once, then one `/predict` call
  * per op for one request, collected to the caller.
  */
final class Serve(spark: SparkSession, seed: Long, trace: Trace)
    extends Workload(spark, seed, trace) {
  import Gen.Offline._
  val Now = Gen.T0 + Span; val Ttl = 86400L
  def itemsPerOp: Int = 1
  def warmOps: Int = 15
  def minOps: Int = 45
  def corruptions: Seq[String] = Seq("snapshot", "risk_score", "risk_level", "explanation")

  private var snap: DataFrame = _
  private var txs: Array[Gen.Tx] = _
  private var snapRows: Array[Row] = _
  /** customer -> model features, read back from the stored snapshot. */
  private var table: Map[Long, Map[String, Double]] = _
  private var fresh: Array[Long] = _
  private var expired: Array[Long] = _
  private val r = Gen.rng(seed, 11)
  private var requests: Seq[(Long, Long, Double)] = Nil
  private var reqDf: DataFrame = _
  private var out: Array[Row] = _
  private var nextId = 0L

  def setUp(dir: File): Seq[String] = {
    txs = Gen.transactions(seed, 10, N, Customers, Hot, HotShare, Merchants, Gen.T0, Span)
    val tx = writeRead(txFrame(txs), new File(dir, "tx"))
    val t = System.nanoTime()
    val built = store.customerSnapshot(store.customerFeatures(tx),
      timestamp_micros(lit(Now)), Ttl)
    snap = writeRead(built, new File(dir, "snapshot"))
    trace.setUpMetric("online.snapshot_build_ms", (System.nanoTime() - t) / 1e6)
    snapRows = snap.collect()
    table = snapRows.map(row =>
      row.getAs[Long]("customer_id") -> feats.map(f => f -> num(row, f)).toMap).toMap
    fresh = table.keySet.toArray.sorted
    expired = (txs.map(_.customer).toSet -- table.keySet).toArray.sorted
    if (fresh.isEmpty || expired.isEmpty) Seq("snapshot: the input lacks live or expired keys")
    else Nil
  }

  private val feats = Reference.riskModel.map(_._1)

  /** The snapshot holds exactly the keys seen within the TTL, each with
    * the features of its latest event (ties: highest transaction id).
    */
  override def finish(): Seq[String] = {
    val rows = tamper("snapshot", snapRows, "txn_count_1h")
    val got = rows.map(row =>
      row.getAs[Long]("customer_id") -> feats.map(f => f -> num(row, f)).toMap).toMap
    val byKey = txs.groupBy(_.customer)
    val latest = byKey.map { case (k, v) => k -> v.maxBy(e => (e.ts, e.id)) }
    val live = latest.filter(_._2.ts > Now - Ttl * 1000000L).keySet
    val errs = mutable.ArrayBuffer.empty[String]
    if (got.keySet != live || rows.length != live.size)
      errs += s"snapshot: ${rows.length} keys, reference ${live.size} " +
        s"(${(got.keySet -- live).take(3)} extra, ${(live -- got.keySet).take(3)} missing)"
    got.keySet.intersect(live).toSeq.sorted.foreach { k =>
      val events = byKey(k).sortBy(_.ts).toSeq
      val want = Reference.customerView(events, latest(k)).filter(x => feats.contains(x._1))
      errs ++= diff(s"snapshot customer $k", got(k), want)
    }
    errs.take(8).toSeq
  }

  /** One request: 60% a live key (a third of those hot), 20% a cold-start
    * id never seen, 20% a key whose latest event is past the TTL.
    */
  override def next(): Unit = {
    import spark.implicits._
    requests = Seq.fill(1) {
      nextId += 1
      val u = r.nextDouble()
      val key =
        if (u < 0.2) r.nextInt(Hot).toLong
        else if (u < 0.6) fresh(r.nextInt(fresh.length))
        else if (u < 0.8) Customers + 1000L + r.nextInt(100000)
        else expired(r.nextInt(expired.length))
      (nextId, key, Gen.amount(r))
    }
    reqDf = requests.toDF("request_id", "customer_id", "amount")
  }

  def op(): Unit = {
    val df = call("online.predict_plan")(store.predict(reqDf, snap))
    out = call("scoring.predict_collect")(df.collect())
  }

  private val zeros = Reference.riskModel.map(_._1 -> 0.0).toMap

  override def checkOp(): Seq[String] = {
    val rows = tamper("explanation", tamper("risk_level", tamper("risk_score", out,
      "risk_score"), "risk_level"), "explanation")
    val byId = rows.map(r => r.getAs[Long]("request_id") -> r).toMap
    trace.add("online.cold_start_rows", requests.count(q => !table.contains(q._2)).toDouble)
    val errs = mutable.ArrayBuffer.empty[String]
    if (rows.length != requests.size || byId.size != requests.size)
      errs += s"predict: ${rows.length} rows for ${requests.size} requests"
    requests.foreach { case (id, key, amount) =>
      byId.get(id) match {
        case None => errs += s"predict: request $id missing"
        case Some(row) =>
          val want = Reference.risk(table.getOrElse(key, zeros), amount)
          val score = row.getAs[Double]("risk_score")
          if (row.getAs[Long]("customer_id") != key || !Reference.close(score, want.score))
            errs += s"predict: request $id (customer $key) score $score, reference ${want.score}"
          else if (!want.ambiguous) {
            val level = row.getAs[String]("risk_level")
            val expl = row.getSeq[String](row.fieldIndex("explanation"))
            if (level != want.level || expl != want.explanation)
              errs += s"predict: request $id $level $expl, reference ${want.level} ${want.explanation}"
          }
      }
    }
    errs.take(5).toSeq
  }
}

/** Streaming ingest: micro-batches of events through transformWithState
  * (RocksDB) into the online store, then point reads from the store.
  */
final class Ingest(spark: SparkSession, seed: Long, trace: Trace)
    extends Workload(spark, seed, trace) {
  import Gen.Offline.{Customers, Hot, HotShare, Merchants}
  /** The producer's 10 events/s over one 30 s checkpoint interval. */
  val Batch = 300
  /** Event time one micro-batch covers: 8 warm-up batches (240 h) pass
    * the processor's 7-day horizon, so every timed batch prunes state.
    */
  val BatchSpan: Long = 30 * Gen.HourUs
  /** The load test's 10 users at 1 request/s over the same 30 s. */
  val Reads = 300
  def itemsPerOp: Int = Batch
  def warmOps: Int = 8
  def minOps: Int = 20
  def corruptions: Seq[String] = Seq("rows", "getFresh", "store")

  private var input: MemoryStream[StreamTxn] = _
  private var query: StreamingQuery = _
  private var online: SnapshotStore = _
  private val emitted = spark.sparkContext.longAccumulator("perfbench.ingest.rows")
  private val r = Gen.rng(seed, 21)
  private val history = mutable.Map.empty[Long, mutable.ArrayBuffer[Gen.Tx]]
  private var batchNo = 0
  private var sent = 0L
  private var now = 0L
  private var batch: Seq[StreamTxn] = Nil
  private var reads: Seq[(Long, Option[StreamFeatures])] = Nil
  private var lastBatchId = -1L
  private var writes0 = 0L

  def setUp(dir: File): Seq[String] = {
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    spark.conf.set("spark.sql.streaming.checkpointLocation", new File(dir, "ckpt").getPath)
    input = MemoryStream[StreamTxn]
    val acc = emitted
    val feats = store.streamingCustomerFeatures(input.toDS())
      .mapPartitions(it => it.map { f => acc.add(1); f })
    online = new SnapshotStore()
    query = StreamingSnapshot.start(feats, online)
    Nil
  }

  /** Unique, increasing event times per key inside the batch's span. */
  override def next(): Unit = {
    val start = Gen.T0 + batchNo * BatchSpan
    val times = mutable.TreeSet.empty[Long]
    while (times.size < Batch) times += start + 1 + (r.nextLong() & Long.MaxValue) % BatchSpan
    batch = times.toSeq.map { ts =>
      val c = Gen.customer(r, Customers, Hot, HotShare)
      sent += 1
      val t = Gen.Tx(sent, c, Gen.merchant(r, Merchants), Gen.amount(r), Gen.ip(r, c), ts)
      history.getOrElseUpdate(c, mutable.ArrayBuffer.empty) += t
      StreamTxn(c, ts, t.amount, t.merchant, t.ip, t.id)
    }
    batchNo += 1
    now = start + BatchSpan
    writes0 = online.taskWrites
  }

  def op(): Unit = {
    call("streaming.micro_batch") {
      input.addData(batch)
      query.processAllAvailable()
    }
    val t = System.nanoTime()
    reads = Seq.fill(Reads) {
      val k = Gen.customer(r, Customers, Hot, HotShare)
      k -> online.getFresh(k, now)
    }
    trace.add("online.get_fresh_us", (System.nanoTime() - t) / 1e3 / Reads)
  }

  override def checkOp(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val rows = tamper("rows", emitted.value)
    if (rows != sent) errs += s"ingest: $rows feature rows for $sent events"
    val victim = reads.indexWhere(_._2.isDefined)
    reads.zipWithIndex.foreach { case ((k, read), i) =>
      val got = if (corrupt == "getFresh" && i == victim) read.map(f =>
        f.copy(ts_micros = f.ts_micros - 1)) else read
      val latest = history.get(k).map(_.last.ts)
      val want = latest.filter(_ > now - 86400L * 1000000L)
      if (got.map(_.ts_micros) != want)
        errs += s"ingest: getFresh($k) = ${got.map(_.ts_micros)}, reference $want"
    }
    if (trace.on) {
      val ps = query.recentProgress.filter(_.batchId > lastBatchId)
      ps.foreach { p =>
        lastBatchId = p.batchId
        def d(k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
        trace.add("streaming.trigger_ms", d("triggerExecution"))
        trace.add("streaming.add_batch_ms", d("addBatch"))
        trace.add("streaming.query_planning_ms", d("queryPlanning"))
        trace.add("streaming.wal_commit_ms", d("walCommit"))
        trace.add("streaming.commit_offsets_ms", d("commitOffsets"))
        p.stateOperators.headOption.foreach { s =>
          trace.add("streaming.state_rows", s.numRowsTotal.toDouble)
          trace.add("streaming.state_memory_mb", s.memoryUsedBytes / 1048576.0)
          trace.add("streaming.state_commit_ms", s.commitTimeMs.toDouble)
          trace.add("streaming.state_rows_removed", s.numRowsRemoved.toDouble)
          Option(s.customMetrics.get("rocksdbTotalBytesWritten")).foreach(b =>
            trace.add("streaming.rocksdb_bytes_written_mb", b.doubleValue / 1048576.0))
        }
      }
      trace.add("online.upsert_calls", (online.taskWrites - writes0).toDouble)
      trace.add("online.store_keys", online.size.toDouble)
    }
    errs.take(5).toSeq
  }

  /** The store holds each key's latest row, with the features a
    * brute-force trailing window gives for that event.
    */
  override def finish(): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (online.size != history.size)
      errs += s"ingest: store holds ${online.size} keys, ${history.size} were sent"
    if (online.driverWrites != 0) errs += s"ingest: ${online.driverWrites} upserts ran on the driver"
    val sr = Gen.rng(seed, 22)
    val sample = ((0L until 3L) ++ Seq.fill(12)((Hot + sr.nextInt(Customers - Hot)).toLong))
      .filter(history.contains).toSet
    history.foreach { case (k, evs) =>
      online.get(k) match {
        case None => errs += s"ingest: key $k missing from the store"
        case Some(f) if f.ts_micros != evs.last.ts =>
          errs += s"ingest: key $k holds ts ${f.ts_micros}, latest is ${evs.last.ts}"
        case Some(stored) if sample(k) =>
          val f = if (corrupt == "store") stored.copy(txn_count_10m = stored.txn_count_10m + 1)
            else stored
          val want = Reference.customerView(evs.toSeq, evs.last)
          val got = want.keys.map(n => n -> (f.productElement(
            f.productElementNames.indexOf(n)) match {
              case l: Long => l.toDouble
              case d: Double => d
            })).toMap
          errs ++= diff(s"ingest store key $k", got, want)
        case _ => ()
      }
    }
    errs.take(10).toSeq
  }

  override def tearDown(): Unit = if (query != null) {
    query.stop()
    query.awaitTermination()
  }
}

/** Corpus dedup: Jaccard top-k, near-dup groups, incremental dedup and
  * fuzzy eval contamination on a fresh seeded shard per op.
  */
final class Dedupe(spark: SparkSession, seed: Long, trace: Trace)
    extends Workload(spark, seed, trace) {
  val Docs = 250; val CorpusDocs = 190; val PlantedDups = 8; val PlantedLeaks = 12
  val N = 3; val DfCut = 20; val K = 40; val Tau = 0.7; val MaxHamming = 3
  def itemsPerOp: Int = Docs
  def warmOps: Int = 1
  def minOps: Int = 2
  def corruptions: Seq[String] = Seq("jaccardTopK", "neardupGroups", "incrementalDedup",
    "fuzzyContamination")

  private var dir: File = _
  private var shardNo = 0
  private var texts: Map[Long, String] = Map.empty
  private var plantedDups: Seq[(Long, Long)] = Nil
  private var plantedLeaks: Seq[(Long, Long)] = Nil
  private var shard: DataFrame = _
  private var pinned0 = 0
  private var cached0 = 0L
  private var topk: Array[Row] = _
  private var groups: Array[Row] = _
  private var inc: Array[Row] = _
  private var fuzzy: Array[Row] = _

  def setUp(d: File): Seq[String] = { dir = d; Nil }

  /** Shard i: the first `CorpusDocs` docs are the corpus, the rest the
    * delta / eval set. Planted: `PlantedDups` docs in the corpus's second
    * half copy a doc of its first half; `PlantedLeaks` delta docs copy a
    * corpus doc (a duplicate for incremental dedup and a leak for the
    * contamination screen). Copies differ in case and whitespace only.
    */
  override def next(): Unit = {
    import spark.implicits._
    val r = Gen.rng(seed, 1000 + shardNo)
    val base = (shardNo + 1) * 1000000L
    shardNo += 1
    val body = Array.fill(Docs)(Gen.text(r))
    val dupAt = r.shuffle((CorpusDocs / 2 until CorpusDocs).toList).take(PlantedDups)
    val leakAt = r.shuffle((CorpusDocs until Docs).toList).take(PlantedLeaks)
    val src = (dupAt ++ leakAt).map(j => j -> r.nextInt(CorpusDocs / 2)).toMap
    src.foreach { case (j, k) => body(j) = Gen.recase(r, body(k)) }
    texts = body.indices.map(j => (base + j) -> body(j)).toMap
    plantedDups = dupAt.map(j => (base + src(j), base + j))
    plantedLeaks = leakAt.map(j => (base + src(j), base + j))
    val rows = body.indices.map(j => (base + j, body(j), j >= CorpusDocs))
    shard = writeRead(rows.toDF("doc_id", "text", "is_eval"), new File(dir, s"shard$shardNo"))
    if (trace.on) { pinned0 = spark.sparkContext.getPersistentRDDs.size; cached0 = cachedBytes }
  }

  private def cachedBytes: Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def op(): Unit = {
    val id = col("doc_id"); val text = col("text")
    topk = call("scale.jaccard_topk")(Dedup.jaccardTopK(shard, id, text, N, DfCut, K).collect())
    groups = call("scale.neardup_groups")(Dedup.neardupGroups(shard, id, text, N, Tau).collect())
    inc = call("scale.incremental_dedup")(Dedup.incrementalDedup(
      shard.where(!col("is_eval")), shard.where(col("is_eval")), id, text, N, Tau).collect())
    fuzzy = call("scale.fuzzy_contamination")(
      Dedup.fuzzyContamination(shard, id, text, col("is_eval"), MaxHamming).collect())
  }

  override def checkOp(): Seq[String] = {
    if (trace.on) {
      trace.add("scale.pinned_rdds_left", spark.sparkContext.getPersistentRDDs.size - pinned0)
      trace.add("scale.cached_mb_left", (cachedBytes - cached0) / 1048576.0)
    }
    val sh = texts.map { case (k, t) => k -> Reference.shingles(t, N) }
    val ids = texts.keys.toSeq.sorted
    val corpus = ids.take(CorpusDocs); val delta = ids.drop(CorpusDocs)
    val errs = mutable.ArrayBuffer.empty[String]

    // jaccardTopK: the exact top-k over shingles kept by the df cut
    val df = sh.values.toSeq.flatMap(_.toSeq).groupBy(identity).map(x => x._1 -> x._2.size)
    val kept = sh.map { case (k, s) => k -> s.filter(df(_) <= DfCut) }
    val pairs = for {
      (a, i) <- ids.zipWithIndex; b <- ids.drop(i + 1)
      inter = kept(a).intersect(kept(b)).size if inter > 0
    } yield (a, b, inter, inter.toDouble / (kept(a).size + kept(b).size - inter))
    val want = pairs.sortBy(p => (-p._4, p._1, p._2)).take(K)
    val got = tamper("jaccardTopK", topk, "jaccard").map(r => (lng(r, "doc1"), lng(r, "doc2"),
      lng(r, "inter").toInt, r.getAs[Double]("jaccard"))).toSeq
    if (got.map(g => (g._1, g._2, g._3)) != want.map(w => (w._1, w._2, w._3)))
      errs += s"jaccardTopK: ${got.take(3)} ..., reference ${want.take(3)} ..."
    got.zip(want).find(p => !Reference.close(p._1._4, p._2._4, 1e-12)).foreach(p =>
      errs += s"jaccardTopK: pair ${p._1} jaccard, reference ${p._2._4}")

    // neardupGroups: one row per doc; groups joined only through pairs
    // whose Jaccard (recomputed from the texts) reaches tau; planted
    // copies grouped with their source
    val groups = tamper("neardupGroups", this.groups, "canonical_id")
    val canon = groups.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("canonical_id")).toMap
    if (groups.length != Docs || canon.keySet != texts.keySet)
      errs += s"neardupGroups: ${groups.length} rows for $Docs docs"
    groups.groupBy(_.getAs[Long]("canonical_id")).foreach { case (c, rows) =>
      val members = rows.map(_.getAs[Long]("doc_id")).toSet
      if (members.min != c || rows.exists(_.getAs[Long]("group_size") != members.size))
        errs += s"neardupGroups: group $c has members ${members.take(5)}"
      var reached = Set(members.min); var frontier = reached
      while (frontier.nonEmpty) {
        frontier = members.filter(m => !reached(m) &&
          frontier.exists(f => Reference.jaccard(sh(f), sh(m)) >= Tau))
        reached ++= frontier
      }
      if (reached != members)
        errs += s"neardupGroups: group $c joins ${(members -- reached).take(3)} without a pair >= $Tau"
    }
    plantedDups.foreach { case (a, b) =>
      if (canon.get(a) != canon.get(b)) errs += s"neardupGroups: planted copy $b not grouped with $a"
    }

    // incrementalDedup: each delta doc once; the reported match's
    // Jaccard recomputes; planted copies found with Jaccard 1
    val inc = tamper("incrementalDedup", this.inc, "jaccard")
    val incBy = inc.map(r => r.getAs[Long]("doc_id") -> r).toMap
    if (inc.length != delta.size || incBy.keySet != delta.toSet)
      errs += s"incrementalDedup: ${inc.length} rows for ${delta.size} delta docs"
    incBy.foreach { case (d, r) =>
      val m = r.getAs[Long]("match_id"); val j = r.getAs[Double]("jaccard")
      val dup = r.getAs[Boolean]("is_dup")
      val ok = if (m == -1L) j == 0.0 && !dup
        else sh.contains(m) && m < delta.head &&
          Reference.close(j, Reference.jaccard(sh(d), sh(m)), 1e-12) && dup == (j >= Tau)
      if (!ok) errs += s"incrementalDedup: doc $d -> match $m jaccard $j is_dup $dup"
    }
    plantedLeaks.foreach { case (src, d) =>
      val best = corpus.filter(c => Reference.jaccard(sh(c), sh(d)) == 1.0).min
      incBy.get(d).foreach { r =>
        if (r.getAs[Long]("match_id") != best || !r.getAs[Boolean]("is_dup"))
          errs += s"incrementalDedup: planted copy $d of $src matched ${r.getAs[Long]("match_id")}"
      }
    }

    // fuzzyContamination: brute-force banded candidates (4 bands of 8
    // bits) and min hamming for every eval doc
    val fp = texts.flatMap { case (k, t) => Reference.simhash32(t).map(k -> _) }
    def keys(f: Long) = (0 until 4).map(b => b -> ((f >>> (8 * b)) & 0xffL))
    val train = corpus.filter(fp.contains)
    val wantF = delta.filter(fp.contains).flatMap { e =>
      val ek = keys(fp(e)).toSet
      val cands = train.filter(t => keys(fp(t)).exists(ek))
      if (cands.isEmpty) None
      else {
        val (h, m) = cands.map(t => (Reference.hamming(fp(e), fp(t)), t)).min
        Some(e -> (cands.size.toLong, h, m, h <= MaxHamming))
      }
    }.toMap
    val gotF = tamper("fuzzyContamination", fuzzy, "min_hamming").map(r => lng(r, "eval_id") ->
      (lng(r, "n_cands"), lng(r, "min_hamming").toInt, lng(r, "match_id"),
        r.getAs[Boolean]("leaked"))).toMap
    if (gotF != wantF) {
      val bad = (gotF.keySet ++ wantF.keySet).filter(k => gotF.get(k) != wantF.get(k)).take(3)
      errs += s"fuzzyContamination: ${bad.map(k => s"$k ${gotF.get(k)} vs ${wantF.get(k)}")}"
    }
    plantedLeaks.foreach { case (src, d) =>
      if (!gotF.get(d).exists(_._4)) errs += s"fuzzyContamination: planted leak $d of $src not flagged"
    }
    errs.take(8).toSeq
  }
}
