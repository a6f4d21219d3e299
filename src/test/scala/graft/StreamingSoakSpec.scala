package graft

import graft.streaming.{MarkovScore, StreamingFeatures, StreamTxn, StreamTxnTs}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Event-time soak at ~10x the other streaming tests' state (hundreds of
  * keys, thousands of events) on RocksDB, with a mid-stream restart from
  * the checkpoint: the state that survives must be O(live windows), not
  * O(history) — the idle-key event-time timers and the per-key trailing
  * cutoff must prune everything older than the longest window, and the
  * restarted query must keep producing batch-correct features.
  */
class StreamingSoakSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private val T0 = java.sql.Timestamp.valueOf("2024-01-10 12:00:00").getTime // ms

  private def txn(key: Long, offsetSec: Long, amount: Double) =
    StreamTxnTs(key, new java.sql.Timestamp(T0 + offsetSec * 1000L),
      amount, s"m${key % 7}", s"ip${key % 11}")

  test("10x-state soak: restart mid-stream, idle keys pruned to O(live), features stay correct") {
    import spark.implicits._
    val nKeys = 200
    val perKey = 10 // phase A: 2000 events across 200 keys

    // phase A: every key active, events spread over 1 hour
    val phaseA = for {
      k <- 1 to nKeys; i <- 0 until perKey
    } yield txn(k.toLong, i * 360L + (k % 60), 10.0 + (i % 5))
    val (a1, a2) = phaseA.partition(_.event_time.getTime < T0 + 1800 * 1000L)

    val ckpt = java.nio.file.Files.createTempDirectory("graft-soak-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-soak-out").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxnTs]

    def start() = StreamingFeatures.customerFeaturesEventTime(input.toDS(), "10 seconds")
      .writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    // run 1: first half of phase A, then KILL mid-stream
    val q1 = start()
    try { input.addData(a1); q1.processAllAvailable() } finally q1.stop()

    // run 2 (recovered from checkpoint): rest of phase A, then phase B —
    // only 10 keys stay live, 8 DAYS later (past the 7d max window), so
    // the watermark jump expires the other 190 keys' timers
    val q2 = start()
    val liveKeys = (1 to 10).map(_.toLong)
    val phaseB = liveKeys.map(k => txn(k, 8L * 86400 + k, 500.0))
    val lastProgress = try {
      input.addData(a2); q2.processAllAvailable()
      input.addData(phaseB); q2.processAllAvailable()
      // one more batch: timers fire against the advanced watermark
      input.addData(Seq(txn(1L, 8L * 86400 + 3600, 1.0))); q2.processAllAvailable()
      q2.lastProgress
    } finally q2.stop()

    // 1) completeness across the restart: one feature row per event
    val out = spark.read.parquet(outDir)
    assert(out.count() == phaseA.size + phaseB.size + 1,
      s"rows ${out.count()} vs ${phaseA.size + phaseB.size + 1}")

    // 2) correctness after restart: each phase-B event is its key's only
    // event in every trailing window (the phase-A history is > 7d old,
    // outside even the longest frame)
    val b = out.where(col("amount") === 500.0)
      .select(col("customer_id"), col("txn_count_1h"), col("txn_count_60s"),
        col("txn_amount_sum_1h"))
      .collect()
    assert(b.length == liveKeys.size)
    b.foreach { r =>
      assert(r.getLong(1) == 1 && r.getLong(2) == 1 && r.getDouble(3) == 500.0,
        s"phase-B row not isolated from expired history: $r")
    }

    // 3) pruning: surviving state rows are O(live keys), not O(200 keys x
    // history). transformWithState reports per-state-var rows; the
    // history list must have shed the 190 idle keys via their timers.
    val stateOps = lastProgress.stateOperators
    assert(stateOps.nonEmpty, "no state operator progress reported")
    val totalRows = stateOps.map(_.numRowsTotal).sum
    // live keys (10) + the one tail key; allow slack for impl-detail rows
    // (timer entries) but the 190 expired keys' histories must be gone
    assert(totalRows <= 3L * (liveKeys.size + 1),
      s"state not pruned to live keys: $totalRows rows\n$lastProgress")
  }

  test("markov scorer: prev-symbol state survives a checkpoint restart") {
    import spark.implicits._
    // fixed model so expected NLLs are hand-checkable rationals
    val model = graft.ops.AmlPatterns.MarkovModel(
      Map(("A", "B") -> 3L, ("B", "A") -> 2L, ("A", "A") -> 1L),
      Map("A" -> 4L, "B" -> 2L), vocab = 2L)
    def ev(c: Long, i: Long, m: String) = StreamTxn(c, i * 1000000L, 1.0, m, "ip")
    // kill between the halves: every post-restart transition depends on a
    // prev symbol recovered from the checkpointed state
    val h1 = Seq(ev(1, 1, "A"), ev(1, 2, "B"), ev(2, 1, "B"))
    val h2 = Seq(ev(1, 3, "A"), ev(2, 2, "A"), ev(2, 3, "A"))

    val ckpt = java.nio.file.Files.createTempDirectory("graft-mkv-ckpt").toString
    val outDir = java.nio.file.Files.createTempDirectory("graft-mkv-out").toString
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[StreamTxn]
    def start() = StreamingFeatures.markovScores(input.toDS(), model)
      .writeStream.format("parquet").option("path", outDir)
      .outputMode("append").option("checkpointLocation", ckpt).start()

    val q1 = start()
    try { input.addData(h1); q1.processAllAvailable() } finally q1.stop()
    val q2 = start()
    try { input.addData(h2); q2.processAllAvailable() } finally q2.stop()

    val out = spark.read.parquet(outDir).as[MarkovScore].collect()
      .map(s => (s.customer_id, s.ts_micros) -> s).toMap
    assert(out.keySet == Set((1L, 2000000L), (1L, 3000000L),
      (2L, 2000000L), (2L, 3000000L)), out.keySet.toString)
    def nllOf(k: (Long, Long)) = out(k).nll
    assert(nllOf((1L, 2000000L)) == -math.log(4.0 / 6)) // A->B: (3+1)/(4+2)
    // cross-restart transitions: prev B and prev B from run 1's state
    assert(out((1L, 3000000L)).prev_merchant == "B")
    assert(nllOf((1L, 3000000L)) == -math.log(3.0 / 4)) // B->A: (2+1)/(2+2)
    assert(out((2L, 2000000L)).prev_merchant == "B")
    assert(nllOf((2L, 2000000L)) == -math.log(3.0 / 4)) // B->A
    assert(nllOf((2L, 3000000L)) == -math.log(2.0 / 6)) // A->A: (1+1)/(4+2)
  }
}
