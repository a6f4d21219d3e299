package graft.streaming

import org.apache.spark.sql.{Column, Dataset, Encoder, Encoders}
import org.apache.spark.sql.streaming._
import java.time.{Instant, ZoneOffset}

/** Streaming input event (the reference's transaction record mapped onto
  * the engine's canonical columns). `transaction_id` carries the batch
  * tables' unique event id so order-sensitive processors can tiebreak
  * same-timestamp events exactly like their batch twins; synthetic
  * fixtures that don't care may leave the default.
  */
case class StreamTxn(customer_id: Long, ts_micros: Long, amount: Double,
                     merchant_id: String, ip_address: String,
                     transaction_id: Long = 0L)

/** Shared streaming/batch numeric conventions. */
object StreamConv {
  /** Integer cents with the SAME rounding as the batch operators'
    * `round(amount * 100)` (Spark = HALF_UP, away from zero):
    * `math.round` alone rounds half-values toward +∞, which diverges on
    * negative amounts (refunds/reversals): HALF_UP(-100.5) = -101 but
    * `math.round(-100.5)` = -100 — a silent online/offline feature skew.
    */
  def cents(amount: Double): Long = {
    val r = math.round(math.abs(amount) * 100)
    if (amount < 0) -r else r
  }
}

/** One emitted feature vector per input event — the reference job-1 view
  * (`flink_job/aml_stream_processor.py:130-201`) plus the declared 24h/7d
  * windows (`feature_repo/definitions.py:65-79`).
  */
case class StreamFeatures(
    customer_id: Long, ts_micros: Long, amount: Double,
    txn_amount_sum_60s: Double, txn_amount_sum_5m: Double, txn_amount_sum_1h: Double,
    txn_count_60s: Long, txn_count_5m: Long, txn_count_10m: Long, txn_count_1h: Long,
    unique_ips_1h: Long, unique_merchants_1h: Long,
    velocity_score_1h: Double, amount_deviation_score_1h: Double,
    night_txn_count_24h: Long, weekend_txn_count_7d: Long,
    avg_txn_amount_1h: Double, max_txn_amount_1h: Double)

/** Per-event trailing-window features with keyed list state — the one
  * operator Structured Streaming lacks natively (SURVEY §2.9): tumbling/
  * sliding windows emit per window close; the reference emits a feature
  * vector per EVENT over that key's trailing (t-W, t] history.
  *
  * `transformWithState` (Spark 4 StatefulProcessor, RocksDB-backed):
  * ListState holds the key's events inside the longest window (7 d);
  * each incoming event appends, computes every window over the in-frame
  * slice, emits one row, and the state is pruned to the newest event's
  * 7-day horizon. State is O(events in 7 d) per key, pruning is O(expired).
  *
  * The batch range-frame operator (`CoreFeatures.customerFeatures`) is
  * the correctness oracle for this processor, within what the tests
  * check. StreamingSpec feeds both the same events in two ordered
  * micro-batches: the counts, distinct counts, night and weekend counts
  * match exactly, and `txn_amount_sum_1h` and `amount_deviation_score_1h`
  * match after rounding to 6 dp. They are not bit-equal in general: the
  * std here is a two-pass sum of squares, Spark's `stddev_pop` a Welford
  * fold. The other sums, averages, maxima and the velocity score are not
  * compared with the batch view.
  */
class CustomerFeatureProcessor extends StatefulProcessor[Long, StreamTxn, StreamFeatures] {
  import CustomerFeatureProcessor._

  @transient private var history: ListState[StreamTxn] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    history = getHandle.getListState[StreamTxn]("history", Encoders.product[StreamTxn], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[StreamTxn],
                               timerValues: TimerValues): Iterator[StreamFeatures] = {
    val incoming = rows.toArray.sortBy(_.ts_micros)
    if (incoming.isEmpty) return Iterator.empty
    val all = (history.get().toArray ++ incoming).sortBy(_.ts_micros)
    // features for each NEW event over the full merged history
    val out = featuresBatch(incoming, all)
    // prune relative to the newest event; computed rows above already hold
    // the history they needed, so pruning after the fact is safe
    val cutoff = all.last.ts_micros - MaxWindowMicros
    val keep = all.filter(_.ts_micros > cutoff)
    history.clear()
    history.appendList(keep)
    out
  }
}

object CustomerFeatureProcessor {
  val MaxWindowMicros: Long = 7L * 86400 * 1000000

  private def inWindow(all: Array[StreamTxn], t: Long, secs: Long): Array[StreamTxn] =
    all.filter(x => x.ts_micros <= t && x.ts_micros > t - secs * 1000000L)

  /** First index i with ts(i) > t (upper bound on the sorted array) —
    * frame (t-W, t] is then the index range [ub(t-W), ub(t)).
    */
  private def ub(ts: Array[Long], t: Long): Int = {
    var lo = 0; var hi = ts.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (ts(mid) <= t) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** Per-batch feature computation. Window membership is resolved with
    * binary search on the sorted history (O(log n) per frame, not an
    * O(n) filter scan per event), and the long-window integer counts
    * (night 24h / weekend 7d) come from prefix sums — O(1) per event.
    * Float aggregates still accumulate left-to-right over the exact frame
    * slice, so every field is bit-equal to the per-event [[features]]
    * (PropertySpec checks this on random sequences); how both compare
    * with the batch range-frame operator is stated on the processor
    * class. The O(state)-per-event rescan was the reference's own
    * anti-pattern (SURVEY §4.1).
    */
  def featuresBatch(incoming: Array[StreamTxn], all: Array[StreamTxn]): Iterator[StreamFeatures] = {
    val n = all.length
    val ts = new Array[Long](n)
    val nightPre = new Array[Int](n + 1)
    val weekendPre = new Array[Int](n + 1)
    var i = 0
    while (i < n) {
      val t = all(i).ts_micros
      ts(i) = t
      nightPre(i + 1) = nightPre(i) + (if (isNight(t)) 1 else 0)
      weekendPre(i + 1) = weekendPre(i) + (if (isWeekend(t)) 1 else 0)
      i += 1
    }
    incoming.iterator.map { e =>
      val t = e.ts_micros
      val hi = ub(ts, t)
      def lo(secs: Long): Int = ub(ts, t - secs * 1000000L)
      val lo60 = lo(60); val lo5m = lo(300); val lo10m = lo(600)
      val lo1h = lo(3600); val lo24h = lo(86400); val lo7d = lo(604800)
      // 1h frame slice: float sums/max and distincts accumulate in frame
      // order, matching the batch operator's evaluation exactly
      var sum1h = 0.0; var max1h = Double.NegativeInfinity
      val ips = new scala.collection.mutable.HashSet[String]
      val merchants = new scala.collection.mutable.HashSet[String]
      var j = lo1h
      while (j < hi) {
        val x = all(j)
        sum1h += x.amount
        if (x.amount > max1h) max1h = x.amount
        ips += x.ip_address; merchants += x.merchant_id
        j += 1
      }
      val n1h = hi - lo1h
      val mean1h = sum1h / n1h
      var sq = 0.0
      j = lo1h
      while (j < hi) { val d = all(j).amount - mean1h; sq += d * d; j += 1 }
      val std1h = if (n1h <= 1) 0.0 else math.sqrt(sq / n1h)
      var sum60 = 0.0; j = lo60
      while (j < hi) { sum60 += all(j).amount; j += 1 }
      var sum5m = 0.0; j = lo5m
      while (j < hi) { sum5m += all(j).amount; j += 1 }
      StreamFeatures(
        customer_id = e.customer_id, ts_micros = t, amount = e.amount,
        txn_amount_sum_60s = sum60, txn_amount_sum_5m = sum5m, txn_amount_sum_1h = sum1h,
        txn_count_60s = hi - lo60, txn_count_5m = hi - lo5m,
        txn_count_10m = hi - lo10m, txn_count_1h = n1h,
        unique_ips_1h = ips.size, unique_merchants_1h = merchants.size,
        velocity_score_1h = n1h / 60.0,
        amount_deviation_score_1h = std1h,
        night_txn_count_24h = nightPre(hi) - nightPre(lo24h),
        weekend_txn_count_7d = weekendPre(hi) - weekendPre(lo7d),
        avg_txn_amount_1h = mean1h,
        max_txn_amount_1h = max1h)
    }
  }

  private def hourOf(micros: Long): Int =
    Instant.ofEpochSecond(micros / 1000000).atZone(ZoneOffset.UTC).getHour

  private def isWeekend(micros: Long): Boolean = {
    val d = Instant.ofEpochSecond(micros / 1000000).atZone(ZoneOffset.UTC).getDayOfWeek
    d.getValue >= 6 // ISO Sat=6 Sun=7 == Python weekday()>=5
  }

  private def isNight(micros: Long): Boolean = {
    val h = hourOf(micros); h < 6 || h > 22
  }

  /** Exactly the batch window semantics: strict (t-W, t], population
    * stddev, distinct over the raw in-frame events.
    */
  def features(e: StreamTxn, all: Array[StreamTxn]): StreamFeatures = {
    val t = e.ts_micros
    val w60 = inWindow(all, t, 60)
    val w5m = inWindow(all, t, 300)
    val w10m = inWindow(all, t, 600)
    val w1h = inWindow(all, t, 3600)
    val w24h = inWindow(all, t, 86400)
    val w7d = inWindow(all, t, 604800)
    val amts1h = w1h.map(_.amount)
    val mean1h = amts1h.sum / amts1h.length
    val std1h =
      if (amts1h.length <= 1) 0.0
      else math.sqrt(amts1h.map(a => (a - mean1h) * (a - mean1h)).sum / amts1h.length)
    StreamFeatures(
      customer_id = e.customer_id, ts_micros = t, amount = e.amount,
      txn_amount_sum_60s = w60.map(_.amount).sum,
      txn_amount_sum_5m = w5m.map(_.amount).sum,
      txn_amount_sum_1h = amts1h.sum,
      txn_count_60s = w60.length, txn_count_5m = w5m.length,
      txn_count_10m = w10m.length, txn_count_1h = w1h.length,
      unique_ips_1h = w1h.map(_.ip_address).distinct.length,
      unique_merchants_1h = w1h.map(_.merchant_id).distinct.length,
      velocity_score_1h = w1h.length / 60.0,
      amount_deviation_score_1h = std1h,
      night_txn_count_24h = w24h.count(x => isNight(x.ts_micros)),
      weekend_txn_count_7d = w7d.count(x => isWeekend(x.ts_micros)),
      avg_txn_amount_1h = mean1h,
      max_txn_amount_1h = amts1h.max)
  }
}

/** Timestamp-typed stream event — the event-time pipeline's wire format
  * (watermarks need a TimestampType column).
  */
case class StreamTxnTs(customer_id: Long, event_time: java.sql.Timestamp,
                       amount: Double, merchant_id: String, ip_address: String)

/** Event-time variant (SURVEY §2.9): watermark-driven. The reference
  * DECLARES event time but assigns processing-time timestamps
  * (`aml_stream_processor.py:353-355`) — here the semantics are done
  * right: rows later than the watermark never reach the processor (the
  * reference's try/except drop, made principled), and a per-key
  * event-time timer clears state for keys idle past the longest window —
  * cleanup is O(expired keys), not O(live state).
  */
class CustomerFeatureProcessorEventTime
    extends StatefulProcessor[Long, StreamTxnTs, StreamFeatures] {
  import CustomerFeatureProcessor._

  @transient private var history: ListState[StreamTxn] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    history = getHandle.getListState[StreamTxn]("history", Encoders.product[StreamTxn], TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[StreamTxnTs],
                               timerValues: TimerValues): Iterator[StreamFeatures] = {
    val incoming = rows.map(r => StreamTxn(r.customer_id,
        r.event_time.getTime * 1000 + (r.event_time.getNanos / 1000) % 1000,
        r.amount, r.merchant_id, r.ip_address))
      .toArray.sortBy(_.ts_micros)
    if (incoming.isEmpty) return Iterator.empty
    val all = (history.get().toArray ++ incoming).sortBy(_.ts_micros)
    val out = featuresBatch(incoming, all)
    val cutoff = all.last.ts_micros - MaxWindowMicros
    history.clear()
    history.appendList(all.filter(_.ts_micros > cutoff))
    // re-arm the idle-key cleanup timer one max-window past the newest event
    getHandle.listTimers().foreach(t => getHandle.deleteTimer(t))
    getHandle.registerTimer(all.last.ts_micros / 1000 + MaxWindowMicros / 1000 + 1000)
    out
  }

  override def handleExpiredTimer(key: Long, timerValues: TimerValues,
                                  expiredTimerInfo: ExpiredTimerInfo): Iterator[StreamFeatures] = {
    // watermark passed newest-event + max-window: nothing can be in range
    history.clear()
    Iterator.empty
  }
}

/** Merchant-entity view (SURVEY A9/A10): the same trailing-window state
  * machine keyed by merchant — the reference's keyed fan-out consumes one
  * stream under two keys (`aml_stream_processor.py:363-370`).
  */
case class MerchantFeatures(
    merchant_id: String, ts_micros: Long,
    merchant_txn_count_1h: Long, merchant_txn_amount_sum_1h: Double,
    merchant_avg_txn_amount_1h: Double, merchant_unique_customers_1h: Long)

class MerchantFeatureProcessor extends StatefulProcessor[String, StreamTxn, MerchantFeatures] {
  @transient private var history: ListState[StreamTxn] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    history = getHandle.getListState[StreamTxn]("mhistory", Encoders.product[StreamTxn], TTLConfig.NONE)

  override def handleInputRows(key: String, rows: Iterator[StreamTxn],
                               timerValues: TimerValues): Iterator[MerchantFeatures] = {
    val incoming = rows.toArray.sortBy(_.ts_micros)
    if (incoming.isEmpty) return Iterator.empty
    val all = (history.get().toArray ++ incoming).sortBy(_.ts_micros)
    val out = incoming.iterator.map { e =>
      val t = e.ts_micros
      val w1h = all.filter(x => x.ts_micros <= t && x.ts_micros > t - 3600000000L)
      MerchantFeatures(key, t,
        w1h.length,
        w1h.map(_.amount).sum,
        w1h.map(_.amount).sum / w1h.length,
        w1h.map(_.customer_id).distinct.length)
    }
    val cutoff = all.last.ts_micros - 3600000000L
    history.clear()
    history.appendList(all.filter(_.ts_micros > cutoff))
    out
  }
}

/** Streaming graph-degree view (SURVEY G10, reference
  * `real_time_processor.py:314-332`): per customer, the count of distinct
  * merchant / IP edge keys seen so far, emitted per event.
  *
  * The reference SCANS its whole MapState per event
  * (`key.startswith("cm:{cust}:")`) — O(state). Here the edge set lives
  * in MapState (edge key -> first-seen micros) and the degrees in
  * ValueState counters bumped only when `containsKey` misses, so each
  * event costs O(1) state lookups regardless of a hub customer's degree.
  */
case class GraphDegrees(customer_id: Long, ts_micros: Long,
                        graph_merchant_degree: Long, graph_ip_degree: Long,
                        graph_total_degree: Long)

class GraphDegreeProcessor extends StatefulProcessor[Long, StreamTxn, GraphDegrees] {
  @transient private var edges: MapState[String, Long] = _
  @transient private var merchantDeg: ValueState[Long] = _
  @transient private var ipDeg: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    edges = getHandle.getMapState[String, Long]("edges",
      Encoders.STRING, Encoders.scalaLong, TTLConfig.NONE)
    merchantDeg = getHandle.getValueState[Long]("mdeg", Encoders.scalaLong, TTLConfig.NONE)
    ipDeg = getHandle.getValueState[Long]("ideg", Encoders.scalaLong, TTLConfig.NONE)
  }

  override def handleInputRows(key: Long, rows: Iterator[StreamTxn],
                               timerValues: TimerValues): Iterator[GraphDegrees] = {
    var m = if (merchantDeg.exists()) merchantDeg.get() else 0L
    var i = if (ipDeg.exists()) ipDeg.get() else 0L
    val out = rows.toArray.sortBy(_.ts_micros).iterator.map { e =>
      val mk = "m:" + e.merchant_id
      val ik = "i:" + e.ip_address
      if (!edges.containsKey(mk)) { edges.updateValue(mk, e.ts_micros); m += 1 }
      if (!edges.containsKey(ik)) { edges.updateValue(ik, e.ts_micros); i += 1 }
      GraphDegrees(key, e.ts_micros, m, i, m + i)
    }.toArray
    merchantDeg.update(m)
    ipDeg.update(i)
    out.iterator
  }
}

/** Per-event transition score under an offline-fitted Markov model (the
  * q193 sequence-model scorer served online, like the trained LR in
  * [[StreamingFeatures.scoredCustomerFeatures]]). State per customer is
  * ONE value — the previous merchant symbol — so the store is O(entities)
  * regardless of history length; the model rides in the closure
  * (model-size broadcast, ≤ V² entries). A customer's first event opens
  * the sequence and emits no transition.
  */
case class MarkovScore(customer_id: Long, ts_micros: Long,
                       prev_merchant: String, merchant_id: String, nll: Double)

class MarkovScoreProcessor(model: graft.ops.AmlPatterns.MarkovModel)
    extends StatefulProcessor[Long, StreamTxn, MarkovScore] {
  @transient private var prev: ValueState[String] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    prev = getHandle.getValueState[String]("prev", Encoders.STRING, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[StreamTxn],
                               timerValues: TimerValues): Iterator[MarkovScore] = {
    var p = if (prev.exists()) prev.get() else null
    // (ts, transaction_id) tiebreak matches the batch q193 order exactly
    // when the feed carries the batch event ids (the serving path does);
    // the payload fallback then fixes same-timestamp order for synthetic
    // fixtures that leave transaction_id at its default. Ties split
    // ACROSS micro-batches still score in arrival order — no stream can
    // reorder batches it has already emitted — so exact parity needs the
    // tied pair to land in one micro-batch (or unique per-customer
    // timestamps, which the equality spec asserts of its fixture).
    val out = rows.toArray
      .sortBy(e => (e.ts_micros, e.transaction_id, e.merchant_id, e.amount, e.ip_address))
      .flatMap { e =>
        val r = Option(p).map(pm =>
          MarkovScore(key, e.ts_micros, pm, e.merchant_id, model.nll(pm, e.merchant_id)))
        p = e.merchant_id
        r
      }
    prev.update(p)
    out.iterator
  }
}

object StreamingFeatures {
  /** Wire the processor onto a stream of events. The session must use the
    * RocksDB state store provider (transformWithState requirement).
    */
  def customerFeatures(events: Dataset[StreamTxn]): Dataset[StreamFeatures] = {
    implicit val enc: Encoder[StreamFeatures] = Encoders.product[StreamFeatures]
    events.groupByKey(_.customer_id)(Encoders.scalaLong)
      .transformWithState(new CustomerFeatureProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Event-time pipeline: watermark bounds lateness; timers clean idle
    * keys (TimeMode.EventTime).
    */
  def customerFeaturesEventTime(events: Dataset[StreamTxnTs],
                                delay: String): Dataset[StreamFeatures] = {
    implicit val enc: Encoder[StreamFeatures] = Encoders.product[StreamFeatures]
    events.withWatermark("event_time", delay)
      .groupByKey(_.customer_id)(Encoders.scalaLong)
      .transformWithState(new CustomerFeatureProcessorEventTime,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Keyed fan-out: the same source keyed by merchant (runs as a second
    * streaming query off one input, like the reference's dual key_by).
    */
  def merchantFeatures(events: Dataset[StreamTxn]): Dataset[MerchantFeatures] = {
    implicit val enc: Encoder[MerchantFeatures] = Encoders.product[MerchantFeatures]
    events.groupByKey(_.merchant_id)(Encoders.STRING)
      .transformWithState(new MerchantFeatureProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Third fan-out: per-customer streaming graph degrees (G10). */
  def graphDegrees(events: Dataset[StreamTxn]): Dataset[GraphDegrees] = {
    implicit val enc: Encoder[GraphDegrees] = Encoders.product[GraphDegrees]
    events.groupByKey(_.customer_id)(Encoders.scalaLong)
      .transformWithState(new GraphDegreeProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Exactly-once-per-event view of an at-least-once source: drop
    * redeliveries of the same (customer, event-time) pair. State is
    * BOUNDED by the watermark horizon — the upgrade over the reference's
    * non-transactional Redis writes (reference
    * `aml_stream_processor.py:210-216`), and over plain `dropDuplicates`,
    * whose key state grows without limit on an unbounded stream.
    */
  def dedupedEvents(events: Dataset[StreamTxnTs], delay: String): Dataset[StreamTxnTs] =
    events.withWatermark("event_time", delay)
      // key on the FULL payload: only an identical record is a redelivery;
      // two different same-timestamp events for one customer are distinct
      // peer events (exactly what the batch range frames treat as peers)
      .dropDuplicatesWithinWatermark("customer_id", "event_time", "amount",
        "merchant_id", "ip_address")

  /** Serve the TRAINED model online (SURVEY §2.10 streaming parity): the
    * feature stream scored with a [[graft.scoring.Trainer.LogisticModel]]
    * fitted offline. The margin/probability are pure Column expressions
    * over the emitted feature columns — a stateless projection appended
    * after the stateful processor, so the plan gains no state store, no
    * shuffle, and the online path serves exactly what the offline
    * trainer fit (batch-vs-stream equality is asserted in StreamingSpec).
    * Reference twin: the serving path applies the trained model, not the
    * fixed-weight heuristic (reference `models/advanced_models.py` fit →
    * `api/main.py` score).
    */
  def scoredCustomerFeatures(events: Dataset[StreamTxn],
                             model: graft.scoring.Trainer.LogisticModel)
      : org.apache.spark.sql.DataFrame = {
    val feats = customerFeatures(events).toDF()
    val missing = model.features.filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"scoredCustomerFeatures: model features absent from the stream: $missing")
    feats
      .withColumn("model_margin", graft.scoring.Trainer.margin(model))
      .withColumn("model_probability", graft.scoring.Trainer.probability(model))
  }

  /** The q180/q191 boosted stump chain served online (the staged model's
    * streaming twin, like the trained LR above): the additive
    * [[graft.scoring.Boosting.score]] is a literal when/otherwise CASE
    * chain over the emitted feature columns — a stateless sink-side
    * projection appended after the stateful processor (no extra state
    * store, no shuffle). Every stump's feature must exist on the stream
    * schema — rejected at plan-build time, not inside a running query.
    * Batch-vs-stream equality is asserted in StreamingSpec.
    */
  def boostScoredFeatures(events: Dataset[StreamTxn],
                          model: graft.scoring.Boosting.Model)
      : org.apache.spark.sql.DataFrame = {
    val feats = customerFeatures(events).toDF()
    val missing = model.rounds.map(_.feature).distinct
      .filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"boostScoredFeatures: stump features absent from the stream: $missing")
    feats.withColumn("boost_score", graft.scoring.Boosting.score(model))
  }

  /** The q216 AdaBoost-SAMME ensemble served online: signed weighted
    * vote + 0/1 class appended to the feature stream as literal CASE
    * chains over the fitted stumps and 4 dp alphas (stateless,
    * sink-side — the same contract as [[boostScoredFeatures]]). Every
    * stump's feature must exist on the stream schema — rejected at
    * plan-build time. Batch-vs-stream equality is asserted in
    * StreamingSpec.
    */
  def adaBoostScoredFeatures(events: Dataset[StreamTxn],
                             rounds: Seq[graft.scoring.AdaBoost.Round])
      : org.apache.spark.sql.DataFrame = {
    require(rounds.nonEmpty, "adaBoostScoredFeatures: empty ensemble")
    val feats = customerFeatures(events).toDF()
    val missing = rounds.map(_.feature).distinct
      .filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"adaBoostScoredFeatures: stump features absent from the stream: $missing")
    feats.withColumn("ada_vote", graft.scoring.AdaBoost.voteScore(rounds))
      .withColumn("ada_class", graft.scoring.AdaBoost.classify(rounds))
  }

  /** The q223 linear-SVM separator served online (and, because
    * [[graft.scoring.Trainer.fitLogisticWeighted]] returns the same
    * [[graft.scoring.Trainer.LogisticModel]] shape, the q217
    * class-weighted scorer serves through [[scoredCustomerFeatures]]
    * unchanged — StreamingSpec pins both paths): the hinge-trained
    * hyperplane is a literal linear margin over the emitted feature
    * columns plus the 0-margin class — a stateless sink-side projection
    * (no state store, no shuffle), exactly the `/predict` contract the
    * reference serves every fitted model behind (`api/main.py:106-145`).
    * No probability column: a hinge margin has no calibrated sigmoid,
    * so emitting one would misrepresent the model. Feature presence is
    * rejected at plan-build time.
    */
  def svmScoredFeatures(events: Dataset[StreamTxn],
                        model: graft.scoring.Trainer.LogisticModel)
      : org.apache.spark.sql.DataFrame = {
    val feats = customerFeatures(events).toDF()
    val missing = model.features.filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"svmScoredFeatures: model features absent from the stream: $missing")
    feats.withColumn("svm_margin", graft.scoring.Trainer.margin(model))
      .withColumn("svm_class", (org.apache.spark.sql.functions
        .col("svm_margin") > 0).cast("long"))
  }

  /** The q235 Platt-calibrated posterior served online — the reference's
    * `/predict` returns a CALIBRATED-looking `risk_score`
    * (`api/main.py:106-145`), so the serving path must emit the
    * calibrator's sigmoid, not the raw NB posterior. The NB features are
    * the event-level calendar/amount buckets (hb/dowi/vb — the q167/q235
    * trio), derived statelessly from the emitted `ts_micros`/`amount`,
    * then: `nb_delta` = the collected model's literal CASE chain
    * ([[graft.scoring.Models.NbModel.delta]]), `d4` = its 4 dp rounding
    * (the grain the calibrator was FIT on — q235's contract), and
    * `risk_score` = σ(a·d4_std + b) through the fitted Platt
    * [[graft.scoring.Trainer.LogisticModel]]. All literal projections:
    * no state store, no shuffle beyond the feature processor's own.
    * Feature presence for both models is rejected at plan-build time.
    * Batch-vs-stream equality is asserted in StreamingSpec; the batch
    * twin of the served column is gated end-to-end by q241.
    */
  def nbCalibratedScoredFeatures(events: Dataset[StreamTxn],
      nb: graft.scoring.Models.NbModel,
      calibrator: graft.scoring.Trainer.LogisticModel)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftbridge.ColumnBridge.intDiv
    val feats = customerFeatures(events).toDF()
      .withColumn("hb", hour(timestamp_micros(col("ts_micros"))))
      .withColumn("dowi", pmod(intDiv(col("ts_micros"), lit(86400000000L)),
        lit(7L)))
      .withColumn("vb", least(floor(col("amount") / 100).cast("long"),
        lit(5L)))
    val missing = nb.features.filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"nbCalibratedScoredFeatures: NB features absent from the stream: $missing")
    val withD = feats.withColumn("nb_delta", nb.delta)
      .withColumn("d4", graft.queries.r6(col("nb_delta")))
    val calMissing = calibrator.features.filterNot(withD.columns.contains)
    require(calMissing.isEmpty,
      s"nbCalibratedScoredFeatures: calibrator features absent: $calMissing")
    withD.withColumn("risk_score",
      graft.queries.r6(graft.scoring.Trainer.probability(calibrator)))
  }

  /** The q198 forest served online: vote count + majority flag appended
    * to the feature stream as `trees` literal CASE chains (stateless,
    * sink-side — the same contract as [[boostScoredFeatures]]).
    */
  def forestScoredFeatures(events: Dataset[StreamTxn],
                           forest: Seq[graft.scoring.Forest.FTree])
      : org.apache.spark.sql.DataFrame = {
    require(forest.nonEmpty, "forestScoredFeatures: empty forest")
    val feats = customerFeatures(events).toDF()
    val missing = forest
      .flatMap(t => Seq(t.root.feature, t.left.feature, t.right.feature))
      .distinct.filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"forestScoredFeatures: tree features absent from the stream: $missing")
    val v = graft.scoring.Forest.votes(forest)
    feats.withColumn("forest_votes", v)
      .withColumn("forest_flag", v * 2 > forest.size)
  }

  /** The q202 level-wise deep CART served online: majority-class
    * prediction + terminal-leaf path appended to the feature stream as
    * one literal CASE chain per column (stateless, sink-side — the same
    * contract as [[forestScoredFeatures]]; the leaf path is the online
    * twin of the reference's per-prediction explanation id). Every split
    * feature must exist on the stream schema — rejected at plan-build
    * time. Batch-vs-stream equality is asserted in StreamingSpec.
    */
  def deepTreeScoredFeatures(events: Dataset[StreamTxn],
                             model: graft.scoring.Trees.DeepTree)
      : org.apache.spark.sql.DataFrame = {
    require(model.splits.nonEmpty, "deepTreeScoredFeatures: empty tree")
    val feats = customerFeatures(events).toDF()
    val missing = model.splits.values.map(_.feature).toSeq
      .distinct.filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"deepTreeScoredFeatures: split features absent from the stream: $missing")
    feats.withColumn("tree_pred", graft.scoring.Trees.predict(model))
      .withColumn("tree_leaf", graft.scoring.Trees.leafPath(model))
  }

  /** The q205 LIME surrogate served online: per-event local explanation
    * of the boosted depth-2 tree model — the complete 2^k masked
    * factorial scored per row, closed-form betas / intercept / fidelity
    * R² as row-local folds ([[graft.scoring.Lime]]). Stateless and
    * sink-side like the other served models (the model AND the
    * population background are literals fitted offline), so each
    * prediction ships with its explanation — the reference's
    * predict-with-explanation contract (`api/main.py:211-244`) at
    * stream rates. Split features must be inside the explained feature
    * set and on the stream schema — rejected at plan-build time.
    */
  def limeScoredFeatures(events: Dataset[StreamTxn],
                         model: graft.scoring.Boosting.TreeModel,
                         features: Seq[String], bg: Seq[Double])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    require(features.nonEmpty && features.size <= 8 &&
      features.size == bg.size,
      s"limeScoredFeatures: need 1..8 features with matching background, " +
        s"got ${features.size} features / ${bg.size} background values")
    val splitFeats = model.rounds
      .flatMap(t => Seq(t.rootFeature, t.leftFeature, t.rightFeature)).distinct
    val outside = splitFeats.filterNot(features.contains)
    require(outside.isEmpty,
      s"limeScoredFeatures: split features outside the explained set: $outside")
    val feats = customerFeatures(events).toDF()
    val missing = features.filterNot(feats.columns.contains)
    require(missing.isEmpty,
      s"limeScoredFeatures: features absent from the stream: $missing")
    graft.scoring.Lime.explainTree(feats, model, features, j => lit(bg(j)))
  }

  /** The q193 sequence scorer online: per-event transition NLL under the
    * offline-fitted [[graft.ops.AmlPatterns.MarkovModel]]. One value of
    * state per customer (the previous symbol); batch-vs-stream NLL
    * equality is asserted in StreamingSpec.
    */
  def markovScores(events: Dataset[StreamTxn],
                   model: graft.ops.AmlPatterns.MarkovModel): Dataset[MarkovScore] = {
    implicit val enc: Encoder[MarkovScore] = Encoders.product[MarkovScore]
    events.groupByKey(_.customer_id)(Encoders.scalaLong)
      .transformWithState(new MarkovScoreProcessor(model),
        TimeMode.None(), OutputMode.Append())
  }

  /** Stream-stream self interval join: for each event, the same customer's
    * events in the following `gapSecs` seconds (the streaming twin of the
    * batch q63 band join). The event-time bound on BOTH sides lets Spark
    * expire join state at the watermark — without it the buffered sides
    * grow forever.
    */
  def followPairs(events: Dataset[StreamTxnTs], delay: String,
                  gapSecs: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val a = events.withWatermark("event_time", delay)
      .select(col("customer_id"), col("event_time").as("t1"), col("amount").as("a1"))
    val b = events.withWatermark("event_time", delay)
      .select(col("customer_id").as("c2"), col("event_time").as("t2"), col("amount").as("a2"))
    a.join(b, col("customer_id") === col("c2") &&
      col("t2") > col("t1") &&
      col("t2") <= col("t1") + expr(s"INTERVAL $gapSecs SECONDS"))
      .select(col("customer_id"), col("t1"), col("t2"), col("a1"), col("a2"))
  }
}
