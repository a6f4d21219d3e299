package graft.queries

import graft.pit.PointInTime
import graft.schema.FeatureViews
import graft.ops.Trailing
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Point-in-time training construction and the full-width FeatureView
  * backfill (SURVEY J2, §3.3, A1–A14 across all six windows).
  */
object PipelineQueries extends QueryPack {

  private val pitWindows = Seq("1h" -> 3600L, "24h" -> 86400L)

  /** Training config for q165 — shared by the Spark query and the
    * unrolled-GD DuckDB oracle so both engines run the SAME optimizer.
    */
  private val lrFeatures =
    Seq("txn_count_1h", "txn_amount_sum_1h", "txn_count_24h", "txn_amount_sum_24h")
  private val lrIters = 20
  private val lrRate = 0.5

  /** q172 cross-validation config: fewer GD steps per fold (3 folds × 10
    * steps ≈ one q165 training budget), same rate.
    */
  private val cvFolds = 3
  private val cvIters = 10

  override val defs: Map[String, Q] = Map(
    // k-fold cross-validated trainer (the "with CV" half of the
    // reference's model training): deterministic md5 fold assignment on
    // the probe id, one full-batch logistic GD fit per leave-one-fold-out
    // train split, held-out mid-rank AUC per fold. The PIT table
    // checkpoints once; each fold's 10 GD passes and the AUC read the
    // narrow checkpointed projection.
    "q172_cv_lr" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val events = ev.select(col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_micros"), col("value").as("amount"))
      val probes = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id").as("probe_id"), col("user_id").as("key"),
          (unix_micros(col("ts")) + lit(1800000000L)).as("ts_micros"))
      val labels = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id").as("probe_id"),
          when(col("event_type") === "error", 1.0).otherwise(0.0).as("y"))
      val train = PointInTime.asOfFeatures(events, probes, pitWindows)
        .join(labels, "probe_id")
        .withColumn("fold", graft.scale.Splits.bucket(col("probe_id"), "cv", cvFolds))
        .localCheckpoint()
      // fused CV: every GD step is ONE aggregate over the checkpointed
      // table computing all folds' gradients (k scans -> 1 per step)
      val models = graft.scoring.Trainer.fitLogisticCV(
        train, lrFeatures, col("y"), col("fold"), cvFolds,
        iters = cvIters, lr = lrRate)
      // every row scores with ITS OWN fold's leave-out model: one
      // projection + ONE grouped rank pipeline (Drift.aucByTag, per-fold
      // bit-identical — exact half-integer midranks) instead of a full
      // AUC pipeline per fold
      val marginCase = models.zipWithIndex.foldLeft(lit(null).cast("double")) {
        case (acc, (m, k)) =>
          when(col("fold") === k, graft.scoring.Trainer.margin(m)).otherwise(acc) }
      val scored = train.select(col("fold"), col("y"), marginCase.as("margin"))
      val counts = scored.groupBy(col("fold")).agg(count(lit(1)).as("n_test"))
      val aucs = graft.feedback.Drift.aucByTag(scored, col("fold"),
        col("y") === 1.0, col("margin"))
      val interceptOf = models.zipWithIndex.foldLeft(lit(null).cast("double")) {
        case (acc, (m, k)) => when(col("fold") === k, lit(m.intercept)).otherwise(acc) }
      val wOf = lrFeatures.indices.map(j =>
        models.zipWithIndex.foldLeft(lit(null).cast("double")) {
          case (acc, (m, k)) => when(col("fold") === k, lit(m.weights(j))).otherwise(acc) })
      counts.join(broadcast(aucs), col("fold") === col("tag"))
        .select(col("fold").cast("int").as("fold") +: col("n_test") +:
          r6(col("auc")).as("auc") +: r6(interceptOf).as("intercept") +:
          lrFeatures.zip(wOf).map { case (c, w) => r6(w).as(s"w_$c") }: _*)
    },
    // in-engine trainable model (models/advanced_models.py:1-533 twin):
    // deterministic full-batch logistic GD on the q36 PIT table, labels =
    // probe event is an 'error', evaluated with the q43 mid-rank AUC
    "q165_train_lr" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val events = ev.select(col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_micros"), col("value").as("amount"))
      val probes = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id").as("probe_id"), col("user_id").as("key"),
          (unix_micros(col("ts")) + lit(1800000000L)).as("ts_micros"))
      val labels = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id").as("probe_id"),
          when(col("event_type") === "error", 1.0).otherwise(0.0).as("y"))
      // localCheckpoint: the PIT windows compute ONCE; the 20 GD passes,
      // the AUC pass, and the count all read the narrow checkpointed
      // projection (6 columns/probe), not the window pipeline
      val train = PointInTime.asOfFeatures(events, probes, pitWindows)
        .join(labels, "probe_id")
        .localCheckpoint()
      val model = graft.scoring.Trainer.fitLogistic(
        train, lrFeatures, col("y"), iters = lrIters, lr = lrRate)
      val scored = train.select(col("y"),
        graft.scoring.Trainer.margin(model).as("margin"))
      val auc = graft.feedback.Drift.auc(scored, col("y") === 1.0, col("margin"))
      val out = col("n") +: r6(col("auc")).as("auc") +:
        r6(lit(model.intercept)).as("intercept") +:
        lrFeatures.zip(model.weights).map { case (f, w) =>
          r6(lit(w)).as(s"w_$f") }
      scored.agg(count(lit(1)).as("n")).crossJoin(auc).select(out: _*)
    },
    "q36_pit_training" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val events = ev.select(col("user_id").as("key"),
        unix_micros(col("ts")).as("ts_micros"), col("value").as("amount"))
      // decoupled label probes: every 10th event, 30 minutes later
      val probes = ev.where(col("event_id") % 10 === 0)
        .select(col("event_id").as("probe_id"), col("user_id").as("key"),
          (unix_micros(col("ts")) + lit(1800000000L)).as("ts_micros"))
      PointInTime.asOfFeatures(events, probes, pitWindows)
        .select(col("probe_id"), col("key").as("customer_id"),
          col("txn_count_1h"),
          r6(col("txn_amount_sum_1h")).as("txn_amount_sum_1h"),
          col("txn_count_24h"),
          r6(col("txn_amount_sum_24h")).as("txn_amount_sum_24h"))
    },
    "q51_asof_join" -> { (s, dir) =>
      // row-returning as-of join: each probe (30 min before every 7th
      // event) picks up the customer's latest event at-or-before it;
      // probes before a customer's first event stay unmatched
      val ev = Tables.events(s, dir)
      val events = ev.select(col("user_id").as("key"),
        unix_micros(col("ts")).as("tm"), col("value"), col("event_id"))
      val probes = ev.where(col("event_id") % 7 === 0)
        .select(col("event_id").as("probe_id"), col("user_id").as("key"),
          (unix_micros(col("ts")) - lit(1800000000L)).as("tm"))
      graft.ops.AsOf.lastEventAsOf(events, probes, Seq("value", "event_id"))
        .select(col("probe_id"), col("key").as("customer_id"),
          coalesce(col("event_id"), lit(-1L)).as("matched_event_id"),
          r6(coalesce(col("value"), lit(0.0))).as("last_value"),
          col("event_id").isNotNull.as("matched"))
    },
    "q151_asof_tolerance" -> { (s, dir) =>
      // tolerance-bounded as-of (merge_asof semantics): same probes as
      // q51, but a match more than 1h older than the probe goes stale
      val ev = Tables.events(s, dir)
      val events = ev.select(col("user_id").as("key"),
        unix_micros(col("ts")).as("tm"), col("value"), col("event_id"))
      val probes = ev.where(col("event_id") % 7 === 0)
        .select(col("event_id").as("probe_id"), col("user_id").as("key"),
          (unix_micros(col("ts")) - lit(1800000000L)).as("tm"))
      graft.ops.AsOf.lastEventAsOfTol(events, probes, Seq("value", "event_id"),
          tolerance = 3600000000L)
        .select(col("probe_id"), col("key").as("customer_id"),
          coalesce(col("event_id"), lit(-1L)).as("matched_event_id"),
          r6(coalesce(col("value"), lit(0.0))).as("last_value"),
          col("event_id").isNotNull.as("matched"))
    },
    // oracle: recursive-CTE reachability (GraphOracles.communitiesSql)
    "q49_communities" -> { (s, dir) =>
      graft.ops.GraphOps.communities(Tables.transactions(s, dir))
        .select(col("customer_id"), col("component_id"), col("component_size"))
    },
    // oracle: bounded-BFS distances + layer-unrolled Brandes
    // (GraphOracles.centralitiesSql); CentralitySpec pins the algorithm
    // on a hand-computed graph independently.
    "q38_centralities" -> { (s, dir) =>
      graft.ops.Centrality.customerCentralities(Tables.transactions(s, dir))
        .select(col("customer_id"),
          r6(col("graph_closeness_centrality")).as("graph_closeness_centrality"),
          r6(col("graph_betweenness_centrality")).as("graph_betweenness_centrality"))
    },
    "q37_full_features" -> { (s, dir) =>
      // fullFeatures' kernel + oracle rounding
      val roundCols = for {
        (wName, _) <- FeatureViews.windows6
        kind <- FeatureViews.kinds
      } yield {
        val named = kind.featureName(wName)
        (if (kind.double) r6(col(named)) else col(named)).as(named)
      }
      graft.ops.MultiWindow.fullView(Tables.transactions(s, dir))
        .select(col("transaction_id") +: col("customer_id") +: roundCols: _*)
    })

  /** The q165/q172 training rows: every 10th event becomes a label probe
    * 30 minutes later, with trailing 1h/24h count and sum features x0..x3
    * over the events at or before it.
    */
  private val lrProbesSql = """probes AS (
  SELECT event_id AS probe_id, user_id, epoch_us(ts) + 1800000000 AS tm,
    CASE WHEN event_type = 'error' THEN 1.0 ELSE 0.0 END AS y
  FROM events WHERE event_id % 10 = 0),
u AS (
  SELECT user_id, epoch_us(ts) AS tm, value AS amount, NULL::BIGINT AS probe_id, NULL::DOUBLE AS y FROM events
  UNION ALL
  SELECT user_id, tm, NULL::DOUBLE, probe_id, y FROM probes),
fw AS (
  SELECT probe_id, y,
    count(amount) OVER w1h AS x0,
    coalesce(sum(amount) OVER w1h, 0.0) AS x1,
    count(amount) OVER w24h AS x2,
    coalesce(sum(amount) OVER w24h, 0.0) AS x3
  FROM u
  WINDOW w1h AS (PARTITION BY user_id ORDER BY tm RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW),
         w24h AS (PARTITION BY user_id ORDER BY tm RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)),"""

  override val oracle: Map[String, String] = Map(
    // q165's unrolled-GD technique, once per fold: each fold gets its own
    // standardization (train moments only), its own 10-step MATERIALIZED
    // chain, and a held-out mid-rank AUC over the test rows standardized
    // with the TRAIN stats — the exact leave-one-fold-out contract.
    "q172_cv_lr" -> {
      val idx = lrFeatures.indices
      def foldChain(f: Int): String =
        s"""tr_$f AS (SELECT * FROM fp WHERE fold <> $f),
s_$f AS (SELECT ${sqlStats(idx)} FROM tr_$f),
dtr_$f AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr_$f, s_$f),
dte_$f AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM fp WHERE fold = $f) t, s_$f),
${sqlGd(s"g${f}_", s"dtr_$f", idx, cvIters, lrRate.toString)},
sc_$f AS (SELECT d.y, ${sqlMargin(s"g${f}_$cvIters", idx)} AS sv FROM dte_$f d, g${f}_$cvIters),
${sqlAuc(s"a_$f", s"sc_$f", "sv")}"""
      def foldRow(f: Int): String = {
        val ws = lrFeatures.zipWithIndex.map { case (c, i) =>
          s"${sqlR4(s"i.w$i")} AS w_$c" }.mkString(",\n  ")
        s"""SELECT $f AS fold, a.n AS n_test, ${sqlR4("a.auc")} AS auc,
  ${sqlR4("i.b")} AS intercept,
  $ws
FROM a_$f a, g${f}_$cvIters i"""
      }
      s"""WITH $lrProbesSql
fp AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5('cv:' || probe_id), 1, 8))::UBIGINT % $cvFolds AS fold
  FROM fw WHERE probe_id IS NOT NULL),
${(0 until cvFolds).map(foldChain).mkString(",\n")}
${(0 until cvFolds).map(foldRow).mkString("\nUNION ALL\n")}"""
    },
    // the SAME optimizer, unrolled by sqlGd: standardize, 20 fixed-rate
    // full-batch GD steps, mid-rank AUC on the margins
    "q165_train_lr" -> {
      val idx = lrFeatures.indices
      val fin = s"g$lrIters"
      val wOut = lrFeatures.zipWithIndex.map { case (f, i) =>
        s"${sqlR4(s"$fin.w$i")} AS w_$f" }.mkString(",\n  ")
      s"""WITH $lrProbesSql
fp AS (SELECT * FROM fw WHERE probe_id IS NOT NULL),
s AS (SELECT ${sqlStats(idx)} FROM fp),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM fp, s),
${sqlGd("g", "d", idx, lrIters, lrRate.toString)},
sc AS (SELECT d.y, ${sqlMargin(fin, idx)} AS sv FROM d, $fin),
${sqlAuc("a", "sc", "sv")}
SELECT n, ${sqlR4("auc")} AS auc, ${sqlR4(s"$fin.b")} AS intercept,
  $wOut
FROM a, $fin"""
    },
    "q151_asof_tolerance" ->
      """WITH probes AS (
  SELECT event_id AS probe_id, user_id, epoch_us(ts) - 1800000000 AS tm
  FROM events WHERE event_id % 7 = 0),
e AS (SELECT user_id, epoch_us(ts) AS tm, value, event_id FROM events),
j AS (SELECT p.probe_id, p.user_id, p.tm, e.tm AS etm, e.value, e.event_id
      FROM probes p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.tm >= e.tm)
SELECT probe_id, user_id AS customer_id,
  coalesce(CASE WHEN etm >= tm - 3600000000 THEN event_id END, -1) AS matched_event_id,
  round(coalesce(CASE WHEN etm >= tm - 3600000000 THEN value END, 0.0) + 5e-11, 4) AS last_value,
  coalesce(etm >= tm - 3600000000, FALSE) AS matched
FROM j""",
    "q51_asof_join" ->
      """WITH probes AS (
  SELECT event_id AS probe_id, user_id, epoch_us(ts) - 1800000000 AS tm
  FROM events WHERE event_id % 7 = 0),
e AS (SELECT user_id, epoch_us(ts) AS tm, value, event_id FROM events)
SELECT p.probe_id, p.user_id AS customer_id,
  coalesce(e.event_id, -1) AS matched_event_id,
  round(coalesce(e.value, 0.0) + 5e-11, 4) AS last_value,
  e.event_id IS NOT NULL AS matched
FROM probes p ASOF LEFT JOIN e ON p.user_id = e.user_id AND p.tm >= e.tm""",
    "q49_communities" -> GraphOracles.communitiesSql,
    "q38_centralities" -> GraphOracles.centralitiesSql(),
    "q36_pit_training" ->
      """WITH probes AS (
  SELECT event_id AS probe_id, user_id, epoch_us(ts) + 1800000000 AS tm FROM events WHERE event_id % 10 = 0),
u AS (
  SELECT user_id, epoch_us(ts) AS tm, value AS amount, NULL::BIGINT AS probe_id FROM events
  UNION ALL
  SELECT user_id, tm, NULL::DOUBLE, probe_id FROM probes),
f AS (
  SELECT user_id, probe_id,
    count(amount) OVER w1h AS txn_count_1h,
    coalesce(sum(amount) OVER w1h, 0.0) AS txn_amount_sum_1h,
    count(amount) OVER w24h AS txn_count_24h,
    coalesce(sum(amount) OVER w24h, 0.0) AS txn_amount_sum_24h
  FROM u
  WINDOW w1h AS (PARTITION BY user_id ORDER BY tm RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW),
         w24h AS (PARTITION BY user_id ORDER BY tm RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW))
SELECT probe_id, user_id AS customer_id, txn_count_1h,
  round(txn_amount_sum_1h+ 5e-11, 4) AS txn_amount_sum_1h,
  txn_count_24h,
  round(txn_amount_sum_24h+ 5e-11, 4) AS txn_amount_sum_24h
FROM f WHERE probe_id IS NOT NULL""",
    "q37_full_features" -> {
      val winDefs = FeatureViews.windows6.map { case (wName, secs) =>
        s"w$wName AS (PARTITION BY user_id ORDER BY epoch_us(ts) RANGE BETWEEN ${secs * 1000000L - 1} PRECEDING AND CURRENT ROW)"
      }.mkString(",\n       ")
      val exprs = (for {
        (wName, secs) <- FeatureViews.windows6
        kind <- FeatureViews.kinds
      } yield {
        val e = FeatureViews.sqlExpr(kind, s"w$wName", secs)
        val named = kind.featureName(wName)
        if (kind.double) s"round($e+ 5e-11, 4) AS $named" else s"$e AS $named"
      }).mkString(",\n  ")
      s"""SELECT event_id AS transaction_id, user_id AS customer_id,
  $exprs
FROM events
WINDOW $winDefs"""
    })
}
