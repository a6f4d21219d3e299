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

  override val oracle: Map[String, String] = Map(
    // q165's unrolled-GD technique, once per fold: each fold gets its own
    // standardization (train moments only), its own 10-step MATERIALIZED
    // chain, and a held-out mid-rank AUC over the test rows standardized
    // with the TRAIN stats — the exact leave-one-fold-out contract.
    "q172_cv_lr" -> {
      val idx = lrFeatures.indices
      val statSel = idx.map(i =>
        s"avg(x$i) AS m$i, coalesce(nullif(stddev_pop(x$i), 0.0), 1.0) AS s$i")
        .mkString(",\n    ")
      val stdSel = idx.map(i => s"(x$i - m$i)/s$i AS x$i").mkString(", ")
      def marginOf(it: String) =
        idx.map(i => s"$it.w$i * d.x$i").mkString(" + ") + s" + $it.b"
      def foldChain(f: Int): String = {
        val i0 = s"i0_$f AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
        val iters = (1 to cvIters).map { k =>
          val p = s"1.0/(1.0 + exp(-(${marginOf("i")})))"
          val upd = idx.map(i =>
            s"i.w$i - $lrRate*avg(($p - d.y) * d.x$i) AS w$i").mkString(",\n    ") +
            s",\n    i.b - $lrRate*avg($p - d.y) AS b"
          val grp = idx.map(i => s"i.w$i").mkString(", ") + ", i.b"
          s"i${k}_$f AS MATERIALIZED (SELECT $upd\n  FROM dtr_$f d, i${k - 1}_$f i GROUP BY $grp)"
        }.mkString(",\n")
        s"""tr_$f AS (SELECT * FROM fp WHERE fold <> $f),
s_$f AS (SELECT $statSel FROM tr_$f),
dtr_$f AS MATERIALIZED (SELECT $stdSel, y FROM tr_$f, s_$f),
dte_$f AS MATERIALIZED (SELECT $stdSel, y FROM (SELECT * FROM fp WHERE fold = $f) t, s_$f),
$i0,
$iters,
sc_$f AS (SELECT d.y, ${marginOf(s"i$cvIters" + s"_$f")} AS sv FROM dte_$f d, i${cvIters}_$f),
r_$f AS (SELECT y, rank() OVER (ORDER BY sv) + (count(*) OVER (PARTITION BY sv) - 1)/2.0 AS midrank FROM sc_$f),
a_$f AS (SELECT count(*) AS n,
    CASE WHEN sum(y) > 0 AND sum(y) < count(*) THEN
      (sum(CASE WHEN y = 1.0 THEN midrank END) - sum(y)*(sum(y) + 1)/2.0) / (sum(y)*(count(*) - sum(y)))
    END AS auc
  FROM r_$f)"""
      }
      def foldRow(f: Int): String = {
        val ws = lrFeatures.zipWithIndex.map { case (c, i) =>
          s"round(i.w$i + 5e-11, 4) AS w_$c" }.mkString(",\n  ")
        s"""SELECT $f AS fold, a.n AS n_test, round(a.auc + 5e-11, 4) AS auc,
  round(i.b + 5e-11, 4) AS intercept,
  $ws
FROM a_$f a, i${cvIters}_$f i"""
      }
      s"""WITH probes AS (
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
         w24h AS (PARTITION BY user_id ORDER BY tm RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)),
fp AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5('cv:' || probe_id), 1, 8))::UBIGINT % $cvFolds AS fold
  FROM fw WHERE probe_id IS NOT NULL),
${(0 until cvFolds).map(foldChain).mkString(",\n")}
${(0 until cvFolds).map(foldRow).mkString("\nUNION ALL\n")}"""
    },
    // the SAME optimizer, unrolled: standardize, 20 fixed-rate full-batch
    // GD steps as chained CTEs (aggregates are illegal in a recursive CTE
    // term — same technique as kcoreSql). Every iteration is ONE CTE
    // (gradient aggregate + weight update fused via GROUP BY over the
    // 1-row weight state) so each CTE is referenced exactly once, and the
    // data frame + weight states are MATERIALIZED — multi-referenced
    // plain CTEs inline and the plan blows up exponentially (the q121
    // lesson). Mid-rank AUC on the margins.
    "q165_train_lr" -> {
      val idx = lrFeatures.indices
      val statSel = idx.map(i =>
        s"avg(x$i) AS m$i, coalesce(nullif(stddev_pop(x$i), 0.0), 1.0) AS s$i")
        .mkString(",\n    ")
      val stdSel = idx.map(i => s"(x$i - m$i)/s$i AS x$i").mkString(", ")
      val i0 = s"i0 AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
      def marginOf(it: String) =
        idx.map(i => s"$it.w$i * d.x$i").mkString(" + ") + s" + $it.b"
      val iterCtes = (1 to lrIters).map { k =>
        val p = s"1.0/(1.0 + exp(-(${marginOf("i")})))"
        val upd = idx.map(i =>
          s"i.w$i - $lrRate*avg(($p - d.y) * d.x$i) AS w$i").mkString(",\n    ") +
          s",\n    i.b - $lrRate*avg($p - d.y) AS b"
        val grp = idx.map(i => s"i.w$i").mkString(", ") + ", i.b"
        s"i$k AS MATERIALIZED (SELECT $upd\n  FROM d, i${k - 1} i GROUP BY $grp)"
      }.mkString(",\n")
      val fin = s"i$lrIters"
      val wOut = lrFeatures.zipWithIndex.map { case (f, i) =>
        s"round($fin.w$i + 5e-11, 4) AS w_$f" }.mkString(",\n  ")
      s"""WITH probes AS (
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
         w24h AS (PARTITION BY user_id ORDER BY tm RANGE BETWEEN 86399999999 PRECEDING AND CURRENT ROW)),
fp AS (SELECT * FROM fw WHERE probe_id IS NOT NULL),
s AS (SELECT $statSel FROM fp),
d AS MATERIALIZED (SELECT $stdSel, y FROM fp, s),
$i0,
$iterCtes,
sc AS (SELECT d.y, ${marginOf(fin)} AS sv FROM d, $fin),
r AS (SELECT y, rank() OVER (ORDER BY sv) + (count(*) OVER (PARTITION BY sv) - 1)/2.0 AS midrank FROM sc),
a AS (SELECT count(*) AS n,
    CASE WHEN sum(y) > 0 AND sum(y) < count(*) THEN
      (sum(CASE WHEN y = 1.0 THEN midrank END) - sum(y)*(sum(y) + 1)/2.0) / (sum(y)*(count(*) - sum(y)))
    END AS auc
  FROM r)
SELECT n, round(auc + 5e-11, 4) AS auc, round($fin.b + 5e-11, 4) AS intercept,
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
