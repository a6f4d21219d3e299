package graft.queries

import graft.scale.{Packing, TextOps}
import graft.scoring.{KMeansOps, Models}
import graft.tables.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The closed-form members of the reference's model layer (naive Bayes,
  * decision stump, k-means — `models/advanced_models.py` trains the
  * tree/ensemble/cluster baselines next to the linear model that q165
  * covers) plus the pretraining sequence-packing report. Every query is
  * aggregation-only, RNG-free, and hash-gated against a DuckDB oracle
  * that runs the SAME algorithm.
  */
object ModelQueries extends QueryPack {

  import org.apache.spark.sql.graftbridge.ColumnBridge.intDiv

  /** Shared featurization for q167/q168: small-cardinality integral
    * buckets of the event stream + the 0/1 'error' label. dowi is epoch
    * days mod 7 (pure integer arithmetic — no calendar-locale trap).
    */
  private def eventFeatures(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.events(s, dir).select(
      col("event_id"),
      hour(col("ts")).as("hb"),
      pmod(intDiv(unix_micros(col("ts")), lit(86400000000L)), lit(7L)).as("dowi"),
      least(floor(col("value") / 100).cast("long"), lit(5L)).as("vb"),
      col("value"),
      (col("event_type") === "error").cast("long").as("y"))

  private val featSql =
    """SELECT event_id, hour(ts) AS hb,
  (epoch_us(ts) // 86400000000) % 7 AS dowi,
  least(CAST(floor(value/100) AS BIGINT), 5) AS vb,
  value,
  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
FROM events"""

  override val defs: Map[String, Q] = Map(
    // categorical naive Bayes with Laplace smoothing: train on 80% of
    // events (event_id % 5 <> 0), score the held-out 20%, report the
    // confusion matrix + mean log-odds per cell. Model = 1-row prior +
    // one bucket-cardinality likelihood table per feature, all broadcast;
    // the test side never shuffles.
    "q167_naive_bayes" -> { (s, dir) =>
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val test = f.where(col("event_id") % 5 === 0)
      Models.naiveBayesDelta(train, test, Seq("hb", "dowi", "vb"), col("y"))
        .select(col("y"), (r6(col("delta")) > 0).as("pred"), col("delta"))
        .groupBy(col("y"), col("pred"))
        .agg(count(lit(1)).as("n"), r6(avg(col("delta"))).as("avg_delta"))
    },
    // exact depth-1 CART stump: every distinct value of every feature is
    // a candidate `x <= t` split; left/right class counts come from a
    // GLOBAL integral cumsum over the per-feature distinct-value table
    // (GlobalOrder — no single-partition window even for a continuous
    // feature with millions of distinct values). Argmin by rounded
    // weighted Gini, ties on (feature, threshold).
    "q168_decision_stump" -> { (s, dir) =>
      val f = eventFeatures(s, dir)
      val n = col("n_left") + col("n_right")
      val acc = (greatest(col("pos_left"), col("n_left") - col("pos_left")) +
        greatest(col("pos_right"), col("n_right") - col("pos_right")))
        .cast("double") / n
      Models.stumpCandidates(f, Seq("value", "hb", "dowi"), col("y"))
        .select(col("feature"), col("threshold"), r6(col("gini")).as("gini"),
          col("n_left"), col("pos_left"), col("n_right"), col("pos_right"),
          r6(acc).as("acc"))
        .orderBy(col("gini"), col("feature"), col("threshold"))
        .limit(1)
    },
    // pretraining concat-and-chunk packing: global token offsets of every
    // document (corpus-wide integral cumsum, GlobalOrder) chunked into
    // 2048-token sequences; per-bin occupancy report. All-integer output.
    "q169_seq_packing" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
        .select(col("doc_id"), TextOps.nTokens(col("text")).as("tok"))
        .where(col("tok") > 0)
      Packing.binReport(d, Seq(col("doc_id")), col("tok"), binSize = 2048L)
        .select(col("bin"), col("n_docs"), col("bin_tokens"),
          col("n_contained"), col("n_continuing"))
    },
    // fixed-iteration Lloyd k-means (k=3, 3 assignment passes) on
    // per-user standardized (activity count, avg amount): points cached
    // once, each pass scores against k centroid LITERALS (zero shuffle)
    // and reduces to k rows; deterministic order-statistic init, rounded
    // re-entry coordinates — the oracle unrolls the identical chain.
    "q170_kmeans" -> { (s, dir) =>
      val per = Tables.events(s, dir).groupBy(col("user_id"))
        .agg(count(lit(1)).as("cnt"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
      val pts0 = per.select(col("user_id"),
        col("cnt").cast("double").as("x1"),
        (col("cents").cast("double") / col("cnt") / 100.0).as("x2"))
      // constant-column guard (Trainer's convention): a zero stddev maps
      // to 1.0 so a degenerate feature centers to 0 instead of +/-Inf
      val st = pts0.agg(avg(col("x1")).as("m1"),
        coalesce(nullif(stddev_pop(col("x1")), lit(0.0)), lit(1.0)).as("s1"),
        avg(col("x2")).as("m2"),
        coalesce(nullif(stddev_pop(col("x2")), lit(0.0)), lit(1.0)).as("s2"))
      val pts = pts0.crossJoin(broadcast(st)).select(col("user_id"),
        r6((col("x1") - col("m1")) / col("s1")).as("z1"),
        r6((col("x2") - col("m2")) / col("s2")).as("z2"))
      KMeansOps.lloydSummary(pts, col("user_id"), Seq("z1", "z2"), k = 3, iters = 3)
        .select(col("cluster_id"), col("n"),
          r6(col("c_z1")).as("c_z1"), r6(col("c_z2")).as("c_z2"))
    },
    // gradient-boosted stumps (squared loss, the reference's
    // GradientBoosting/XGBoost slot, models/advanced_models.py:228-231):
    // 3 shrinkage-0.5 rounds, each an exact regression stump on the
    // running residual. Residual sums decompose into INTEGER GlobalOrder
    // cumsums + rounded leaf-value literals (see scoring/Boosting), so
    // the DuckDB oracle replays the identical boosting chain; report =
    // the fitted chain + train MSE + train AUC of the additive score.
    "q180_boosted_stumps" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // read 3×/round + scoring
      val m = graft.scoring.Boosting.fit(f, Seq("value", "hb", "dowi"),
        col("y"), rounds = 3, rate = 0.5)
      val scored = f.select(col("y"), graft.scoring.Boosting.score(m).as("s"))
      val aucDf = graft.feedback.Drift.auc(scored, col("y") === 1L, col("s"))
      val err = col("y").cast("double") - col("s")
      val roundCols = m.rounds.zipWithIndex.flatMap { case (st, i) =>
        val t = i + 1
        Seq(lit(st.feature).as(s"f$t"), r6(lit(st.threshold)).as(s"t$t"),
          lit(st.vl).as(s"vl$t"), lit(st.vr).as(s"vr$t"))
      }
      scored.agg(count(lit(1)).as("n"), r6(avg(err * err)).as("train_mse"))
        .crossJoin(aucDf)
        .select(col("n") +: lit(m.f0).as("f0") +: roundCols :+
          col("train_mse") :+ r6(col("auc")).as("train_auc"): _*)
    },
    // the reference's eval_set workflow (XGBoost early-stopping view,
    // models/advanced_models.py:228-231): refit the boosting chain on
    // the 80% md5-bucket train slice, report held-out AUC of the STAGED
    // model after each round — does round t pay for itself? Model state
    // stays O(rounds); each stage's scoring is a literal CASE chain
    // over the validation slice.
    "q191_boosting_validation" -> { (s, dir) =>
      // stratified fold-0 hold-out (train_test_split(..., stratify=y),
      // models/advanced_models.py:384) — the q232 machinery, not the
      // plain md5 bucket, so train/valid carry the class ratio exactly
      val f = graft.scale.Splits.stratifiedKfold(eventFeatures(s, dir),
          col("event_id"), col("y"), k = 5, salt = "gbval")
        .withColumnRenamed("fold", "vb5")
        .localCheckpoint() // read 3x/round for the fit + staged scoring
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val m = graft.scoring.Boosting.fit(train, Seq("value", "hb", "dowi"),
        col("y"), rounds = 3, rate = 0.5)
      val nv = valid.agg(count(lit(1)).as("n_val"))
      // all 3 staged scores from ONE projection of the valid slice +
      // ONE grouped rank pipeline (Drift.aucByTag) — the per-round form
      // paid a full AUC pipeline each; per-tag values are bit-identical
      // (midrank sums are exact half-integers)
      val tagged = valid.select(col("y"), explode(array((1 to 3).map { t =>
          struct(lit(t).as("tag"), graft.scoring.Boosting
            .score(m.copy(rounds = m.rounds.take(t))).as("s"))
        }: _*)).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.s").as("s"))
      val featOf = (1 to 3).foldLeft(lit(null).cast("string")) { (acc, t) =>
        when(col("tag") === t, lit(m.rounds(t - 1).feature)).otherwise(acc) }
      val thrOf = (1 to 3).foldLeft(lit(null).cast("double")) { (acc, t) =>
        when(col("tag") === t, lit(m.rounds(t - 1).threshold)).otherwise(acc) }
      graft.feedback.Drift.aucByTag(tagged, col("tag"), col("y") === 1L, col("s"))
        .crossJoin(broadcast(nv))
        .select(col("tag").as("round"), featOf.as("feature"),
          r6(thrOf).as("threshold"), col("n_val"),
          r6(col("auc")).as("val_auc"))
    },
    // threshold-sweep operating table (the reference's
    // precision_recall_curve/roc_curve slot, models/advanced_models.py:
    // 27-28 + notebook cell-12): deciles of the score distribution under
    // a deterministic total order (score desc, id asc) via the two-pass
    // GlobalOrder rank, then precision / recall / F1 / FPR / alert
    // volume at each "alert the top d deciles" operating point. The
    // 10-row decile table takes its cumulative counts from a window-free
    // triangular self-join (exact longs) — the q155 recipe.
    "q181_threshold_sweep" -> { (s, dir) =>
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("value").as("sc"),
        (col("event_type") === "error").cast("long").as("y"))
      val ranked = graft.ops.GlobalOrder.withRowNumber(ev,
        Seq(col("sc").desc, col("event_id").asc), "__rn", total = Some("__n"))
      val per = ranked
        .withColumn("decile",
          graft.ops.GlobalOrder.ntileOf(col("__rn"), col("__n"), 10))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("np"),
          min(col("sc")).as("thr"))
      val tot = per.agg(sum(col("np")).cast("double").as("__p"),
        sum(col("n")).cast("double").as("__nn"))
      val prior = per.select(col("decile").as("__d2"), col("n").as("__n2"),
        col("np").as("__np2"))
      val cum = per.join(prior, col("__d2") <= col("decile"))
        .groupBy(col("decile"), col("thr"))
        .agg(sum(col("__n2")).as("alerts"), sum(col("__np2")).as("tp"))
        .crossJoin(broadcast(tot))
      val prec = col("tp").cast("double") / col("alerts")
      val rec = col("tp").cast("double") / col("__p")
      cum.select(col("decile").cast("long").as("decile"),
        r6(col("thr")).as("threshold"),
        col("alerts").as("n_alerts"), col("tp"),
        r6(prec).as("prec"), r6(rec).as("rec"),
        r6(when(col("tp") > 0, lit(2.0) * prec * rec / (prec + rec))
          .otherwise(lit(0.0))).as("f1"),
        r6((col("alerts") - col("tp")).cast("double") / (col("__nn") - col("__p")))
          .as("fpr"))
    },
    // stacked + voting ensemble (the reference's create_voting_ensemble/
    // create_stacking_ensemble, models/advanced_models.py:224-295):
    // three heterogeneous base models — naive Bayes log-odds, CART stump
    // vote, logistic margin — each trained leave-one-fold-out on the md5
    // fold split so every row gets OUT-OF-FOLD base predictions, then a
    // meta-LR stacks the (rounded) OOF columns and a majority vote gives
    // the voting twin. Base fits reuse the fused machinery (one bagged
    // stump candidate pass carries all folds; fitLogisticCV fuses the
    // fold gradients); per-fold models re-enter as literals, so scoring
    // is a pure projection. Reports each base OOF AUC, best-single,
    // stacked AUC, voting accuracy, and the meta weights.
    "q182_stacked_ensemble" -> { (s, dir) =>
      val nbFeats = Seq("hb", "dowi", "vb")
      val lrFeats = Seq("value", "hb", "dowi")
      // CLASS-STRATIFIED OOF folds (StratifiedKFold is what the
      // reference's stacking loop actually uses,
      // models/advanced_models.py:24,263): every fold carries the class
      // ratio exactly, so no base learner trains on a class-skewed slice
      val f = graft.scale.Splits.stratifiedKfold(eventFeatures(s, dir),
          col("event_id"), col("y"), k = 3, salt = "stack")
        .localCheckpoint()
      // per-fold best stump from ONE fused candidate pass (bag == fold)
      // ONE action for all three per-fold argmins (min-struct per bag —
      // the same (rounded gini, feature, threshold) comparator as the
      // per-bag TakeOrdered, and the tail is unique per bag so the
      // struct min is total) instead of three head() jobs over the
      // checkpointed candidate table
      // the stump argmin and the fused CV logistic fit are INDEPENDENT
      // chains over the shared checkpoint — overlap them (guide §2.6);
      // each chain's jobs and collected values are unchanged
      val (bestRows, lrModels) = par(
        Models.stumpCandidatesBagged(f, lrFeats, col("y"),
            col("fold"), bags = 3)
          .groupBy(col("bag")).agg(min(struct(
            r6(col("gini")).as("g"), col("feature"), col("threshold"),
            (col("pos_left") * 2 > col("n_left")).cast("long").as("lm"),
            (col("pos_right") * 2 > col("n_right")).cast("long").as("rm"))).as("b"))
          .select(col("bag"), col("b.*")).collect()
          .map(r => r.getInt(0) ->
            (r.getString(2), r.getDouble(3), r.getLong(4), r.getLong(5))).toMap,
        // per-fold LR, all folds' gradients fused into one aggregate/step
        graft.scoring.Trainer.fitLogisticCV(
          f, lrFeats, col("y"), col("fold"), folds = 3, iters = 5, lr = 0.5))
      val bests = (0 until 3).map(bestRows)
      // OOF naive Bayes rows — ALL folds' likelihood tables from one
      // pass per feature (bit-identical deltas to three per-fold fits;
      // model tables broadcast, the scored side never shuffles)
      val nbOof = Models.naiveBayesDeltaOof(f, nbFeats, col("y"),
        col("fold"), folds = 3)
      val voteCase = (0 until 3).foldLeft(lit(null).cast("long")) {
        case (acc, b) =>
          val (ft, th, lm, rm) = bests(b)
          when(col("fold") === b,
            when(col(ft).cast("double") <= lit(th), lit(lm)).otherwise(lit(rm)))
            .otherwise(acc)
      }
      val marginCase = (0 until 3).foldLeft(lit(null).cast("double")) {
        case (acc, b) =>
          when(col("fold") === b, graft.scoring.Trainer.margin(lrModels(b)))
            .otherwise(acc)
      }
      val oof = nbOof.select(col("y"), r6(col("delta")).as("m_nb"),
          voteCase.cast("double").as("m_stump"), r6(marginCase).as("m_lr"))
        .localCheckpoint() // meta GD passes + 4 AUC reads + vote acc
      val meta = graft.scoring.Trainer.fitLogistic(oof,
        Seq("m_nb", "m_stump", "m_lr"), col("y"), iters = 10, lr = 0.5)
      // all four AUC reads (three OOF base columns + the stacked margin)
      // from ONE projection of oof + ONE grouped rank pipeline instead
      // of four — bit-identical per tag (exact half-integer midranks)
      val tagged = oof.select(col("y"), explode(array(
          struct(lit(0).as("tag"), col("m_nb").as("s")),
          struct(lit(1).as("tag"), col("m_stump").as("s")),
          struct(lit(2).as("tag"), col("m_lr").as("s")),
          struct(lit(3).as("tag"),
            graft.scoring.Trainer.margin(meta).as("s")))).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.s").as("s"))
      val aucsRow = graft.feedback.Drift.aucByTag(tagged, col("tag"),
          col("y") === 1L, col("s"))
        .agg(r6(max(when(col("tag") === 0, col("auc")))).as("auc_nb"),
          r6(max(when(col("tag") === 1, col("auc")))).as("auc_stump"),
          r6(max(when(col("tag") === 2, col("auc")))).as("auc_lr"),
          r6(max(when(col("tag") === 3, col("auc")))).as("auc_stacked"))
      val maj = ((col("m_nb") > 0).cast("int") + (col("m_stump") > 0.5).cast("int") +
        (col("m_lr") > 0).cast("int") >= 2).cast("long")
      val va = oof.agg(count(lit(1)).as("n"),
        r6(avg((maj === col("y")).cast("double"))).as("vote_acc"))
      va.crossJoin(aucsRow)
        .select(col("n"), col("auc_nb"), col("auc_stump"), col("auc_lr"),
          greatest(col("auc_nb"), col("auc_stump"), col("auc_lr"))
            .as("auc_best_single"),
          col("auc_stacked"), col("vote_acc"),
          r6(lit(meta.intercept)).as("intercept"),
          r6(lit(meta.weights(0))).as("w_m_nb"),
          r6(lit(meta.weights(1))).as("w_m_stump"),
          r6(lit(meta.weights(2))).as("w_m_lr"))
    },
    // the reference's evaluate_all_models comparison table
    // (models/advanced_models.py:462-508: one row per trained model with
    // auc/precision/recall/f1/accuracy on a shared held-out slice): NB,
    // best stump, logistic GD, and the 3-round boosted chain, all fit on
    // the same 80% md5-bucket train slice and evaluated on the held-out
    // 20%. Stump "probabilities" are leaf class rates (sklearn
    // predict_proba of a depth-1 tree). Every model is O(model-size)
    // driver state; each evaluation is a broadcast-literal scan of the
    // validation slice plus the shared mid-rank AUC pass.
    "q194_model_leaderboard" -> { (s, dir) =>
      val sF = Seq("value", "hb", "dowi")
      // stratified fold-0 hold-out (stratify=y, the q232 machinery)
      val f = graft.scale.Splits.stratifiedKfold(eventFeatures(s, dir),
          col("event_id"), col("y"), k = 5, salt = "lead")
        .withColumnRenamed("fold", "vb5")
        .localCheckpoint() // four fits + four scoring passes read it
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      // all four models' (score, pred) from ONE projection of the shared
      // valid slice; confusion counts from ONE grouped aggregate and the
      // four AUCs from ONE grouped rank pipeline (bit-identical per
      // model — exact half-integer midranks) instead of a full AUC
      // pipeline + aggregate per model
      def metricsOfAll(scores: Seq[(String, Column, Column)]) = {
        val tagged = valid.select(col("y"), explode(array(
            scores.zipWithIndex.map { case ((_, sc, pred), i) =>
              struct(lit(i).as("tag"), sc.as("s"), pred.cast("long").as("pred"))
            }: _*)).as("__e"))
          .select(col("__e.tag").as("tag"), col("y"),
            col("__e.s").as("s"), col("__e.pred").as("pred"))
        val agg = tagged.groupBy(col("tag")).agg(count(lit(1)).as("n_val"),
          sum(when(col("pred") === 1 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") === 1 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
          sum(when(col("pred") === 0 && col("y") === 1, 1L).otherwise(0L)).as("fn"))
        val aucDf = graft.feedback.Drift.aucByTag(tagged, col("tag"),
          col("y") === 1L, col("s")).select(col("tag").as("__t2"),
          r6(col("auc")).as("auc"))
        val nameOf = scores.zipWithIndex.foldLeft(lit(null).cast("string")) {
          case (acc, ((n, _, _), i)) => when(col("tag") === i, lit(n)).otherwise(acc) }
        agg.join(broadcast(aucDf), col("tag") === col("__t2")).select(
          nameOf.as("model"), col("n_val"), col("auc"),
          r6((col("n_val") - col("fp") - col("fn")).cast("double") / col("n_val"))
            .as("accuracy"),
          r6(when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")))).as("prec"),
          r6(when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")))).as("rec"),
          r6(when(col("tp") * 2 + col("fp") + col("fn") > 0,
            col("tp") * 2.0 / (col("tp") * 2 + col("fp") + col("fn")))).as("f1"))
      }
      // the four fits — naive Bayes (the q167 model, the collected
      // literal-chain form, bit-identical to the join-form
      // naiveBayesDelta), best stump (q168 argmin), logistic GD
      // (train-slice standardization travels in the model), and the
      // 3-round boosted chain (the q191 fit) — are INDEPENDENT
      // driver-side chains over the shared checkpointed split: run them
      // concurrently (guide §2.6). Each chain's own job sequence (and
      // every collected value) is unchanged, so the fitted models are
      // bit-identical to the sequential form.
      val (nb, best, lrM, gbM) = par(
        Models.fitNaiveBayes(train, Seq("hb", "dowi", "vb"), col("y")),
        Models.stumpCandidates(train, sF, col("y"))
          .select(col("feature"), col("threshold"), r6(col("gini")).as("g"),
            col("n_left"), col("pos_left"), col("n_right"), col("pos_right"))
          .orderBy(col("g"), col("feature"), col("threshold")).limit(1).head(),
        graft.scoring.Trainer.fitLogistic(
          train, sF, col("y"), iters = 10, lr = 0.5),
        graft.scoring.Boosting.fit(
          train, sF, col("y"), rounds = 3, rate = 0.5))
      val sNb = r6(nb.delta)
      val leafRate = when(col(best.getString(0)).cast("double") <= best.getDouble(1),
        lit(best.getLong(4).toDouble / best.getLong(3)))
        .otherwise(lit(best.getLong(6).toDouble / best.getLong(5)))
      val sSt = r6(leafRate)
      val sLr = r6(graft.scoring.Trainer.margin(lrM))
      val sGb = r6(graft.scoring.Boosting.score(gbM))
      metricsOfAll(Seq(
        ("naive_bayes", sNb, sNb > 0),
        ("stump", sSt, sSt > 0.5),
        ("logistic", sLr, sLr > 0),
        ("boosted_stumps", sGb, sGb > 0.5)))
    },
    // closed-form hyperparameter grid (the reference's AutoML surface,
    // models/advanced_models.py:309-339, minus the RNG tuner): a
    // (learning-rate × iteration-budget) grid for the logistic trainer,
    // all rates trained SIMULTANEOUSLY — one fused aggregate per GD step
    // carries every rate's gradient, and iteration checkpoints snapshot
    // the smaller budgets — so the 6-cell grid costs max(iters) passes.
    // Each cell reports held-out AUC on a deterministic md5 validation
    // split; is_best marks the (auc desc, lr, iters) argmax via a
    // window-free triangular self-join over the 6-row cell table.
    "q183_lr_grid" -> { (s, dir) =>
      val rates = Seq(0.1, 0.5, 1.0)
      val checks = Seq(5, 10)
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "gridval", 5))
        .localCheckpoint() // max(iters) GD passes + 6 AUC reads
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val models = graft.scoring.Trainer.fitLogisticGrid(
        train, feats, col("y"), rates, checks)
      // all 6 cells' margins from ONE projection of the valid slice +
      // ONE grouped rank pipeline (bit-identical per cell — exact
      // half-integer midrank sums) instead of a pipeline per cell
      val grid = for { r <- rates; it <- checks } yield (r, it)
      val tagged = valid.select(col("y"), explode(array(
          grid.zipWithIndex.map { case ((r, it), i) =>
            struct(lit(i).as("tag"), graft.scoring.Trainer
              .margin(models((r, it))).as("margin"))
          }: _*)).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
      val nv = valid.agg(count(lit(1)).as("n_val"))
      def cellLit[T](f: ((Double, Int)) => T): Column =
        grid.zipWithIndex.foldLeft(lit(null)) { case (acc, (c, i)) =>
          when(col("tag") === i, lit(f(c))).otherwise(acc) }
      val wOf = feats.indices.map(j =>
        grid.zipWithIndex.foldLeft(lit(null).cast("double")) { case (acc, (c, i)) =>
          when(col("tag") === i, lit(models(c).weights(j))).otherwise(acc) })
      val cells = graft.feedback.Drift.aucByTag(tagged, col("tag"),
          col("y") === 1L, col("margin"))
        .crossJoin(broadcast(nv))
        .select(cellLit(_._1).as("lr") +: cellLit(_._2).as("iters") +:
          col("n_val") +: r6(col("auc")).as("auc") +:
          r6(cellLit(c => models(c).intercept)).as("intercept") +:
          feats.zip(wOf).map { case (c, w) => r6(w).as(s"w_$c") }: _*)
      val better = cells.select(col("lr").as("__l2"), col("iters").as("__i2"),
        col("auc").as("__a2"))
      cells.join(better,
          col("__a2") > col("auc") || (col("__a2") === col("auc") &&
            (col("__l2") < col("lr") ||
              (col("__l2") === col("lr") && col("__i2") < col("iters")))),
          "left")
        .groupBy(col("lr"), col("iters"), col("n_val"), col("auc"),
          col("intercept"), col("w_value"), col("w_hb"), col("w_dowi"))
        .agg(count(col("__l2")).as("__nb"))
        .select(col("lr"), col("iters"), col("n_val"), col("auc"),
          col("intercept"), col("w_value"), col("w_hb"), col("w_dowi"),
          (col("__nb") === 0).as("is_best"))
    },
    // per-feature Gini gain of the exact stump family — the tree twin of
    // q161's stddev importance, matching sklearn feature_importances_
    // semantics at depth 1: importance_f = (parent impurity − best split
    // impurity of f) / Σ gains. Best-split selection is a hash aggregate
    // over the rounded candidate table (min gini, then min threshold) —
    // no per-feature window, so a continuous feature with billions of
    // distinct values never funnels through one task.
    "q184_gini_importance" -> { (s, dir) =>
      val f = eventFeatures(s, dir)
      val cands = Models.stumpCandidates(f, Seq("value", "hb", "dowi"), col("y"))
        .select(col("feature"), col("threshold"), r6(col("gini")).as("g"))
        .localCheckpoint() // read twice: best-gini agg + threshold backjoin
      val best = cands.groupBy(col("feature")).agg(min(col("g")).as("best_gini"))
      val bt = cands.join(broadcast(best), Seq("feature"))
        .where(col("g") === col("best_gini"))
        .groupBy(col("feature"), col("best_gini"))
        .agg(min(col("threshold")).as("best_threshold"))
      val p = col("__tp").cast("double") / col("__tn")
      val parent = f.agg(count(lit(1)).as("__tn"), sum(col("y")).as("__tp"))
        .select((lit(1.0) - p * p - (lit(1.0) - p) * (lit(1.0) - p))
          .as("__pg"))
      val gains = bt.crossJoin(broadcast(parent))
        .select(col("feature"), col("best_threshold"), col("best_gini"),
          (col("__pg") - col("best_gini")).as("__gain"))
      val tg = gains.agg(sum(col("__gain")).as("__tg"))
      gains.crossJoin(broadcast(tg))
        .select(col("feature"), col("best_threshold"), col("best_gini"),
          r6(col("__gain")).as("gain"),
          r6(col("__gain") / col("__tg")).as("importance"))
    },
    // exact greedy depth-2 CART (scoring/Trees) — the smallest tree
    // that captures a feature INTERACTION, next to the boosted stumps'
    // additive model (the reference's forest members are depth-6/10,
    // models/advanced_models.py:228-231). Root stump + BOTH children in
    // one fused sided pass; report = the three chosen splits with exact
    // counts and per-node majority-leaf accuracy (root row carries the
    // whole-tree train accuracy). Model state is 3 driver rows; the
    // oracle replays the identical greedy chain on the same argmin order.
    "q185_depth2_tree" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // root + child fits
      val m = graft.scoring.Trees.fitDepth2(f, Seq("value", "hb", "dowi"), col("y"))
      def sideAcc(sp: graft.scoring.Trees.Split): Double =
        KMeansOps.r6d(sp.correct.toDouble / sp.n)
      def row(node: String, sp: graft.scoring.Trees.Split, acc: Double) =
        s.range(0, 1, 1, 1).select(lit(node).as("node"), lit(sp.feature).as("feature"),
          r6(lit(sp.threshold)).as("threshold"), lit(sp.gini).as("gini"),
          lit(sp.nLeft).as("n_left"), lit(sp.posLeft).as("pos_left"),
          lit(sp.nRight).as("n_right"), lit(sp.posRight).as("pos_right"),
          lit(acc).as("acc"))
      row("root", m.root, m.trainAccuracy)
        .unionByName(row("left", m.left, sideAcc(m.left)))
        .unionByName(row("right", m.right, sideAcc(m.right)))
    },
    // exact greedy depth-3 CART: the q185 chain one level deeper — root,
    // both children, then ALL FOUR grandchildren in one fused 4-group
    // leaf-membership pass (scoring/Trees.fitDepth3: 3 candidate passes
    // for 7 exact splits). One greedy level closer to the reference's
    // depth-6/10 forest members (models/advanced_models.py:228-231);
    // the oracle replays the identical greedy chain with per-leaf
    // filtered argmins.
    "q197_depth3_tree" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // 3 fused passes
      val m = graft.scoring.Trees.fitDepth3(f, Seq("value", "hb", "dowi"), col("y"))
      def row(node: String, sp: graft.scoring.Trees.Split, acc: Double) =
        s.range(0, 1, 1, 1).select(lit(node).as("node"), lit(sp.feature).as("feature"),
          r6(lit(sp.threshold)).as("threshold"), lit(sp.gini).as("gini"),
          lit(sp.nLeft).as("n_left"), lit(sp.posLeft).as("pos_left"),
          lit(sp.nRight).as("n_right"), lit(sp.posRight).as("pos_right"),
          lit(acc).as("acc"))
      def own(sp: graft.scoring.Trees.Split): Double =
        KMeansOps.r6d(sp.correct.toDouble / sp.n)
      Seq(row("root", m.root, m.trainAccuracy),
        row("left", m.left, own(m.left)), row("right", m.right, own(m.right)),
        row("ll", m.ll, own(m.ll)), row("lr", m.lr, own(m.lr)),
        row("rl", m.rl, own(m.rl)), row("rr", m.rr, own(m.rr)))
        .reduce(_.unionByName(_))
    },
    // deterministic 5-tree mini-forest (the reference's RandomForest
    // slot, models/advanced_models.py:228-252, RNG-free): each depth-2
    // member trains on its own md5 row subsample (~2/3 of the 80% train
    // slice) with a rotated 2-of-3 feature subset; majority vote over
    // the held-out 20%. The WHOLE forest fits in two fused grouped
    // candidate passes (scoring/Forest) — fit cost independent of
    // forest size; report = per-tree chains + per-tree and ensemble
    // held-out accuracy + vote-score AUC.
    "q198_mini_forest" -> { (s, dir) =>
      val allF = Seq("value", "hb", "dowi")
      val trees = 5
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "rf", 5))
        .localCheckpoint() // two fused passes + two scoring scans
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      def member(t: Int) =
        graft.scale.Splits.bucket(col("event_id"), s"rf$t", 3) =!= 0
      def featsOf(t: Int) = allF.patch(t % allF.size, Nil, 1)
      val forest = graft.scoring.Forest.fit(train, allF, col("y"),
        trees, member, featsOf)
      val votes = graft.scoring.Forest.votes(forest)
      val treeAccs = forest.map(t =>
        r6(avg((graft.scoring.Trees.predict(t.depth2) === col("y"))
          .cast("double"))).as(s"acc${t.tree}"))
      val aggs = Seq(count(lit(1)).as("n_val"),
        r6(avg(((votes >= 3).cast("long") === col("y")).cast("double")))
          .as("ens_val_acc")) ++ treeAccs
      val aggRow = valid.agg(aggs.head, aggs.tail: _*)
      val aucRow = graft.feedback.Drift.auc(
          valid.select(col("y"), votes.cast("double").as("s")),
          col("y") === 1L, col("s"))
        .select(r6(col("auc")).as("ens_val_auc"))
      val base = aggRow.crossJoin(aucRow)
      forest.map { t =>
        base.select(lit(t.tree).as("tree"),
          lit(t.root.feature).as("feature"), r6(lit(t.root.threshold)).as("threshold"),
          lit(t.root.gini).as("gini"),
          lit(t.left.feature).as("feature_l"), r6(lit(t.left.threshold)).as("threshold_l"),
          lit(t.right.feature).as("feature_r"), r6(lit(t.right.threshold)).as("threshold_r"),
          col(s"acc${t.tree}").as("tree_val_acc"),
          col("ens_val_acc"), col("ens_val_auc"), col("n_val"))
      }.reduce(_.unionByName(_))
    },
    // per-instance TreeSHAP over the q180 boosted chain (the reference's
    // explain_prediction, explainability/shap_explainer.py:78-126): for
    // an additive model of single-feature stumps the exact Shapley value
    // is closed-form — phi_f(x) = sum over stumps on f of
    // (leaf(x) - E[leaf]) with E over the training population — so the
    // per-row explanation is a literal CASE chain plus ONE population
    // aggregate (per-stump left counts), and the values sum EXACTLY to
    // score - base_value (the additivity_gap column hash-gates it at 0).
    "q199_tree_shap" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // fit + pop + scoring
      val m = graft.scoring.Boosting.fit(f, feats, col("y"), rounds = 3, rate = 0.5)
      val cntAggs = count(lit(1)).as("n") +:
        m.rounds.zipWithIndex.map { case (st, j) =>
          sum(when(col(st.feature).cast("double") <= st.threshold, 1L)
            .otherwise(0L)).as(s"cl$j")
        }
      val pop = f.agg(cntAggs.head, cntAggs.tail: _*)
      def g(j: Int): Column = { val st = m.rounds(j)
        when(col(st.feature).cast("double") <= lit(st.threshold), lit(st.vl))
          .otherwise(lit(st.vr)) }
      def eg(j: Int): Column = { val st = m.rounds(j)
        (col(s"cl$j") * lit(st.vl) + (col("n") - col(s"cl$j")) * lit(st.vr)) /
          col("n") }
      val idx = m.rounds.indices
      val sc = idx.foldLeft(lit(m.f0): Column)((acc, j) => acc + g(j))
      val bs = idx.foldLeft(lit(m.f0): Column)((acc, j) => acc + eg(j))
      // the oracle can't know the fitted features at SQL-build time, so
      // its phi terms are CASE-guarded over every round; mirror the same
      // j-ordered fold with literal-0 non-matching terms (bit-identical:
      // x + 0.0 is exact and no term is -0.0)
      def phi(fname: String): Column =
        idx.foldLeft(lit(0.0): Column)((acc, j) =>
          acc + (if (m.rounds(j).feature == fname) g(j) - eg(j) else lit(0.0)))
      val (pv, ph, pd) = (phi("value"), phi("hb"), phi("dowi"))
      val (av, ah, ad) = (abs(r6(pv)), abs(r6(ph)), abs(r6(pd)))
      f.crossJoin(broadcast(pop)).select(col("event_id"),
        r6(sc).as("score"), r6(bs).as("base_value"),
        r6(pv).as("phi_value"), r6(ph).as("phi_hb"), r6(pd).as("phi_dowi"),
        when(av >= ah && av >= ad, "value").when(ah >= ad, "hb")
          .otherwise("dowi").as("top_factor"),
        r6(sc - bs - pv - ph - pd).as("additivity_gap"))
    },
    // 2-layer MLP forward pass with literal weights over the embedding
    // column (the serving surface of the reference's neural members,
    // models/advanced_models.py:74-106,256): 8 hidden ArrayDot kernels +
    // a literal output fold — join-free, shuffle-free, whole-stage
    // codegen. Hidden activations round through the 4dp quantum before
    // layer 2 (the iterative-rounding recipe across LAYERS) so the
    // oracle's unnest-sum replay walks the identical chain.
    "q200_mlp_forward" -> { (s, dir) =>
      val net = graft.scoring.Mlp.deterministic(d = 64, hidden = 8)
      val base = Tables.embeddings(s, dir)
      val withH = (0 until net.hidden).foldLeft(base)((acc, j) =>
        acc.withColumn(s"h$j",
          graft.scoring.Mlp.hiddenCol(net, col("embedding"), j)))
      val z = graft.scoring.Mlp.logit(net, j => col(s"h$j"))
      val p = r6(graft.scoring.Mlp.sigmoid(z))
      withH.select(col("vec_id") +: col("label") +:
        (0 until net.hidden).map(j => col(s"h$j")) :+
        r6(z).as("logit") :+ p.as("prob") :+ (p > 0.5).as("pred"): _*)
    },
    // gradient-boosted DEPTH-2 TREES (the reference's actual GBM/XGB
    // member shape — 4-leaf trees per round, models/advanced_models.py:
    // 228-231 — one level beyond the q180 stump chain): 2 shrinkage-0.5
    // rounds, each an exact depth-2 regression tree on the running
    // residual via the fitDepth2 recipe (root pass + fused per-side
    // child pass). Residual sums decompose into INTEGER leaf-membership
    // cumsums (3 columns per prior round) + 4dp leaf-value literals, so
    // the DuckDB oracle replays the identical chain.
    "q201_boosted_trees" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // 2 passes/round + scoring
      val m = graft.scoring.Boosting.fitTrees(f, Seq("value", "hb", "dowi"),
        col("y"), rounds = 2, rate = 0.5)
      val scored = f.select(col("y"), graft.scoring.Boosting.scoreTrees(m).as("s"))
      val aucDf = graft.feedback.Drift.auc(scored, col("y") === 1L, col("s"))
      val err = col("y").cast("double") - col("s")
      val roundCols = m.rounds.zipWithIndex.flatMap { case (tr, i) =>
        val t = i + 1
        Seq(lit(tr.rootFeature).as(s"rf$t"), r6(lit(tr.rootThreshold)).as(s"rt$t"),
          lit(tr.leftFeature).as(s"lf$t"), r6(lit(tr.leftThreshold)).as(s"lt$t"),
          lit(tr.rightFeature).as(s"gf$t"), r6(lit(tr.rightThreshold)).as(s"gt$t"),
          lit(tr.v0).as(s"v0_$t"), lit(tr.v1).as(s"v1_$t"),
          lit(tr.v2).as(s"v2_$t"), lit(tr.v3).as(s"v3_$t"))
      }
      scored.agg(count(lit(1)).as("n"), r6(avg(err * err)).as("train_mse"))
        .crossJoin(aucDf)
        .select(col("n") +: lit(m.f0).as("f0") +: roundCols :+
          col("train_mse") :+ r6(col("auc")).as("train_auc"): _*)
    },
    // level-wise exact greedy depth-5 CART (the PLANET recipe on the
    // fused grouped pass — scoring/Trees.fitDepth): ONE candidate pass
    // per LEVEL fits every live node, so the fact table is scanned
    // depth × |features| times regardless of node count. Deterministic
    // stopping (pure node or no candidate — both replayable from the
    // parent split row), so the DuckDB chain replay lands on the same
    // tree; closes the depth gap to the reference's depth-6/10 forest
    // members (models/advanced_models.py:228-231). Report = every split
    // node (path, split, exact counts, own-leaf accuracy) + the whole
    // tree's terminal-leaf train accuracy on each row.
    "q202_deep_tree" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // one pass per level
      val m = graft.scoring.Trees.fitDepth(f, Seq("value", "hb", "dowi"),
        col("y"), maxDepth = 5)
      def own(sp: graft.scoring.Trees.Split): Double =
        KMeansOps.r6d(sp.correct.toDouble / sp.n)
      m.splits.toSeq.sortBy { case (p, _) => (p.length, p) }.map { case (p, sp) =>
        s.range(0, 1, 1, 1).select(
          lit(if (p.isEmpty) "root" else p).as("node"),
          lit(p.length.toLong).as("depth"),
          lit(sp.feature).as("feature"), r6(lit(sp.threshold)).as("threshold"),
          lit(sp.gini).as("gini"), lit(sp.nLeft).as("n_left"),
          lit(sp.posLeft).as("pos_left"), lit(sp.nRight).as("n_right"),
          lit(sp.posRight).as("pos_right"), lit(own(sp)).as("acc"),
          lit(m.trainAccuracy).as("tree_acc"))
      }.reduce(_.unionByName(_))
    },
    // gain-weighted feature importance of the depth-5 tree — sklearn
    // feature_importances_ semantics at real depth (q184 is the depth-1
    // twin): importance_f = Σ over split nodes on f of
    // n_node/N · (node impurity − weighted child impurity), normalized.
    // All terms recomputed UNROUNDED from the exact split counts (so
    // every gain is ≥ 0 by construction on both engines); the model is
    // ≤ 31 driver rows, the report 3 rows.
    "q203_deep_importance" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint()
      val m = graft.scoring.Trees.fitDepth(f, feats, col("y"), maxDepth = 5)
      def g2(pos: Long, n: Long): Double = {
        val q = pos.toDouble / n; 1.0 - q * q - (1.0 - q) * (1.0 - q)
      }
      def nodeStats(p: String): (Long, Long) =
        if (p.isEmpty) (m.n, m.pos)
        else {
          val s0 = m.splits(p.init)
          if (p.last == 'l') (s0.nLeft, s0.posLeft) else (s0.nRight, s0.posRight)
        }
      val gains = m.splits.toSeq.sortBy { case (p, _) => (p.length, p) }
        .map { case (p, sp) =>
          val (nn, np) = nodeStats(p)
          sp.feature -> (nn.toDouble / m.n) * (g2(np, nn) -
            (g2(sp.posLeft, sp.nLeft) * sp.nLeft / nn +
              g2(sp.posRight, sp.nRight) * sp.nRight / nn))
        }
      val perFeat = feats.map(ft => (ft,
        gains.count(_._1 == ft).toLong,
        gains.collect { case (f0, g) if f0 == ft => g }.sum))
      val total = perFeat.map(_._3).sum
      perFeat.map { case (ft, cnt, g) =>
        s.range(0, 1, 1, 1).select(lit(ft).as("feature"), lit(cnt).as("n_splits"),
          r6(lit(g)).as("gain"), r6(lit(g / total)).as("importance"))
      }.reduce(_.unionByName(_))
    },
    // depth-3 deterministic forest: the q198 recipe with LEVEL-WISE
    // members (Forest.fitDeep) — every live (tree, node) pair of a
    // level is one group of a single fused candidate pass, so the 5-
    // member depth-3 forest fits in 3 passes over the fact table (vs
    // 5 × 3 solo). Same md5 row subsamples and rotated feature subsets
    // as q198, same deterministic stopping as q202; report = every
    // member's split table + per-member terminal-leaf train accuracy.
    // (q198 carries the ensemble's held-out vote metrics; this query
    // gates the deep members' exact structure.)
    "q204_deep_forest" -> { (s, dir) =>
      val allF = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "rf", 5))
        .localCheckpoint() // one fused pass per level
      val train = f.where(col("vb5") =!= 0)
      def member(t: Int) =
        graft.scale.Splits.bucket(col("event_id"), s"rf$t", 3) =!= 0
      def featsOf(t: Int) = allF.patch(t % allF.size, Nil, 1)
      val forest = graft.scoring.Forest.fitDeep(train, allF, col("y"),
        trees = 5, maxDepth = 3, member, featsOf)
      forest.flatMap { ft =>
        ft.model.splits.toSeq.sortBy { case (p, _) => (p.length, p) }
          .map { case (p, sp) =>
            s.range(0, 1, 1, 1).select(lit(ft.tree.toLong).as("tree"),
              lit(if (p.isEmpty) "root" else p).as("node"),
              lit(p.length.toLong).as("depth"),
              lit(sp.feature).as("feature"), r6(lit(sp.threshold)).as("threshold"),
              lit(sp.gini).as("gini"), lit(sp.nLeft).as("n_left"),
              lit(sp.posLeft).as("pos_left"), lit(sp.nRight).as("n_right"),
              lit(sp.posRight).as("pos_right"),
              lit(ft.model.trainAccuracy).as("tree_acc"))
          }
      }.reduce(_.unionByName(_))
    },
    // LIME local surrogate (the reference's LIMEExplainer slot,
    // explainability/shap_explainer.py:255-304): per-transaction linear
    // surrogate of the q201 boosted depth-2 TREE model (the one family
    // member with feature interactions, so surrogate fidelity is a real
    // measurement). Neighborhood = the COMPLETE 2^3 factorial of
    // keep-vs-mask patterns (masked feature -> 4dp-rounded population
    // mean), uniform kernel — the exact least-squares surrogate over the
    // full local neighborhood, to which the reference's sampled
    // kernelized LIME converges as sigma -> inf; on the +/-1 coding of a
    // complete factorial the weighted fit is closed-form (beta_j = the
    // signed pattern-score mean), so the whole query is ONE shuffle-free
    // projection: 8 score expressions per row, betas / intercept /
    // fidelity R^2 as row-local folds. The DuckDB oracle replays the
    // identical fold order, so every unrounded intermediate is
    // bit-identical.
    "q205_lime_local" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // fit + bg + scoring
      val m = graft.scoring.Boosting.fitTrees(f, feats, col("y"),
        rounds = 2, rate = 0.5)
      val bgNames = Seq("bgv", "bgh", "bgd")
      val bg = f.agg(r6(avg(col("value"))).as("bgv"),
        r6(avg(col("hb"))).as("bgh"), r6(avg(col("dowi"))).as("bgd"))
      val scoreP = graft.scoring.Lime.maskedTreeScore(m, feats,
        j => col(bgNames(j))) _
      val out = graft.scoring.Lime.surrogate(
        f.crossJoin(broadcast(bg)), k = 3, scoreP)
      val (av, ah, ad) =
        (abs(r6(col("__b0"))), abs(r6(col("__b1"))), abs(r6(col("__b2"))))
      out.select(col("event_id"),
        r6(col("__s7")).as("prediction"),
        r6(col("__b")).as("intercept"),
        r6(col("__b0")).as("lime_value"),
        r6(col("__b1")).as("lime_hb"),
        r6(col("__b2")).as("lime_dowi"),
        r6(col("__b") + col("__b0") + col("__b1") + col("__b2")).as("local_pred"),
        r6(when(col("__sst") > 0, lit(1.0) - col("__sse") / col("__sst"))
          .otherwise(lit(1.0))).as("fidelity_r2"),
        when(av >= ah && av >= ad, "value").when(ah >= ad, "hb")
          .otherwise("dowi").as("top_factor"))
    },
    // continuous-learning cycle (the reference's ContinuousLearning
    // Pipeline.run_continuous_learning_cycle + ModelRetrainer.
    // should_retrain, feedback/feedback_system.py:241-283,455-512):
    // ONE cycle report row — drift gate (the q43 windowed-AUC check),
    // feedback volume + accuracy gates in the reference's priority
    // order, then the retrain step itself: a closed-form naive-Bayes
    // refit on the md5-80% of the recent feedback window, challenger
    // AUC vs the incumbent score on the shared held-out 20%, and the
    // promote decision. Every model is aggregation-shaped (likelihood
    // tables broadcast, AUC via the distinct-value cumsum); the cycle
    // adds no driver state beyond 1-row aggregates.
    "q206_learning_cycle" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val drift = graft.feedback.Drift.aucDriftWindowed(ev,
        col("event_type") === "error", col("value"), col("ts"))
      val bounds = ev.agg(max(unix_micros(col("ts"))).as("max_tm"))
      val recent = ev.crossJoin(broadcast(bounds))
        .where(unix_micros(col("ts")) > col("max_tm") - lit(604800000000L))
        .select(col("event_id"),
          hour(col("ts")).as("hb"),
          pmod(intDiv(unix_micros(col("ts")), lit(86400000000L)), lit(7L)).as("dowi"),
          least(floor(col("value") / 100).cast("long"), lit(5L)).as("vb"),
          col("value"),
          (col("event_type") === "error").cast("long").as("y"))
        .withColumn("rb5", graft.scale.Splits.bucket(col("event_id"), "retrain", 5))
        .localCheckpoint() // volume/accuracy + NB train/test + two AUCs
      val stats = recent.agg(count(lit(1)).as("n_feedback"),
        graft.feedback.Drift.accuracy(col("value") > 100.0, col("y") === 1L).as("acc"))
      val train = recent.where(col("rb5") =!= 0)
      val test = recent.where(col("rb5") === 0)
      val oldAuc = graft.feedback.Drift.auc(test, col("y") === 1L, col("value"))
        .select(col("auc").as("old_auc"))
      val nb = Models.naiveBayesDelta(train, test, Seq("hb", "dowi", "vb"), col("y"))
      val newAuc = graft.feedback.Drift.auc(nb, col("y") === 1L, col("delta"))
        .select(col("auc").as("new_auc"))
      val row = drift.crossJoin(stats).crossJoin(oldAuc).crossJoin(newAuc)
      val sufficient = col("n_feedback") >= 100
      val lowAcc = r6(col("acc")) < 0.85
      val shouldRetrain = sufficient && (col("drift_detected") || lowAcc)
      val improvement = r6(col("new_auc") - col("old_auc"))
      row.select(
        col("n_feedback"),
        r6(col("auc_recent")).as("auc_recent"),
        r6(col("auc_prior")).as("auc_prior"),
        r6(col("degradation")).as("degradation"), col("drift_detected"),
        r6(col("acc")).as("feedback_accuracy"),
        shouldRetrain.as("should_retrain"),
        when(!sufficient, "insufficient_feedback")
          .when(col("drift_detected"), "performance_drift")
          .when(lowAcc, "low_accuracy")
          .otherwise("no_retraining_needed").as("reason"),
        r6(col("old_auc")).as("old_auc"), r6(col("new_auc")).as("new_auc"),
        improvement.as("improvement"),
        (shouldRetrain && improvement > 0).as("promote"))
    },
    // random-search hyperparameter study (the reference's
    // AutoMLOptimizer/optuna surface, models/advanced_models.py:309-361,
    // made deterministic): 6 trials sample (learning_rate, iters) from
    // md5 bits — CONTINUOUS rate draws, not a grid — all trained
    // simultaneously by the q183 fused-gradient trainer (the study costs
    // max(iters) passes); each trial reports held-out AUC, is_best
    // marks the deterministic argmax, and the optuna-style param
    // importances are |Spearman rank correlation| of each
    // hyperparameter with the objective across trials (computed with
    // window-free triangular midranks; rank sums are exact binary
    // halves, so both engines agree bit-for-bit before rounding).
    "q207_random_search" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val trials = (0 until 6).map { t =>
        val lr = graft.scoring.KMeansOps.r6d(
          0.05 + 1.95 * (graft.scale.Splits.bucketLocal("lr", t.toString, 10000) / 10000.0))
        val it = 3 + graft.scale.Splits.bucketLocal("it", t.toString, 10).toInt
        (t, lr, it)
      }
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "rsval", 5))
        .localCheckpoint() // max(iters) GD passes + per-trial AUC reads
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val models = graft.scoring.Trainer.fitLogisticGrid(train, feats, col("y"),
        trials.map(_._2).distinct, trials.map(_._3).distinct.sorted)
      // all 6 trials' margins from ONE projection of the valid slice +
      // ONE grouped rank pipeline instead of a pipeline per trial. The
      // rank/argmax below stays on the UNROUNDED auc — safe because the
      // midrank identity is exact half-integer arithmetic over one
      // division, so the raw value is bit-identical fused or solo.
      val tagged = valid.select(col("y"), explode(array(
          trials.map { case (t, lr, it) =>
            struct(lit(t).as("tag"), graft.scoring.Trainer
              .margin(models((lr, it))).as("margin"))
          }: _*)).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
      val nv = valid.agg(count(lit(1)).as("n_val"))
      def trialLit(f: ((Int, Double, Int)) => Column): Column =
        trials.foldLeft(lit(null)) { (acc, tr) =>
          when(col("tag") === tr._1, f(tr)).otherwise(acc) }
      val cells = graft.feedback.Drift.aucByTag(tagged, col("tag"),
          col("y") === 1L, col("margin"))
        .crossJoin(broadcast(nv))
        .select(col("tag").cast("long").as("trial") +:
          trialLit(tr => lit(tr._2)).as("lr") +:
          trialLit(tr => lit(tr._3.toLong)).as("iters") +: col("n_val") +:
          col("auc").as("__ar") +:
          r6(col("auc")).as("auc") +:
          r6(trialLit(tr => lit(models((tr._2, tr._3)).intercept))).as("intercept") +:
          feats.zipWithIndex.map { case (c, j) =>
            r6(trialLit(tr => lit(models((tr._2, tr._3)).weights(j)))).as(s"w_$c")
          }: _*)
        .localCheckpoint() // ranks + importances re-read
      val keep = Seq("trial", "lr", "iters", "n_val", "auc", "intercept",
        "w_value", "w_hb", "w_dowi").map(col)
      val c2 = cells.select(col("trial").as("__t2"), col("lr").as("__l2"),
        col("iters").as("__i2"), col("__ar").as("__a2"))
      def midrank(other: Column, own: Column): Column =
        sum(when(other < own, 1L).otherwise(0L)) +
          (sum(when(other === own, 1L).otherwise(0L)) + 1) / 2.0
      val rks = cells.crossJoin(c2).groupBy(keep :+ col("__ar"): _*)
        .agg(midrank(col("__l2"), col("lr")).as("r_lr"),
          midrank(col("__i2"), col("iters")).as("r_it"),
          midrank(col("__a2"), col("__ar")).as("r_auc"),
          sum(when(col("__a2") > col("__ar") ||
            (col("__a2") === col("__ar") && col("__t2") < col("trial")), 1L)
            .otherwise(0L)).as("__nb"))
        .localCheckpoint() // tiny (one row per trial); read for sp + output
      val sp = rks.agg(count(lit(1)).cast("double").as("n"),
        sum(col("r_lr")).as("sl"), sum(col("r_it")).as("si"),
        sum(col("r_auc")).as("sa"),
        sum(col("r_lr") * col("r_auc")).as("sla"),
        sum(col("r_it") * col("r_auc")).as("sia"),
        sum(col("r_lr") * col("r_lr")).as("sll"),
        sum(col("r_it") * col("r_it")).as("sii"),
        sum(col("r_auc") * col("r_auc")).as("saa"))
      def spearman(sx: Column, sxx: Column, sxa: Column): Column = {
        val (n, sa, saa) = (col("n"), col("sa"), col("saa"))
        when(n * sxx - sx * sx > 0 && n * saa - sa * sa > 0,
          abs((n * sxa - sx * sa) /
            (sqrt(n * sxx - sx * sx) * sqrt(n * saa - sa * sa))))
      }
      val imp = sp.select(
        spearman(col("sl"), col("sll"), col("sla")).as("__implr"),
        spearman(col("si"), col("sii"), col("sia")).as("__impit"))
      rks.crossJoin(broadcast(imp)).select(keep ++ Seq(
        (col("__nb") === 0).as("is_best"),
        r6(col("__implr")).as("imp_lr"),
        r6(col("__impit")).as("imp_iters")): _*)
    },
    // successive-halving hyperparameter search (the modern AutoML
    // scheduler next to q183's grid and q207's random search — sklearn
    // HalvingGridSearchCV semantics with iterations as the resource,
    // deterministic): rung 1 trains all 6 md5-drawn learning rates for
    // 3 GD iterations, the top 3 by held-out AUC advance and REFIT at 6
    // iterations, the winner refits at 12 (refit-per-rung is sklearn's
    // own behavior). Each rung is ONE fused-gradient fit for all its
    // survivors, so halving's economics show up as shrinking aggregate
    // WIDTH. Survival is decided on the raw midrank AUC (exact
    // half-integer arithmetic — engine-identical), trial-index
    // tie-break; the oracle trains every candidate at every rung and
    // surfaces rows through the same rank predicates.
    "q211_halving_search" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val lrs = (0 until 6).map(t => graft.scoring.KMeansOps.r6d(
        0.05 + 1.95 * (graft.scale.Splits.bucketLocal("lr", t.toString, 10000) / 10000.0)))
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "rsval", 5))
        .localCheckpoint() // 3 rung fits + per-cell AUC reads
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      // rung: refit `cands` from zero for `iters`; every candidate's
      // held-out AUC lands in ONE union-collect (one job per rung, not
      // one per candidate)
      def rung(cands: Seq[Int], iters: Int): Seq[(Int, Option[Double])] = {
        val ms = graft.scoring.Trainer.fitLogisticGrid(train, feats, col("y"),
          cands.map(lrs).distinct, Seq(iters))
        // every candidate's margin from ONE projection of the valid
        // slice + ONE grouped rank pipeline (bit-identical per
        // candidate — exact half-integer midranks) instead of a full
        // AUC pipeline per candidate
        val tagged = valid.select(col("y"), explode(array(cands.map { t =>
            struct(lit(t).as("tag"), graft.scoring.Trainer
              .margin(ms((lrs(t), iters))).as("margin"))
          }: _*)).as("__e"))
          .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
        graft.feedback.Drift.aucByTag(tagged, col("tag"),
            col("y") === 1L, col("margin")).collect()
          .map(r => r.getInt(0) ->
            (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toSeq
      }
      // survival on the RAW midrank AUC (exact arithmetic), trial
      // tie-break; a degenerate single-class AUC sorts last
      def top(scored: Seq[(Int, Option[Double])], k: Int): Seq[Int] =
        scored.sortBy { case (t, a) => (-a.getOrElse(-1.0), t) }
          .take(k).map(_._1).sorted
      val r1 = rung(0 until 6, 3)
      val s1 = top(r1, 3)
      val r2 = rung(s1, 6)
      val s2 = top(r2, 1)
      val r3 = rung(s2, 12)
      val (a1, a2m, a3m) = (r1.toMap, r2.toMap, r3.toMap)
      def aucCol(v: Option[Option[Double]]): Column =
        v.flatten.map(x => r6(lit(x))).getOrElse(lit(null).cast("double"))
      (0 until 6).map { t =>
        val reached = if (s2.contains(t)) 3 else if (s1.contains(t)) 2 else 1
        s.range(0, 1, 1, 1).select(lit(t.toLong).as("trial"), lit(lrs(t)).as("lr"),
          lit(reached.toLong).as("rung_reached"),
          // Map.get (not apply): aucByTag emits no row for a tag whose
          // valid slice is empty — absent rung rows surface as NULL AUC
          // instead of a driver NoSuchElementException (ADVICE-r16)
          aucCol(a1.get(t)).as("auc_r1"),
          aucCol(if (reached >= 2) a2m.get(t) else None).as("auc_r2"),
          aucCol(if (reached >= 3) a3m.get(t) else None).as("auc_r3"),
          lit(s2.contains(t)).as("selected"))
      }.reduce(_.unionByName(_))
    },
    // model performance history (the reference's model_performance table
    // + get_model_performance_history, feedback/feedback_system.py:
    // 130-156): one row per event-time week ("model version", 0 = most
    // recent), the reference's metric columns (AUC / accuracy /
    // precision / recall / F1) from ONE grouped pass + a per-week
    // midrank AUC, week-over-week delta via a tiny shifted self-join,
    // the q43 degradation flag against the prior version, and the
    // worst-version marker — the ops view a model registry serves.
    "q212_performance_history" -> { (s, dir) =>
      val ev = Tables.events(s, dir)
      val b = ev.agg(max(unix_micros(col("ts"))).as("max_tm"))
      val wk = ev.crossJoin(broadcast(b))
        .select(floor((col("max_tm") - unix_micros(col("ts"))) /
            lit(604800000000L)).cast("long").as("week"),
          col("value").as("sc"),
          (col("event_type") === "error").cast("int").as("y"))
      val aucDf = graft.feedback.Drift.groupedAuc(wk, col("week"),
          col("y") === 1, col("sc"))
        .select(col("g").as("week"), col("auc"))
      val conf = wk.groupBy(col("week")).agg(
        count(lit(1)).as("n"), sum(col("y")).cast("long").as("n_pos"),
        sum(when(col("sc") > 100.0 && col("y") === 1, 1L).otherwise(0L)).as("tp"),
        sum(when(col("sc") > 100.0 && col("y") === 0, 1L).otherwise(0L)).as("fp"),
        sum(when(!(col("sc") > 100.0) && col("y") === 1, 1L).otherwise(0L)).as("fn"))
      val per = conf.join(broadcast(aucDf), "week").localCheckpoint() // tiny
      val prior = per.select((col("week") - 1).as("week"),
        col("auc").as("__prev"))
      val mn = per.agg(min(r6(col("auc"))).as("__mn"))
      per.join(broadcast(prior), Seq("week"), "left")
        .crossJoin(broadcast(mn))
        .select(col("week"), col("n"), col("n_pos"),
          r6(col("auc")).as("auc"),
          r6((col("n") - col("fp") - col("fn")).cast("double") / col("n")).as("accuracy"),
          r6(when(col("tp") + col("fp") > 0,
            col("tp").cast("double") / (col("tp") + col("fp")))).as("prec"),
          r6(when(col("tp") + col("fn") > 0,
            col("tp").cast("double") / (col("tp") + col("fn")))).as("rec"),
          r6(when(lit(2) * col("tp") + col("fp") + col("fn") > 0,
            lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn")))).as("f1"),
          r6(col("auc") - col("__prev")).as("delta_auc"),
          when(col("__prev").isNotNull, col("__prev") - col("auc") > 0.05)
            .otherwise(lit(false)).as("degraded"),
          coalesce(r6(col("auc")) === col("__mn"), lit(false)).as("is_worst"))
    },
    // EXACT interventional SHAP for the boosted depth-2 TREES (the
    // interaction-aware extension of q199's stump-chain SHAP — the
    // reference explains its tree ensembles per instance,
    // explainability/shap_explainer.py:78-126). Each round is a
    // 3-player slot game whose conditional expectations reduce to FIVE
    // population counts (scoring/TreeShap): the whole explainer is ONE
    // population aggregate + per-row literal arithmetic, zero shuffle.
    // Feature credit = sum of its slots' phis (equal to feature-level
    // Shapley when the fitted slots are distinct, the case at every
    // driver SF); efficiency Σphi = score − base holds identically, so
    // the additivity gap is hash-gated as a 0.0 column like q199.
    "q214_deep_tree_shap" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // fit + pop + scoring
      val m = graft.scoring.Boosting.fitTrees(f, feats, col("y"),
        rounds = 2, rate = 0.5)
      val aggs = count(lit(1)).as("nn") +: m.rounds.zipWithIndex.flatMap {
        case (tr, i) => graft.scoring.TreeShap.countAggs(tr, i + 1)
      }
      val pop = f.agg(aggs.head, aggs.tail: _*)
      val per = m.rounds.zipWithIndex.map { case (tr, i) =>
        val t = i + 1
        graft.scoring.TreeShap.roundPhis(tr, col(s"naL_$t"), col(s"nbL_$t"),
          col(s"ncL_$t"), col(s"nabLL_$t"), col(s"nacGL_$t"), col("nn"))
      }
      // the oracle can't know the fitted features at SQL-build time, so
      // its phi terms are CASE-guarded per slot; mirror the same
      // (round, root/left/right)-ordered fold with literal-0 terms
      def phiFor(fname: String): Column =
        m.rounds.zipWithIndex.foldLeft(lit(0.0): Column) { case (acc, (tr, i)) =>
          val (pa, pb, pc, _, _) = per(i)
          acc + (if (tr.rootFeature == fname) pa else lit(0.0)) +
            (if (tr.leftFeature == fname) pb else lit(0.0)) +
            (if (tr.rightFeature == fname) pc else lit(0.0))
        }
      val score = per.map(_._5).foldLeft(lit(m.f0): Column)(_ + _)
      val bs = per.map(_._4).foldLeft(lit(m.f0): Column)(_ + _)
      val (pv, ph, pd) = (phiFor("value"), phiFor("hb"), phiFor("dowi"))
      val (av, ah, ad) = (abs(r6(pv)), abs(r6(ph)), abs(r6(pd)))
      f.crossJoin(broadcast(pop)).select(col("event_id"),
        r6(score).as("score"), r6(bs).as("base_value"),
        r6(pv).as("phi_value"), r6(ph).as("phi_hb"), r6(pd).as("phi_dowi"),
        when(av >= ah && av >= ad, "value").when(ah >= ad, "hb")
          .otherwise("dowi").as("top_factor"),
        r6(score - bs - pv - ph - pd).as("additivity_gap"))
    },
    // recursive feature elimination (the notebook's third selector,
    // notebooks/aml_analysis.ipynb cell 2 / sklearn RFE): fit the
    // fused-gradient logistic model, drop the feature with the smallest
    // 4dp |standardized weight| (feature-order tie-break), refit on the
    // survivors — two elimination rounds over 4 features, then a final
    // fit. The DuckDB oracle replays each stage as a masked GD chain:
    // a dropped feature's weight is pinned to literal 0.0 by a CASE on
    // the argmin scalar, which is arithmetically identical to refitting
    // without it. Rankings follow sklearn's ranking_ (selected = 1,
    // later drops rank better).
    "q210_rfe" -> { (s, dir) =>
      val allF = Seq("value", "hb", "dowi", "vb")
      val f = eventFeatures(s, dir).localCheckpoint() // 3 fits × 6 GD passes
      def rounded(m: graft.scoring.Trainer.LogisticModel): Map[String, Double] =
        m.features.zip(m.weights.map(graft.scoring.KMeansOps.r6d)).toMap
      var kept = allF
      var drops = List.empty[(String, Int)] // (feature, round)
      for (round <- 1 to 2) {
        val m = graft.scoring.Trainer.fitLogistic(f, kept, col("y"),
          iters = 6, lr = 0.5)
        val rw = rounded(m)
        val drop = kept.minBy(ft => (math.abs(rw(ft)), allF.indexOf(ft)))
        drops ::= ((drop, round))
        kept = kept.filterNot(_ == drop)
      }
      val rwf = rounded(graft.scoring.Trainer.fitLogistic(f, kept, col("y"),
        iters = 6, lr = 0.5))
      val byFeat = drops.toMap
      allF.map { ft =>
        val round = byFeat.getOrElse(ft, 0)
        s.range(0, 1, 1, 1).select(lit(ft).as("feature"),
          lit(round == 0).as("selected"),
          lit(round.toLong).as("elim_round"),
          lit(if (round == 0) 1L else (4 - round).toLong).as("ranking"),
          lit(if (round == 0) rwf(ft) else 0.0).as("final_weight"))
      }.reduce(_.unionByName(_))
    },
    // deterministic bagged-stump ensemble (the reference's RF/ensemble
    // slot, RNG-free): 3 leave-one-fold-out bags via the md5 split
    // bucket, the exact CART stump per bag, majority vote over the full
    // population. Each 1-row best-stump broadcasts; voting is a pure
    // projection — the fact table is read once per bag for training and
    // once for scoring, never collected.
    "q171_stump_bagging" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir)
        .withColumn("bag", graft.scale.Splits.bucket(col("event_id"), "bag", 3))
        .localCheckpoint() // candidate build + vote scan re-read it
      // fused: one cumsum pipeline per FEATURE carries all 3 bags'
      // counts; the candidate table materializes once (it is distinct-
      // value × bags sized, tiny next to the fact table) and the three
      // per-bag argmins are top-1 reads of it
      val cands = Models.stumpCandidatesBagged(f, feats, col("y"),
        col("bag"), bags = 3).localCheckpoint()
      def best(b: Int) =
        cands.where(col("bag") === b)
          .select(col("feature").as(s"f$b"), col("threshold").as(s"t$b"),
            r6(col("gini")).as(s"g$b"),
            (col("pos_left") * 2 > col("n_left")).cast("long").as(s"lm$b"),
            (col("pos_right") * 2 > col("n_right")).cast("long").as(s"rm$b"))
          .orderBy(col(s"g$b"), col(s"f$b"), col(s"t$b")).limit(1)
      val scored = (0 until 3).foldLeft(f: org.apache.spark.sql.DataFrame)(
        (acc, b) => acc.crossJoin(broadcast(best(b))))
      def fv(b: Int): Column =
        when(col(s"f$b") === "value", col("value").cast("double"))
          .when(col(s"f$b") === "hb", col("hb").cast("double"))
          .otherwise(col("dowi").cast("double"))
      def vote(b: Int): Column =
        when(fv(b) <= col(s"t$b"), col(s"lm$b")).otherwise(col(s"rm$b"))
      val ens = ((vote(0) + vote(1) + vote(2)) >= 2).cast("long")
      val perBag = (0 until 3).flatMap(b =>
        Seq(first(col(s"f$b")).as(s"f$b"), first(col(s"t$b")).as(s"t$b"),
          first(col(s"g$b")).as(s"g$b")))
      val aggs = perBag ++ Seq(
        r6(avg((ens === col("y")).cast("double"))).as("ens_acc"),
        count(lit(1)).as("n"))
      scored.agg(aggs.head, aggs.tail: _*)
    },
    // AdaBoost-SAMME stumps (the reference's AdaBoostClassifier ensemble
    // slot, models/advanced_models.py:17): 4 adaptive-reweighting rounds
    // on the md5 80% train slice. Sample weights never materialize —
    // each round's fused candidate pass counts integers per (feature,
    // threshold, miss-pattern) cell and folds the ≤2^r pattern-weight
    // literals after aggregation (scoring/AdaBoost), so the DuckDB
    // oracle replays the identical weight chain. Report: per-round stump
    // + weighted err + vote alpha + staged train/held-out error.
    "q216_adaboost" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      // stratified fold-0 hold-out (stratify=y, the q232 machinery)
      val f = graft.scale.Splits.stratifiedKfold(eventFeatures(s, dir),
          col("event_id"), col("y"), k = 5, salt = "abval")
        .withColumnRenamed("fold", "vb5")
        .localCheckpoint() // read once per boosting round + 2 staged scans
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val m = graft.scoring.AdaBoost.fit(train, feats, col("y"), rounds = 4)
      val mT = m.size // early-stop may fit fewer rounds; report what exists
      def staged(df: org.apache.spark.sql.DataFrame, pfx: String) = {
        val aggs = count(lit(1)).as(s"${pfx}n") +: (1 to mT).map(t =>
          sum((graft.scoring.AdaBoost.classify(m.take(t)) =!= col("y"))
            .cast("long")).as(s"${pfx}m$t"))
        df.agg(aggs.head, aggs.tail: _*)
      }
      val rows = (1 to mT).map { t =>
        val r = m(t - 1)
        struct(lit(t.toLong).as("round"), lit(r.feature).as("feature"),
          r6(lit(r.threshold)).as("threshold"),
          lit(r.leftLabel).as("left_label"),
          lit(r.rightLabel).as("right_label"),
          r6(lit(r.err)).as("err"), lit(r.alpha).as("alpha"),
          r6(col(s"tm$t").cast("double") / col("tn")).as("train_err"),
          r6(col(s"vm$t").cast("double") / col("vn")).as("val_err"))
      }
      staged(train, "t").crossJoin(staged(valid, "v"))
        .select(explode(array(rows: _*)).as("r")).select(col("r.*"))
    },
    // class-weighted logistic GD (the reference's class_weight=
    // 'balanced' / scale_pos_weight=10 hyperparameter surface,
    // models/advanced_models.py:228-229): positive rows' gradient
    // contributions scale by pos_weight; ALL settings train in ONE
    // fused aggregate per GD step (Trainer.fitLogisticWeighted). The
    // third setting is the DATA-DERIVED balanced ratio n_neg/n_pos of
    // the train slice — exactly the reference's retrainer
    // (scale_pos_weight = len(y==0)/len(y==1),
    // feedback/feedback_system.py:329). Report: per-setting fitted
    // weights + held-out AUC and the 0.5-threshold operating point —
    // the minority-recall shift class weighting exists to buy.
    "q217_weighted_logistic" -> { (s, dir) =>
      wlrQuery(s, dir, "wlr", Seq(1.0, 10.0), withBest = false,
        withBalanced = true)
    },
    // deterministic SMOTE (the reference's prepare_data default,
    // models/advanced_models.py:395-407): synthesize interpolated
    // minority rows — per-parent neighbor and λ are md5 draws, k-NN
    // runs in md5 shards on 4dp z-scores (scale/Smote), reps sized to
    // approach balance (⌊(neg−pos)/pos⌋, capped). Output = the
    // synthetic rows themselves (parents, chosen neighbor, λ,
    // interpolated features) + the class-balance report columns.
    "q218_smote" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // counts + minority slice
      val cnt = f.agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      val (np, nn) = (cnt.getLong(0), cnt.getLong(1))
      val m = math.max(1L, math.min(10L, (nn - np) / np)).toInt
      // shard count targets ~1M candidate pairs (minority²/shards) so
      // the k-NN stays flat as the minority grows; the oracle derives
      // the same count from its np scalar
      val shards = math.max(1L, math.min(1024L, np * np / 1000000L)).toInt
      val syn = graft.scale.Smote.synthesize(f.where(col("y") === 1L),
        col("event_id"), feats, k = 5, reps = m, shards = shards,
        salt = "smote")
      syn.select(col("parent_id"), col("nbr_id"), col("rep"),
        r6(col("lam")).as("lam"),
        r6(col("s_value")).as("s_value"), r6(col("s_hb")).as("s_hb"),
        r6(col("s_dowi")).as("s_dowi"),
        lit(np).as("n_pos"), lit(nn).as("n_neg"),
        // nominal TARGET np*(m+1), not the achieved count — singleton-
        // shard parents (documented Smote behavior) may emit fewer
        lit(np * (m + 1)).as("n_pos_target"))
    },
    // the reference's ACTUAL training flow (prepare_data balances with
    // SMOTE by default, then fits — models/advanced_models.py:395-470):
    // fit the logistic trainer on the train slice vs on train ∪
    // synthetic-minority, score both on the SAME held-out slice; the
    // report is the recall/precision shift oversampling buys at the 0.5
    // operating point. Oracle replays the SMOTE chain AND both GD
    // chains end-to-end — the full prepare→fit→evaluate composition.
    "q220_smote_train" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      // stratified fold-0 hold-out (stratify=y, the q232 machinery)
      val f = graft.scale.Splits.stratifiedKfold(eventFeatures(s, dir),
          col("event_id"), col("y"), k = 5, salt = "smtr")
        .withColumnRenamed("fold", "vb5")
        .localCheckpoint() // counts + smote + 2 fits + metric reads
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val cnt = train.agg(
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      val (np, nn) = (cnt.getLong(0), cnt.getLong(1))
      val m = math.max(1L, math.min(10L, (nn - np) / np)).toInt
      val shards = math.max(1L, math.min(1024L, np * np / 1000000L)).toInt
      val syn = graft.scale.Smote.synthesize(train.where(col("y") === 1L),
        col("event_id"), feats, k = 5, reps = m, shards = shards,
        salt = "smtr")
      val base = train.select(col("value").cast("double").as("value"),
        col("hb").cast("double").as("hb"),
        col("dowi").cast("double").as("dowi"), col("y"))
      // the baseline fit and the (SMOTE-augment checkpoint + fit) are
      // INDEPENDENT chains — overlap them (guide §2.6); each chain's
      // jobs and fitted weights are unchanged
      val (mb, (aug, ma)) = par(
        graft.scoring.Trainer.fitLogistic(base, feats, col("y"),
          iters = 6, lr = 0.5),
        {
          val a = base.unionByName(syn.select(col("s_value").as("value"),
            col("s_hb").as("hb"), col("s_dowi").as("dowi"), lit(1L).as("y")))
            .localCheckpoint() // stats + 6 GD passes re-read it
          (a, graft.scoring.Trainer.fitLogistic(a, feats, col("y"),
            iters = 6, lr = 0.5))
        })
      // both variants' margins from ONE projection of the shared valid
      // slice; confusion counts from ONE grouped aggregate and both AUCs
      // from ONE grouped rank pipeline (per-variant bit-identical —
      // exact half-integer midranks)
      val variants = Seq(("baseline", base, mb), ("smote", aug, ma))
      val tagged = valid.select(col("y"), explode(array(
          variants.zipWithIndex.map { case ((_, _, mm), i) =>
            struct(lit(i).as("tag"),
              graft.scoring.Trainer.margin(mm).as("margin"))
          }: _*)).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
      val pred = (col("margin") > 0).cast("long")
      val aggs = tagged.groupBy(col("tag"))
        .agg(count(lit(1)).as("n_val"), sum(col("y")).as("__pos"),
          sum(pred).as("__alerts"),
          sum(when(col("y") === 1L && col("margin") > 0, 1L).otherwise(0L))
            .as("__tp"),
          sum((pred === col("y")).cast("long")).as("__ok"))
      val aucs = graft.feedback.Drift.aucByTag(tagged, col("tag"),
        col("y") === 1L, col("margin")).select(col("tag").as("__t2"), col("auc"))
      val nTrs = variants.map { case (_, tr, _) =>
        tr.agg(count(lit(1)).as("n_train")) }
      val nTr = nTrs.head.crossJoin(
        nTrs(1).withColumnRenamed("n_train", "__ntr1"))
      def varLit(f: Int => Column): Column =
        variants.indices.foldLeft(lit(null)) { (acc, i) =>
          when(col("tag") === i, f(i)).otherwise(acc) }
      aggs.join(broadcast(aucs), col("tag") === col("__t2"))
        .crossJoin(broadcast(nTr))
        .select(varLit(i => lit(variants(i)._1)).as("variant") +:
          when(col("tag") === 0, col("n_train")).otherwise(col("__ntr1"))
            .as("n_train") +:
          col("n_val") +: r6(col("auc")).as("auc") +:
          r6(col("__tp").cast("double") / col("__pos")).as("rec") +:
          r6(when(col("__alerts") > 0,
            col("__tp").cast("double") / col("__alerts"))).as("prec") +:
          r6(col("__ok").cast("double") / col("n_val")).as("accuracy") +:
          r6(varLit(i => lit(variants(i)._3.intercept))).as("intercept") +:
          feats.zipWithIndex.map { case (c2, j) =>
            r6(varLit(i => lit(variants(i)._3.weights(j)))).as(s"w_$c2") }: _*)
    },
    // ADASYN (the reference's second prepare_data sampler,
    // models/advanced_models.py:398): density-ADAPTIVE oversampling —
    // each minority parent's synthetic count is proportional to the
    // majority share among its k nearest neighbors in the FULL
    // both-class space (hard-to-learn parents synthesize more). The
    // density k-NN and the synthesis k-NN both run shard-local; the
    // allocation (G·Δ_i) div ΣΔ (capped) is exact integer arithmetic,
    // so the oracle replays it bit-for-bit.
    "q221_adasyn" -> { (s, dir) =>
      import org.apache.spark.sql.graftbridge.ColumnBridge.intDiv
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // counts + 2 kNN passes
      val cnt = f.agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      val (np, nn) = (cnt.getLong(0), cnt.getLong(1))
      val g = nn - np
      val n = np + nn
      val sD = math.max(1L, math.min(1024L, np * n / 1000000L)).toInt
      val sS = math.max(1L, math.min(1024L, np * np / 1000000L)).toInt
      val deltas = graft.scale.Smote.adasynCounts(f, col("event_id"), feats,
        col("y"), k = 5, shards = sD, salt = "adasyn")
        .localCheckpoint() // sum + parent join + output join re-read it
      val sumD = deltas.agg(coalesce(sum(col("delta")), lit(0L)))
        .head().getLong(0)
      def gExpr: Column =
        if (sumD == 0L) lit(0L)
        else least(lit(10L),
          intDiv(lit(g) * coalesce(col("delta"), lit(0L)), lit(sumD)))
      val minor = f.where(col("y") === 1L)
        .join(broadcast(deltas), col("event_id") === col("__did"), "left")
      val syn = graft.scale.Smote.synthesizeBy(minor, col("event_id"), feats,
        gExpr, k = 5, maxReps = 10, shards = sS, salt = "adasyn")
      syn.join(broadcast(deltas), syn("parent_id") === deltas("__did"), "left")
        .select(col("parent_id"), col("nbr_id"), col("rep"),
          r6(col("lam")).as("lam"),
          r6(col("s_value")).as("s_value"), r6(col("s_hb")).as("s_hb"),
          r6(col("s_dowi")).as("s_dowi"),
          coalesce(col("delta"), lit(0L)).as("delta"), gExpr.as("g"),
          lit(np).as("n_pos"), lit(nn).as("n_neg"),
          lit(g).as("g_total"), lit(sumD).as("sum_delta"))
    },
    // Tomek links (the undersampling half of the reference's third
    // prepare_data sampler, SMOTETomek — models/advanced_models.py:400):
    // cross-class MUTUAL 1-NN pairs; removing the majority member
    // cleans the class boundary after oversampling. Mutual pairs are
    // disjoint, so removed = links. Shard-local 1-NN (exact Tomek at
    // one shard; shards sized to ~2M candidate pairs at scale).
    "q222_tomek_links" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // counts + 1-NN pass
      val cnt = f.agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      val (np, nn) = (cnt.getLong(0), cnt.getLong(1))
      val n = np + nn
      val sT = math.max(1L, math.min(4096L, n * n / 2000000L)).toInt
      val links = graft.scale.Smote.tomekLinks(f, col("event_id"), feats,
        col("y"), shards = sT, salt = "tomek")
        .localCheckpoint() // counted + re-read for the report
      val nl = links.agg(count(lit(1)).as("n_links"))
      links.crossJoin(broadcast(nl))
        .select(col("minority_id"), col("majority_id"),
          r6(col("link_d2")).as("link_dist"),
          col("n_links"), lit(nn).as("n_neg_before"),
          (lit(nn) - col("n_links")).as("n_neg_after"))
    },
    // linear SVM by full-batch hinge subgradient (the stacking list's
    // SVC member, models/advanced_models.py:255 — kernel SVMs sit
    // outside the determinism contract like TF training; the linear
    // margin-trained separator fills the slot): 6 steps, each ONE
    // aggregate of the violator-masked subgradient; report = fitted
    // hyperplane + held-out AUC, hinge loss, and 0-margin accuracy.
    "q223_linear_svm" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "svm", 5))
        .localCheckpoint() // stats + 6 GD passes + metric reads
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val m = graft.scoring.Trainer.fitLinearSvm(train, feats, col("y"),
        iters = 6, lr = 0.5, lambda = 0.01)
      val scored = valid.select(col("y"),
        graft.scoring.Trainer.margin(m).as("margin"))
      val auc = graft.feedback.Drift.auc(scored, col("y") === 1L, col("margin"))
      val yy = col("y").cast("double") * 2.0 - 1.0
      val pred = (col("margin") > 0).cast("long")
      scored.agg(count(lit(1)).as("n_val"),
          r6(avg(greatest(lit(0.0), lit(1.0) - yy * col("margin"))))
            .as("hinge_loss"),
          r6(avg((pred === col("y")).cast("double"))).as("accuracy"))
        .crossJoin(auc)
        .select(col("n_val") +: r6(col("auc")).as("auc") +:
          col("hinge_loss") +: col("accuracy") +:
          r6(lit(m.intercept)).as("intercept") +:
          feats.zip(m.weights).map { case (c2, w) =>
            r6(lit(w)).as(s"w_$c2") }: _*)
    },
    // exact average precision (sklearn average_precision_score — the
    // metric evaluate_all_models reports next to ROC-AUC,
    // models/advanced_models.py:495): step-wise PR-curve area from
    // integer tp/n cumsums over distinct scores, overall (segment -1,
    // GlobalOrder — no single-partition window) and per day-of-week
    // segment (partitioned windows), each next to its mid-rank AUC.
    "q224_average_precision" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // 4 metric passes
      val lbl = col("y") === 1L
      val overall = graft.feedback.Drift.averagePrecision(f, lbl, col("value"))
        .crossJoin(graft.feedback.Drift.auc(f, lbl, col("value")))
        .crossJoin(f.agg(count(lit(1)).as("n"), sum(col("y")).as("n_pos")))
        .select(lit(-1L).as("segment"), col("n"), col("n_pos"),
          r6(col("ap")).as("ap"), r6(col("auc")).as("auc"))
      val grouped = graft.feedback.Drift
        .groupedAveragePrecision(f, col("dowi"), lbl, col("value"))
        .join(graft.feedback.Drift.groupedAuc(f, col("dowi"), lbl, col("value"))
          .select(col("g").as("g2"), col("auc")), col("g") === col("g2"))
        .select(col("g").as("segment"), col("n"), col("n_pos"),
          r6(col("ap")).as("ap"), r6(col("auc")).as("auc"))
      overall.unionByName(grouped)
    },
    // edited nearest neighbours (the last imblearn member the reference
    // imports, models/advanced_models.py:43): remove majority rows
    // whose 3-NN contains ANY minority neighbor (kind_sel='all') — the
    // noise/boundary cleaning undersampler. Reuses the shared k-NN
    // opposite-class counter with majority parents.
    "q225_enn" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // counts + kNN pass
      val cnt = f.agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      val (np, nn) = (cnt.getLong(0), cnt.getLong(1))
      val n = np + nn
      val sE = math.max(1L, math.min(8192L, nn * n / 2000000L)).toInt
      val removed = graft.scale.Smote.knnOppositeCounts(f, col("event_id"),
          feats, col("y"), parentIs = 0L, k = 3, shards = sE, salt = "enn")
        .where(col("delta") >= 1L) // kind_sel='all': any disagreement
        .localCheckpoint() // counted + re-read for the report
      val nr = removed.agg(count(lit(1)).as("n_removed"))
      removed.crossJoin(broadcast(nr))
        .select(col("__did").as("event_id"),
          col("delta").as("minority_neighbors"),
          col("n_removed"), lit(nn).as("n_neg_before"),
          (lit(nn) - col("n_removed")).as("n_neg_after"))
    },
    // deterministic RandomUnderSampler (models/advanced_models.py:43):
    // keep every minority row and the np majority rows with the
    // SMALLEST md5 draws — an exact, partitioning-independent sample of
    // size n_pos via the GlobalOrder rank (no single-task sort).
    "q226_random_undersample" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // counts + rank pass
      val cnt = f.agg(sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      val (np, nn) = (cnt.getLong(0), cnt.getLong(1))
      val maj = f.where(col("y") === 0L)
        .select(col("event_id"),
          conv(substring(md5(concat(lit("rus:"),
            col("event_id").cast("string"))), 1, 8), 16, 10)
            .cast("long").as("h"))
      graft.ops.GlobalOrder.withRowNumber(maj,
          Seq(col("h").asc, col("event_id").asc), "rus_rank")
        .where(col("rus_rank") <= np)
        .select(col("event_id"), col("rus_rank"),
          lit(np).as("n_pos"), lit(nn).as("n_neg_before"),
          lit(np).as("n_kept"))
    },
    // pos_weight hyperparameter search over {1, 5, 10} (the reference's
    // imbalance-handling knob swept like its AutoML grid): the fused
    // sweep costs the passes of ONE fit; cells ranked by rounded
    // held-out F1 (pos_weight tie-break) via a window-free triangular
    // join — the same search surface as q183's (lr × iters) grid.
    "q219_posweight_search" -> { (s, dir) =>
      wlrQuery(s, dir, "pws", Seq(1.0, 5.0, 10.0), withBest = true)
    },
    // exact ROC curve point table (sklearn roc_curve with its default
    // drop_intermediate and the artificial +inf leading point —
    // models/advanced_models.py:27, the notebook's threshold plots):
    // per kept distinct score descending, (threshold, fpr, tpr) from
    // the same integer cumsums as q224's AP. fpr/tpr are single
    // divisions of exact integers, so no rounding is needed for the
    // hash gate.
    "q227_roc_curve" -> { (s, dir) =>
      val f = eventFeatures(s, dir)
      graft.feedback.Drift.rocCurve(f, col("y") === 1L, col("value"))
    },
    // exact precision-recall curve point table (sklearn
    // precision_recall_curve — models/advanced_models.py:28): distinct
    // scores descending down to the first full-recall threshold
    // (sklearn's searchsorted cut), plus the terminal
    // (NULL, precision 1, recall 0) point. q224's AP is exactly this
    // curve's step area.
    "q228_pr_curve" -> { (s, dir) =>
      val f = eventFeatures(s, dir)
      graft.feedback.Drift.prCurve(f, col("y") === 1L, col("value"))
    },
    // best-first (leaf-wise) CART, max_leaves = 8 under a depth-5 cap —
    // the LightGBM growth strategy (models/advanced_models.py:35): each
    // expansion splits the single leaf with the highest root-weighted
    // impurity decrease, so depth concentrates where the impurity is
    // (unlike q202's level-wise PLANET growth). Report: the expansion
    // ORDER itself plus each split's counts/gain and the terminal
    // accuracy; the oracle materializes the full depth-capped greedy
    // lattice (node candidates depend only on the node's path) and
    // replays the selection as a bitmask cascade.
    "q229_leafwise_tree" -> { (s, dir) =>
      val f = eventFeatures(s, dir).localCheckpoint() // 1-2 passes per expansion
      val m = graft.scoring.Trees.fitBestFirst(f, gbFeatures, col("y"),
        maxLeaves = 8, maxDepth = 5)
      val nLeaves = m.tree.leaves.size.toLong
      m.order.zipWithIndex.map { case (p, i) =>
        val sp = m.tree.splits(p)
        s.range(0, 1, 1, 1).select(
          lit(i.toLong).as("ord"),
          lit(if (p.isEmpty) "root" else p).as("node"),
          lit(p.length.toLong).as("depth"),
          lit(sp.feature).as("feature"), r6(lit(sp.threshold)).as("threshold"),
          lit(sp.gini).as("gini"), lit(sp.nLeft).as("n_left"),
          lit(sp.posLeft).as("pos_left"), lit(sp.nRight).as("n_right"),
          lit(sp.posRight).as("pos_right"), lit(m.gains(p)).as("gain"),
          lit(nLeaves).as("n_leaves"),
          lit(m.tree.trainAccuracy).as("tree_acc"))
      }.reduce(_.unionByName(_))
    },
    // model persistence round trip (the reference's joblib save/load
    // lifecycle, models/advanced_models.py:9 — every train_* saves its
    // estimator and the retrainer reloads it): fit one model per
    // scoring/ModelStore family, export to the narrow versioned model
    // table, WRITE parquet, READ it back, rebuild each model via the
    // *Of readers, then score every (fitted, rebuilt) pair on the same
    // frame in ONE aggregate — n_agree counts exact score equality
    // (doubles are IEEE-exact through DataFrame literals and parquet,
    // so any serializer/reader defect shows as n_agree < n_scored and
    // breaks the hash gate). Output = the re-export of the REBUILT
    // models (read → rebuild → export must be a fixpoint of export);
    // the oracle replays every family's training chain and the table
    // layout. Boosted-tree threshold packs (hex double bits) decode
    // into t1..t3 for the compare; tree rows carry their split feature
    // in k2 as-is.
    "q230_model_store" -> { (s, dir) =>
      import s.implicits._
      import graft.scoring._
      val feats = gbFeatures
      val f = eventFeatures(s, dir).localCheckpoint() // parity pass input
      // the six fit chains are independent functions of the shared
      // checkpoint — run them concurrently (guide §2.6); each chain's
      // job sequence and fitted literals are unchanged. The linear trio
      // trains in ONE shared scan per GD step (fitLinearFamily is
      // bit-equal to the solo fits — TrainerSpec).
      val fits = parAll(Seq(
        () => Trainer.fitLinearFamily(f, feats, col("y"),
          Seq(Trainer.LinearMember.Logistic,
            Trainer.LinearMember.Weighted(5.0),
            Trainer.LinearMember.Svm(0.01)), iters = 6, lr = 0.5),
        () => AdaBoost.fit(f, feats, col("y"), rounds = 3),
        () => Boosting.fit(f, feats, col("y"), rounds = 3, rate = 0.5),
        () => Boosting.fitTrees(f, feats, col("y"), rounds = 2, rate = 0.5),
        () => Trees.fitDepth(f, feats, col("y"), maxDepth = 2),
        () => Trees.fitBestFirst(f, feats, col("y"), maxLeaves = 3,
          maxDepth = 2)))
      val Seq(lrM, wlrM, svmM) = fits(0).asInstanceOf[Seq[Trainer.LogisticModel]]
      val abM = fits(1).asInstanceOf[Seq[AdaBoost.Round]]
      val bstM = fits(2).asInstanceOf[Boosting.Model]
      val btrM = fits(3).asInstanceOf[Boosting.TreeModel]
      val dtM = fits(4).asInstanceOf[Trees.DeepTree]
      val bftM = fits(5).asInstanceOf[Trees.BestFirstTree]
      val exported =
        ModelStore.logisticRows("lr", 1, lrM) ++
          ModelStore.logisticRows("wlr", 1, wlrM) ++
          ModelStore.logisticRows("svm", 1, svmM) ++
          ModelStore.adaBoostRows("ab", 1, abM) ++
          ModelStore.boostingRows("bst", 1, bstM) ++
          ModelStore.boostedTreesRows("btr", 1, btrM) ++
          ModelStore.deepTreeRows("dt", 1, dtM) ++
          ModelStore.deepTreeRows("bft", 1, bftM.tree)
      val path = scratchDir("graft_q230_models")
      ModelStore.table(s, exported).write.mode("overwrite").parquet(path)
      val back = s.read.parquet(path)
      def slice(id: String) = ModelStore.rowsOf(back, id, 1)
      val lrR = ModelStore.logisticOf(slice("lr"))
      val wlrR = ModelStore.logisticOf(slice("wlr"))
      val svmR = ModelStore.logisticOf(slice("svm"))
      val abR = ModelStore.adaBoostOf(slice("ab"))
      val bstR = ModelStore.boostingOf(slice("bst"))
      val btrR = ModelStore.boostedTreesOf(slice("btr"))
      val dtR = ModelStore.deepTreeOf(slice("dt"))
      val bftR = ModelStore.deepTreeOf(slice("bft"))
      // score both paths through ALIASED columns (a direct expr <=> expr
      // on structurally identical trees trips Spark's trivially-true-
      // predicate warning — here identical trees are the success case)
      val pairs = Seq[(String, Column, Column)](
        ("lr", Trainer.margin(lrM), Trainer.margin(lrR)),
        ("wlr", Trainer.margin(wlrM), Trainer.margin(wlrR)),
        ("svm", Trainer.margin(svmM), Trainer.margin(svmR)),
        ("ab", AdaBoost.classify(abM).cast("double"),
          AdaBoost.classify(abR).cast("double")),
        ("bst", Boosting.score(bstM), Boosting.score(bstR)),
        ("btr", Boosting.scoreTrees(btrM), Boosting.scoreTrees(btrR)),
        ("dt", Trees.predict(dtM).cast("double"),
          Trees.predict(dtR).cast("double")),
        ("bft", Trees.predict(bftM.tree).cast("double"),
          Trees.predict(bftR).cast("double")))
      val scored = f.select(pairs.flatMap { case (n, a, b) =>
        Seq(a.as(s"__a_$n"), b.as(s"__b_$n")) }: _*)
      val ag = scored.agg(count(lit(1)).as("n"),
        pairs.map { case (n, _, _) =>
          sum((col(s"__a_$n") <=> col(s"__b_$n")).cast("long")).as(n) }: _*)
        .head()
      val nScored = ag.getLong(0)
      val agree = Map("lr" -> ag.getLong(1), "wlr" -> ag.getLong(2),
        "svm" -> ag.getLong(3), "ab" -> ag.getLong(4), "bst" -> ag.getLong(5),
        "btr" -> ag.getLong(6), "dt" -> ag.getLong(7), "bft" -> ag.getLong(8))
      // re-export the rebuilt models: the output rows prove the full
      // export → disk → import → export cycle, not just the disk read
      val reexported =
        ModelStore.logisticRows("lr", 1, lrR) ++
          ModelStore.logisticRows("wlr", 1, wlrR) ++
          ModelStore.logisticRows("svm", 1, svmR) ++
          ModelStore.adaBoostRows("ab", 1, abR) ++
          ModelStore.boostingRows("bst", 1, bstR) ++
          ModelStore.boostedTreesRows("btr", 1, btrR) ++
          ModelStore.deepTreeRows("dt", 1, dtR) ++
          ModelStore.deepTreeRows("bft", 1, bftR)
      val btrThr: Map[Long, (Double, Double, Double)] =
        btrR.rounds.zipWithIndex.map { case (t, i) =>
          i.toLong -> ((t.rootThreshold, t.leftThreshold, t.rightThreshold))
        }.toMap
      def r6o(v: Option[Double]) = v.map(KMeansOps.r6d)
      val out = reexported.map { r =>
        val isBtr = r.kind == "boost_trees" && r.part == "round"
        val ts = if (isBtr) Some(btrThr(r.idx)) else None
        (r.model_id, r.version, r.kind, r.part, r.idx, r.k,
          if (isBtr) None else r.k2,
          r6o(r.v1), r6o(r.v2), r6o(r.v3), r6o(r.v4),
          r.c1, r.c2, r.c3, r.c4,
          ts.map(t => KMeansOps.r6d(t._1)), ts.map(t => KMeansOps.r6d(t._2)),
          ts.map(t => KMeansOps.r6d(t._3)),
          nScored, agree(r.model_id))
      }
      out.toDF("model_id", "version", "kind", "part", "idx", "k", "k2",
        "v1", "v2", "v3", "v4", "c1", "c2", "c3", "c4", "t1", "t2", "t3",
        "n_scored", "n_agree")
    },
    // reliability diagram + Brier score + ECE of the served posterior —
    // sklearn calibration_curve(strategy='uniform', n_bins=20) over the
    // q167 naive-Bayes model's held-out posterior sigmoid(delta):
    // bin id = searchsorted-left on the internal edges (count of edges
    // strictly below p), computed on the 4dp-ROUNDED probability so the
    // bin is engine-exact (exp() may differ at ulp scale); per-bin
    // mean predicted probability vs empirical positive fraction, plus
    // the global Brier score avg((p-y)^2) and the bin-count-weighted
    // expected calibration error — the probability-quality twin of the
    // ranking metrics (q227 ROC / q228 PR / q224 AP). The NB posterior
    // is the calibration target because its bucketized likelihoods give
    // the score real spread (a weakly-fit linear margin concentrates in
    // one bin). Oracle replays the NB likelihood tables (the q167
    // machinery) and the same edge counting.
    // sklearn classification_report twin (`feedback/feedback_system.py:348`
    // runs it on every retrained model's held-out predictions;
    // `models/advanced_models.py:27` imports it): per-class precision /
    // recall / F1 / support of the q167 naive-Bayes held-out 0.5-point
    // predictions, plus the macro (unweighted) and support-weighted
    // average rows and the global accuracy column — the full
    // output_dict=True surface as a 4-row table. ONE confusion aggregate
    // (4 integer cells) feeds every row; sklearn's zero_division=0
    // convention on empty denominators. Scale shape: the scored side is
    // the broadcast-model NB projection (never shuffles), the report is
    // driver arithmetic on a 1-row localCheckpoint.
    "q234_classification_report" -> { (s, dir) =>
      val fs = Seq("hb", "dowi", "vb")
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val test = f.where(col("event_id") % 5 === 0)
      val scored = Models.naiveBayesDelta(train, test, fs, col("y"))
        .select(col("y"), (r6(col("delta")) > 0).cast("long").as("pred"))
      val cm = scored.agg(
        sum(when(col("y") === 1L && col("pred") === 1L, 1L).otherwise(0L)).as("tp"),
        sum(when(col("y") === 0L && col("pred") === 1L, 1L).otherwise(0L)).as("fp"),
        sum(when(col("y") === 1L && col("pred") === 0L, 1L).otherwise(0L)).as("fn"),
        sum(when(col("y") === 0L && col("pred") === 0L, 1L).otherwise(0L)).as("tn"))
        .localCheckpoint() // the four report rows re-read the 1-row confusion
      def f1Of(p: Column, r: Column): Column =
        when(p + r > 0, lit(2.0) * p * r / (p + r)).otherwise(lit(0.0))
      def safe(num: Column, den: Column): Column =
        when(den > 0, num.cast("double") / den).otherwise(lit(0.0))
      val p0 = safe(col("tn"), col("tn") + col("fn"))
      val r0 = safe(col("tn"), col("tn") + col("fp"))
      val p1 = safe(col("tp"), col("tp") + col("fp"))
      val r1 = safe(col("tp"), col("tp") + col("fn"))
      val s0 = col("tn") + col("fp")
      val s1 = col("tp") + col("fn")
      val n = s0 + s1
      val acc = (col("tp") + col("tn")).cast("double") / n
      def row(cls: String, p: Column, r: Column, f1: Column, sup: Column) =
        cm.select(lit(cls).as("cls"), r6(p).as("prec"), r6(r).as("rec"),
          r6(f1).as("f1"), sup.cast("long").as("support"), r6(acc).as("accuracy"))
      row("0", p0, r0, f1Of(p0, r0), s0)
        .unionByName(row("1", p1, r1, f1Of(p1, r1), s1))
        .unionByName(row("macro avg", (p0 + p1) / 2, (r0 + r1) / 2,
          (f1Of(p0, r0) + f1Of(p1, r1)) / 2, n))
        .unionByName(row("weighted avg",
          (p0 * s0 + p1 * s1) / n, (r0 * s0 + r1 * s1) / n,
          (f1Of(p0, r0) * s0 + f1Of(p1, r1) * s1) / n, n))
    },
    // sklearn partial_dependence twin (inspection surface next to the
    // reference's SHAP/LIME explainers, `explainability/
    // shap_explainer.py`): PDP of the q185 exact depth-2 CART's leaf
    // positive-rate, method='brute' semantics — pd(g=v) = mean over the
    // WHOLE population of the tree evaluated with feature g forced to v.
    // Grid = the full small domains for hb (0-23) and dowi (0-6) plus
    // the 4dp-rounded exact deciles of `value` (`percentile` ==
    // quantile_cont, the q42 contract). Scale shape: the tree is
    // literals, so ALL 40 grid cells are conditional averages in ONE
    // population pass — no grid×population row blowup.
    "q239_partial_dependence" -> { (s, dir) =>
      import s.implicits._
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir).localCheckpoint() // fit + decile + PDP passes
      val m = graft.scoring.Trees.fitDepth2(f, feats, col("y"))
      val dec = f.agg(expr(
        "percentile(value, array(0.1D,0.2D,0.3D,0.4D,0.5D,0.6D,0.7D,0.8D,0.9D))")
        .as("p")).head().getSeq[Double](0)
      // distinct: adjacent deciles of a skewed `value` can tie after
      // rounding; the oracle's GROUP BY (feature, v) collapses them, so
      // the engine grid must too
      val grid: Seq[(String, Double)] =
        (dec.map(v => "value" -> KMeansOps.r6d(v)) ++
          (0 to 23).map(h => "hb" -> h.toDouble) ++
          (0 to 6).map(d0 => "dowi" -> d0.toDouble)).distinct
      def forced(g: String, v: Double, feat: String): Column =
        if (feat == g) lit(v) else col(feat).cast("double")
      def rate(pos: Long, n: Long): Double = pos.toDouble / n
      def leafProba(g: String, v: Double): Column =
        when(forced(g, v, m.root.feature) <= m.root.threshold,
          when(forced(g, v, m.left.feature) <= m.left.threshold,
            lit(rate(m.left.posLeft, m.left.nLeft)))
            .otherwise(lit(rate(m.left.posRight, m.left.nRight))))
          .otherwise(
            when(forced(g, v, m.right.feature) <= m.right.threshold,
              lit(rate(m.right.posLeft, m.right.nLeft)))
              .otherwise(lit(rate(m.right.posRight, m.right.nRight))))
      val aggs = grid.zipWithIndex.map { case ((g, v), i) =>
        avg(leafProba(g, v)).as(s"pd_$i") }
      val row = f.agg(aggs.head, aggs.tail: _*).head()
      grid.zipWithIndex.map { case ((g, v), i) =>
        (g, v, KMeansOps.r6d(row.getDouble(i)))
      }.toDF("feature", "grid_value", "pd")
    },
    // sklearn permutation_importance twin (model-agnostic importances
    // next to the reference's tree importances, `advanced_models.py`'s
    // feature_importance surface): the held-out 20% is deterministically
    // "shuffled" by a CYCLIC SHIFT in salted-md5 order — row at rank r
    // takes feature values from rank r%n+1, a fixed-point-free
    // permutation with zero RNG state, so both engines replay it — and
    // each feature's importance is the held-out AUC drop when ONLY that
    // feature is permuted. Scale shape: one GlobalOrder rank + ONE
    // rank-shift equi-join produces every feature's donor values
    // simultaneously; each variant is then a curve-sized AUC read of the
    // same localCheckpointed frame.
    "q238_permutation_importance" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val m = graft.scoring.Trainer.fitLogistic(train, feats, col("y"),
        iters = 6, lr = 0.5)
      val held = f.where(col("event_id") % 5 === 0)
        .select(col("event_id") +: col("y") +: feats.map(col): _*)
      val h = conv(substring(md5(concat(lit("perm:"),
        col("event_id").cast("string"))), 1, 8), 16, 10).cast("long")
      val ranked = graft.ops.GlobalOrder.withCumSums(
        held.withColumn("__h", h),
        Seq(col("__h").asc, col("event_id").asc), Seq((lit(1L), "__rk")))
      val donor = ranked.select(col("__rk").as("__dk"),
        col("value").as("pv"), col("hb").as("ph"), col("dowi").as("pd"))
      val n = held.count()
      val pm = ranked.withColumn("__dk", col("__rk") % n + 1L)
        .join(donor, "__dk")
        .localCheckpoint() // base + 3 permuted AUC variants re-read it
      val nTest = pm.agg(count(lit(1)).as("n_test"))
      // base + 3 permuted margins from ONE projection of pm (the
      // permuted variant reads the donor column under the feature's
      // name via marginOver — bit-identical to physically swapping the
      // column) + ONE grouped rank pipeline instead of four
      val donors = Map("value" -> "pv", "hb" -> "ph", "dowi" -> "pd")
      val perms = Seq("value", "hb", "dowi")
      def permMargin(p: String): Column = graft.scoring.Trainer.marginOver(m,
        f => if (f == p) col(donors(p)) else col(f))
      val tagged = pm.select(col("y"), explode(array(
          struct(lit(0).as("tag"), graft.scoring.Trainer.margin(m).as("margin")) +:
            perms.zipWithIndex.map { case (p, i) =>
              struct(lit(i + 1).as("tag"), permMargin(p).as("margin")) }: _*)).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
      val aucs = graft.feedback.Drift.aucByTag(tagged, col("tag"),
        col("y") === 1L, col("margin")).localCheckpoint() // 4 rows, read twice
      val baseAuc = aucs.where(col("tag") === 0)
        .select(r6(col("auc")).as("auc_base")).crossJoin(nTest)
      val nameOf = perms.zipWithIndex.foldLeft(lit(null).cast("string")) {
        case (acc, (p, i)) => when(col("tag") === i + 1, lit(p)).otherwise(acc) }
      aucs.where(col("tag") > 0)
        .select(nameOf.as("feature"), r6(col("auc")).as("auc_perm"))
        .crossJoin(broadcast(baseAuc))
        .select(col("feature"), col("n_test"), col("auc_base"),
          col("auc_perm"),
          r6(col("auc_base") - col("auc_perm")).as("importance"))
    },
    // sklearn learning_curve twin (the diagnostic the reference's
    // notebook runs next to its CV scores — model-zoo training with
    // scan-efficient size sweeps): nested train subsets at 25/50/75/100%
    // of the pool (md5 bucket < t, so each size CONTAINS the previous —
    // sklearn's shuffled-prefix semantics, RNG-free), stratified fold 0
    // held out for validation; ALL four sizes train simultaneously via
    // the masked fused kernel (one aggregate per GD step carries every
    // size's gradient), then each size reports train-side and
    // validation-side AUC — the under/overfitting gap per data budget.
    // At 100 TB the whole curve costs the scans of ONE fit.
    "q237_learning_curve" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = graft.scale.Splits.stratifiedKfold(
          eventFeatures(s, dir), col("event_id"), col("y"), k = 5, salt = "lc")
        .withColumn("fb", graft.scale.Splits.bucket(col("event_id"), "lcf", 100))
        .localCheckpoint()
      val sizes = Seq(25, 50, 75, 100)
      val masks = sizes.map(t => col("fold") =!= 0 && col("fb") < t)
      val models = graft.scoring.Trainer.fitLogisticMasked(
        f, feats, col("y"), masks, iters = 6, lr = 0.5)
      // all 8 (size × train/val) scored slices from ONE projection (tag
      // 2i = size i's train slice under its mask, tag 2i+1 = the shared
      // hold-out under size i's model) + ONE grouped rank pipeline —
      // the per-size loop paid two full AUC pipelines per size;
      // per-tag values are bit-identical (exact half-integer midranks)
      val tagged = f.select(col("y"), explode(array(
          sizes.indices.flatMap { i =>
            val m = models(i)
            Seq(struct(lit(2 * i).as("tag"),
                graft.scoring.Trainer.margin(m).as("margin"),
                masks(i).as("inc")),
              struct(lit(2 * i + 1).as("tag"),
                graft.scoring.Trainer.margin(m).as("margin"),
                (col("fold") === 0).as("inc")))
          }: _*)).as("__e"))
        .where(col("__e.inc"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
      val aucs = graft.feedback.Drift.aucByTag(tagged, col("tag"),
        col("y") === 1L, col("margin")).localCheckpoint() // 8 rows, read twice
      val aucT = aucs.where(col("tag") % 2 === 0)
        .select((col("tag") / 2).cast("int").as("i"), r6(col("auc")).as("auc_train"))
      val aucV = aucs.where(col("tag") % 2 === 1)
        .select(((col("tag") - 1) / 2).cast("int").as("i"), r6(col("auc")).as("auc_val"))
      val counts = tagged.where(col("tag") % 2 === 0).groupBy(col("tag"))
        .agg(count(lit(1)).as("n_train"), sum(col("y")).as("n_pos_train"))
        .select((col("tag") / 2).cast("int").as("i"), col("n_train"), col("n_pos_train"))
      val fracOf = sizes.zipWithIndex.foldLeft(lit(null).cast("double")) {
        case (acc, (t, i)) => when(col("i") === i, lit(t / 100.0)).otherwise(acc) }
      counts.join(broadcast(aucT), "i").join(broadcast(aucV), "i")
        .select(fracOf.as("train_frac"), col("n_train"),
          col("n_pos_train"), col("auc_train"), col("auc_val"))
    },
    // cross_val_score(cv=5, scoring='roc_auc') twin — the exact call the
    // reference makes at `feedback/feedback_system.py:343-344` and inside
    // every optuna trial (`models/advanced_models.py:342-345`). sklearn's
    // cv=5 on a CLASSIFIER means StratifiedKFold, so the folds come from
    // `Splits.stratifiedKfold` (q231's machinery), the five
    // leave-one-fold-out logistic fits from the FUSED CV trainer (one
    // aggregate per GD step carries all five folds' gradients), and the
    // report is one row per fold (held-out n/positives/AUC) plus the
    // cv_scores.mean()/std() columns (np.std ddof=0) over the rounded
    // per-fold AUCs. Scale shape: the feature frame localCheckpoints
    // once; fit cost = 6 scans regardless of fold count.
    "q236_cv_auc_score" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val f = graft.scale.Splits.stratifiedKfold(
          eventFeatures(s, dir), col("event_id"), col("y"), k = 5, salt = "cvs")
        .localCheckpoint()
      val models = graft.scoring.Trainer.fitLogisticCV(
        f, feats, col("y"), col("fold"), folds = 5, iters = 6, lr = 0.5)
      // each row scores with ITS OWN fold's leave-out model, so all five
      // held-out slices ride ONE projection + ONE grouped rank pipeline
      // (bit-identical per fold — exact half-integer midrank sums)
      // instead of a full AUC pipeline per fold
      val marginCase = models.zipWithIndex.foldLeft(lit(null).cast("double")) {
        case (acc, (m, k)) =>
          when(col("fold") === k, graft.scoring.Trainer.margin(m)).otherwise(acc) }
      val scored = f.select(col("fold"), col("y"), marginCase.as("margin"))
      val counts = scored.groupBy(col("fold"))
        .agg(count(lit(1)).as("n_test"), sum(col("y")).as("n_pos"))
      val aucs = graft.feedback.Drift.aucByTag(scored, col("fold"),
        col("y") === 1L, col("margin"))
      val folds = counts.join(broadcast(aucs), col("fold") === col("tag"))
        .select(col("fold").cast("int").as("fold"), col("n_test"),
          col("n_pos"), r6(col("auc")).as("auc"))
        .localCheckpoint() // 5 rows; summary re-reads
      val summary = folds.agg(r6(avg(col("auc"))).as("cv_mean"),
        r6(stddev_pop(col("auc"))).as("cv_std"))
      folds.crossJoin(broadcast(summary))
    },
    // Platt scaling (sigmoid calibration) of the naive-Bayes posterior —
    // the `CalibratedClassifierCV(method='sigmoid')` twin of q233's
    // diagnostic curve (sklearn's calibration module sits next to the
    // reference's metric imports, `models/advanced_models.py:26-28`):
    // the held-out 20% splits into a calibration half (event_id%10=0)
    // and an evaluation half (%10=5); a 1-d logistic GD fit maps the
    // 4dp-ROUNDED NB delta to a calibrated probability (rounding the
    // score first makes the GD input engine-exact — ln() may differ at
    // ulp scale); report = calibrator slope/intercept + the evaluation
    // half's Brier score before vs after calibration. Scale shape: the
    // NB projection localCheckpoints once (model fit + both Brier reads);
    // the calibration fit is the q165 one-aggregate-per-step reduction on
    // a single feature.
    "q235_platt_scaling" -> { (s, dir) =>
      val fs = Seq("hb", "dowi", "vb")
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val held = f.where(col("event_id") % 5 === 0)
      val scored = Models.naiveBayesDelta(train, held, fs, col("y"))
        .select(col("event_id"), col("y").cast("double").as("y"),
          r6(col("delta")).as("d4"))
        .localCheckpoint()
      val cal = scored.where(col("event_id") % 10 === 0)
      val ev = scored.where(col("event_id") % 10 === 5)
      val m = graft.scoring.Trainer.fitLogistic(cal, Seq("d4"), col("y"),
        iters = 8, lr = 0.5)
      val pRaw = r6(lit(1.0) / (lit(1.0) + exp(-col("d4"))))
      val pCal = r6(graft.scoring.Trainer.probability(m))
      val evAgg = ev.agg(count(lit(1)).as("n_eval"),
        r6(avg((pRaw - col("y")) * (pRaw - col("y")))).as("brier_raw"),
        r6(avg((pCal - col("y")) * (pCal - col("y")))).as("brier_cal"))
      cal.agg(count(lit(1)).as("n_cal")).crossJoin(evAgg)
        .select(col("n_cal"), col("n_eval"),
          r6(lit(m.weights.head)).as("a"), r6(lit(m.intercept)).as("b"),
          col("brier_raw"), col("brier_cal"))
    },
    // the SERVED calibrated-probability column, gated end-to-end (the
    // reference's /predict risk_score, api/main.py:106-145): NB fit via
    // the COLLECTED literal-chain model (Models.fitNaiveBayes — the same
    // scorer the streaming path serves, bit-identical to the join form),
    // Platt calibrator on the q235 cal slice, then every evaluation-
    // slice event's raw + calibrated posterior. Scale shape: model-sized
    // collects only (≤ dozens of likelihood rows/feature), then pure
    // literal projections over the held slice.
    "q241_platt_served" -> { (s, dir) =>
      val fs = Seq("hb", "dowi", "vb")
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val nb = graft.scoring.Models.fitNaiveBayes(train, fs, col("y"))
      val scored = f.where(col("event_id") % 5 === 0)
        .select(col("event_id"), col("y"), r6(nb.delta).as("d4"))
        .localCheckpoint() // calibrator GD passes + the eval projection
      val cal = scored.where(col("event_id") % 10 === 0)
      val m = graft.scoring.Trainer.fitLogistic(cal, Seq("d4"), col("y"),
        iters = 8, lr = 0.5)
      scored.where(col("event_id") % 10 === 5)
        .select(col("event_id"), col("y"), col("d4"),
          r6(lit(1.0) / (lit(1.0) + exp(-col("d4")))).as("p_raw"),
          r6(graft.scoring.Trainer.probability(m)).as("risk_score"))
    },
    // (rounds × learning-rate) grid over the boosted depth-2 trees —
    // the reference's GridSearchCV/optuna sweep of XGBoost's
    // n_estimators/learning_rate (models/advanced_models.py:309-361).
    // The rounds axis is free (staged prefixes of each chain); the rate
    // axis trains through Boosting.fitTreesGrid, whose melted candidate
    // passes are SHARED across every rate cell — 2 fact scans per round
    // for the whole grid. Cells score on the stratified fold-0 hold-out;
    // rank = 1 + strictly-better count via a window-free 6×6 self-join.
    "q244_gbt_grid" -> { (s, dir) =>
      val feats = Seq("value", "hb", "dowi")
      val rates = Seq(0.3, 0.5, 1.0)
      val T = 2
      val f = graft.scale.Splits.stratifiedKfold(eventFeatures(s, dir),
          col("event_id"), col("y"), k = 5, salt = "gbtg")
        .withColumnRenamed("fold", "vb5")
        .localCheckpoint() // grid fit scans + per-cell staged scoring
      val train = f.where(col("vb5") =!= 0)
      val valid = f.where(col("vb5") === 0)
      val models = graft.scoring.Boosting.fitTreesGrid(train, feats,
        col("y"), rounds = T, rates = rates)
      val nv = valid.agg(count(lit(1)).as("n_val"))
      // all 6 staged scores from ONE projection of the valid slice, then
      // ONE grouped rank pipeline (Drift.aucByTag) instead of a full AUC
      // pipeline per grid cell — same rounded values per cell
      val grid = for (m <- models; t <- 1 to T) yield (m, t)
      val taggedScores = valid.select(col("y"), explode(array(
          grid.zipWithIndex.map { case ((m, t), i) =>
            struct(lit(i).as("tag"), graft.scoring.Boosting
              .scoreTrees(m.copy(rounds = m.rounds.take(t))).as("sv"))
          }: _*)).as("__e"))
        .select(col("__e.tag").as("tag"), col("y"), col("__e.sv").as("sv"))
      val rateOf = grid.zipWithIndex.foldLeft(lit(null).cast("double")) {
        case (acc, ((m, _), i)) => when(col("tag") === i, lit(m.rate)).otherwise(acc) }
      val roundsOf = grid.zipWithIndex.foldLeft(lit(null).cast("long")) {
        case (acc, ((_, t), i)) => when(col("tag") === i, lit(t.toLong)).otherwise(acc) }
      val cells = graft.feedback.Drift.aucByTag(taggedScores, col("tag"),
          col("y") === 1L, col("sv"))
        .crossJoin(broadcast(nv))
        .select(r6(rateOf).as("rate"), roundsOf.as("rounds"),
          col("n_val"), r6(col("auc")).as("val_auc"))
        .localCheckpoint() // 6-row leaderboard
      val o = cells.select(col("rate").as("r2"), col("rounds").as("t2"),
        col("val_auc").as("a2"))
      cells.join(o, col("a2") > col("val_auc") ||
          (col("a2") === col("val_auc") && (col("r2") < col("rate") ||
            (col("r2") === col("rate") && col("t2") < col("rounds")))), "left")
        .groupBy(col("rate"), col("rounds"), col("n_val"), col("val_auc"))
        .agg((count(col("r2")) + 1).as("rank"))
    },
    // the q230 joblib-lifecycle gate for the SERVED pair: fit the q241
    // NB + Platt chain, export through ModelStore.nbPlattRows, write/
    // read parquet, rebuild via ServedModel, and prove the rebuilt
    // serving column agrees with the fitted chain on EVERY eval row
    // (n_agree = n_scored — the oracle emits equality, so any disk or
    // rebuild drift hash-fails). Output = the re-exported rows (4 dp).
    "q250_nb_platt_store" -> { (s, dir) =>
      import graft.scoring.{ModelStore, Models, Trainer}
      import graft.streaming.ServedModel
      val fs = Seq("hb", "dowi", "vb")
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val nb = Models.fitNaiveBayes(train, fs, col("y"))
      val scored = f.where(col("event_id") % 5 === 0)
        .select(col("event_id"), col("y"), r6(nb.delta).as("d4"))
        .localCheckpoint() // calibrator GD passes
      val m = Trainer.fitLogistic(scored.where(col("event_id") % 10 === 0),
        Seq("d4"), col("y"), iters = 8, lr = 0.5)
      val storeDir = scratchDir("graft_q250_models")
      ModelStore.table(s, ModelStore.withManifest(
          ModelStore.nbPlattRows("nbp", 1L, nb, m)))
        .write.mode("overwrite").parquet(storeDir)
      val rows2 = ModelStore.rowsOf(s.read.parquet(storeDir), "nbp", 1L)
      val built = ServedModel.of(rows2)
      // the fitted pair's serving chain, in ServedModel's operation order
      val fittedP = r6(lit(1.0) / (lit(1.0) + exp(-(lit(m.intercept) +
        ((r6(nb.delta) - lit(m.means.head)) / lit(m.stds.head)) *
          lit(m.weights.head)))))
      val parity = f.where(col("event_id") % 10 === 5)
        .agg(count(lit(1)).as("n_scored"),
          sum(when(built.score === fittedP, 1L).otherwise(0L)).as("n_agree"))
      val (nb2, cal2) = ModelStore.nbPlattOf(ModelStore.body(rows2))
      import s.implicits._
      ModelStore.nbPlattRows("nbp", 1L, nb2, cal2).toDF()
        .select(col("model_id"), col("kind"), col("part"), col("idx"),
          col("k"), r6(col("v1")).as("v1"), r6(col("v2")).as("v2"),
          r6(col("v3")).as("v3"), col("c1"), col("c2"))
        .crossJoin(broadcast(parity))
    },
    // the joblib-lifecycle gate for the FOREST family — the reference
    // retrainer reloads its RandomForest members like every other dump
    // (models/advanced_models.py:228-231,252; feedback_system.py:
    // 308-388): fit a 3-member depth-2 deterministic forest (the q198/
    // q204 md5-subsample + rotated-feature-subset recipe), promote it
    // through ModelStore.publish (the canonical write path — the
    // torn-read manifest row is emitted BY DEFAULT), read back, rebuild
    // via ServedModel ("forest" kind), and prove the rebuilt majority-
    // vote column agrees with the fitted Forest.votesDeep chain on
    // EVERY held-out row (the oracle emits equality, so disk or rebuild
    // drift hash-fails). Output = the re-exported member/split layout +
    // parity counts + the manifest-row count of the published slice.
    "q251_forest_store" -> { (s, dir) =>
      import graft.scoring.{Forest, ModelStore}
      import graft.streaming.ServedModel
      val allF = Seq("value", "hb", "dowi")
      val f = eventFeatures(s, dir)
        .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), "rf", 5))
        .localCheckpoint() // one fused pass per level + parity pass
      val train = f.where(col("vb5") =!= 0)
      def member(t: Int) =
        graft.scale.Splits.bucket(col("event_id"), s"rf$t", 3) =!= 0
      def featsOf(t: Int) = allF.patch(t % allF.size, Nil, 1)
      val forest = Forest.fitDeep(train, allF, col("y"),
        trees = 3, maxDepth = 2, member, featsOf)
      val storeDir = scratchDir("graft_q251_models")
      ModelStore.publish(s, storeDir, ModelStore.forestRows("rf", 1L, forest))
      val rows2 = ModelStore.rowsOf(s.read.parquet(storeDir), "rf", 1L)
      val built = ServedModel.of(rows2)
      val parity = f.where(col("vb5") === 0)
        .agg(count(lit(1)).as("n_scored"),
          sum(when(Forest.votesDeep(forest).cast("double") === built.score,
            1L).otherwise(0L)).as("n_agree"))
        .withColumn("n_manifest",
          lit(rows2.count(_.kind == "manifest").toLong))
      import s.implicits._
      ModelStore.forestRows("rf", 1L,
          ModelStore.forestOf(ModelStore.body(rows2))).toDF()
        .select(col("model_id"), col("kind"), col("part"), col("idx"),
          col("k"), col("k2"), r6(col("v1")).as("v1"), col("v2"),
          col("c1"), col("c2"), col("c3"), col("c4"))
        .crossJoin(broadcast(parity))
    },
    "q233_calibration" -> { (s, dir) =>
      val fs = Seq("hb", "dowi", "vb")
      val f = eventFeatures(s, dir)
      val train = f.where(col("event_id") % 5 =!= 0)
      val test = f.where(col("event_id") % 5 === 0)
      val scored = graft.scoring.Models
        .naiveBayesDelta(train, test, fs, col("y"))
        .select(col("y").cast("double").as("y"),
          r6(lit(1.0) / (lit(1.0) + exp(-col("delta")))).as("p"))
      val bin = (1 to 19).map(j =>
        when(col("p") > lit(j / 20.0), 1L).otherwise(0L)).reduce(_ + _)
      val brier = scored.agg(
        r6(avg((col("p") - col("y")) * (col("p") - col("y")))).as("brier"))
      val bins = scored.withColumn("bin", bin)
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), r6(avg(col("p"))).as("mean_pred"),
          r6(avg(col("y"))).as("frac_pos"))
        .localCheckpoint() // read twice: the rows + the ECE fold
      // expected calibration error over the ROUNDED bin values — a
      // bin-count-weighted fold of an at-most-5-row table
      val ece = bins.agg(r6(
        sum(col("n") * abs(col("frac_pos") - col("mean_pred"))) /
          sum(col("n"))).as("ece"))
      bins.crossJoin(broadcast(brier)).crossJoin(broadcast(ece))
    })

  /** Shared engine side of q217/q219: fused class-weight sweep + per-
    * setting held-out operating metrics (margin > 0 alert point);
    * `withBest` keeps the rounded-F1 column and ranks cells via a
    * window-free triangular join.
    */
  private def wlrQuery(s: org.apache.spark.sql.SparkSession, dir: String,
      salt: String, pwsBase: Seq[Double], withBest: Boolean,
      withBalanced: Boolean = false): org.apache.spark.sql.DataFrame = {
    val feats = Seq("value", "hb", "dowi")
    val f = eventFeatures(s, dir)
      .withColumn("vb5", graft.scale.Splits.bucket(col("event_id"), salt, 5))
      .localCheckpoint() // stats + 6 GD passes + per-setting metric reads
    val train = f.where(col("vb5") =!= 0)
    val valid = f.where(col("vb5") === 0)
    val pws = if (!withBalanced) pwsBase else {
      val cnt = train.agg(
        sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
        sum(when(col("y") === 0L, 1L).otherwise(0L)).as("nn")).head()
      pwsBase :+ cnt.getLong(1).toDouble / cnt.getLong(0)
    }
    val ms = graft.scoring.Trainer.fitLogisticWeighted(train, feats, col("y"),
      pws, iters = 6, lr = 0.5)
    // all settings' margins from ONE projection of the valid slice; the
    // confusion counts from ONE grouped aggregate and the AUCs from ONE
    // grouped rank pipeline (per-setting bit-identical — exact
    // half-integer midranks) instead of an agg + AUC pipeline per setting
    val tagged = valid.select(col("y"), explode(array(
        ms.zipWithIndex.map { case (m, i) =>
          struct(lit(i).as("tag"),
            graft.scoring.Trainer.margin(m).as("margin"))
        }: _*)).as("__e"))
      .select(col("__e.tag").as("tag"), col("y"), col("__e.margin").as("margin"))
    val pred = (col("margin") > 0).cast("long")
    val aggs = tagged.groupBy(col("tag"))
      .agg(count(lit(1)).as("n_val"), sum(col("y")).as("__pos"),
        sum(pred).as("__alerts"),
        sum(when(col("y") === 1L && col("margin") > 0, 1L).otherwise(0L))
          .as("__tp"),
        sum((pred === col("y")).cast("long")).as("__ok"))
    val aucs = graft.feedback.Drift.aucByTag(tagged, col("tag"),
      col("y") === 1L, col("margin")).select(col("tag").as("__t2"), col("auc"))
    val p = col("__tp").cast("double") / col("__alerts")
    val r = col("__tp").cast("double") / col("__pos")
    def settingLit(f: Int => Column): Column =
      pws.indices.foldLeft(lit(null).cast("double")) { (acc, i) =>
        when(col("tag") === i, f(i)).otherwise(acc) }
    val cells = aggs.join(broadcast(aucs), col("tag") === col("__t2"))
      .select(settingLit(i => lit(pws(i))).as("pos_weight") +: col("n_val") +:
        r6(col("auc")).as("auc") +: r6(r).as("rec") +:
        r6(when(col("__alerts") > 0, p)).as("prec") +:
        r6(col("__ok").cast("double") / col("n_val")).as("accuracy") +:
        r6(when(col("__tp") > 0, lit(2.0) * p * r / (p + r))
          .otherwise(lit(0.0))).as("f1") +:
        r6(settingLit(i => lit(ms(i).intercept))).as("intercept") +:
        feats.zipWithIndex.map { case (c2, j) =>
          r6(settingLit(i => lit(ms(i).weights(j)))).as(s"w_$c2") }: _*)
    if (!withBest) cells.drop("f1")
    else {
      val better = cells.select(col("pos_weight").as("__p2"), col("f1").as("__f2"))
      val keys = Seq("pos_weight", "n_val", "auc", "rec", "prec", "accuracy",
        "f1", "intercept", "w_value", "w_hb", "w_dowi")
      cells.join(better,
          col("__f2") > col("f1") || (col("__f2") === col("f1") &&
            col("__p2") < col("pos_weight")), "left")
        .groupBy(keys.map(col): _*)
        .agg(count(col("__p2")).as("__nb"))
        .select(keys.map(col) :+ (col("__nb") === 0).as("is_best"): _*)
    }
  }

  /** One naive-Bayes likelihood CTE pair per feature. */
  private def nbLike(f: String): String =
    s"""l_$f AS (SELECT $f AS v, CAST(sum(y) AS DOUBLE) AS c1,
  CAST(count(*) - sum(y) AS DOUBLE) AS c0 FROM tr GROUP BY 1),
k_$f AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM l_$f)"""

  private def nbTerm(f: String): String =
    s"""ln((coalesce(l_$f.c1, 0) + 1)/(pr.n1 + k_$f.k)) - ln((coalesce(l_$f.c0, 0) + 1)/(pr.n0 + k_$f.k))"""

  /** The Platt calibrator of q235/q241/q250: a logistic fit on the one
    * standardized feature d4 of the `cal` rows, 8 steps at rate 0.5.
    * Publishes `ps` (m0, s0) and the weight states i0..i8 (w0, b).
    */
  private val plattFitSql =
    s"""ps AS MATERIALIZED (SELECT ${sqlStats(Seq(0))} FROM (SELECT d4 AS x0 FROM cal)),
dc AS MATERIALIZED (SELECT ${sqlStd(Seq(0))}, y FROM (SELECT d4 AS x0, y FROM cal) t, ps),
${sqlGd("i", "dc", Seq(0), 8, "0.5")}"""


  /** Gradient-boosting oracle builders (q180/q191): the round-by-round
    * replay as static CTEs, parameterized by the fact CTE name `src` so
    * the validation query runs the same text on a train slice. Feature
    * set fixed to the q180 trio.
    */
  private val gbFeatures = Seq("value", "hb", "dowi")

  /** Row's feature value under round j's fitted split feature. */
  private def gbFv(j: Int, src: String): String =
    s"""(CASE WHEN b$j.f = 'value' THEN CAST($src.value AS DOUBLE)
      WHEN b$j.f = 'hb' THEN CAST($src.hb AS DOUBLE)
      ELSE CAST($src.dowi AS DOUBLE) END)"""

  /** Additive staged score f0 + rounds 1..T (leaf literals). */
  private def gbScoreExpr(T: Int, src: String): String =
    (1 to T).map(j =>
      s"(CASE WHEN ${gbFv(j, src)} <= b$j.t THEN b$j.vl ELSE b$j.vr END)")
      .mkString("f0.v + ", " + ", "")

  /** Rounds 1..T: per-feature distinct-value counts, integer cumsums,
    * residual-sum candidates, and the per-round argmax — the exact
    * expression order of scoring/Boosting.
    */
  private def gbRoundCtes(T: Int, src: String): String = {
    def gCte(t: Int, f: String) = {
      val priorCnts = (1 until t).map(j =>
        s",\n    sum(CASE WHEN ${gbFv(j, src)} <= b$j.t THEN 1 ELSE 0 END) AS c$j").mkString
      val joins = (1 until t).map(j => s" CROSS JOIN best$j b$j").mkString
      s"""g${t}_$f AS (
  SELECT CAST($f AS DOUBLE) AS threshold, count(*) AS n, sum(y) AS sy$priorCnts
  FROM $src$joins
  GROUP BY 1)"""
    }
    def cCte(t: Int, f: String) = {
      val cum = (1 until t).map(j =>
        s",\n    CAST(sum(c$j) OVER w AS BIGINT) AS cll$j").mkString
      val tot = (1 until t).map(j =>
        s",\n    CAST(sum(c$j) OVER () AS BIGINT) AS tcl$j").mkString
      s"""c${t}_$f AS (
  SELECT threshold,
    CAST(sum(n) OVER w AS BIGINT) AS nl,
    CAST(sum(sy) OVER w AS BIGINT) AS syl$cum,
    CAST(sum(n) OVER () AS BIGINT) AS tn,
    CAST(sum(sy) OVER () AS BIGINT) AS tsy$tot
  FROM g${t}_$f
  WINDOW w AS (ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
    }
    def candCte(t: Int, f: String) = {
      val slTerms = (1 until t).map(j =>
        s" - (b$j.vl*cll$j + b$j.vr*(nl - cll$j))").mkString
      val stTerms = (1 until t).map(j =>
        s" - (b$j.vl*tcl$j + b$j.vr*(tn - tcl$j))").mkString
      val joins = (1 until t).map(j => s" CROSS JOIN best$j b$j").mkString
      s"""cand${t}_$f AS (
  SELECT feature, threshold, nl, tn - nl AS nr, sl, stot - sl AS sr
  FROM (
    SELECT '$f' AS feature, threshold, nl, tn,
      syl - nl*f0.v$slTerms AS sl,
      tsy - tn*f0.v$stTerms AS stot
    FROM c${t}_$f CROSS JOIN f0$joins)
  WHERE nl < tn)"""
    }
    def bestCte(t: Int) = {
      val union = gbFeatures.map(f => s"SELECT * FROM cand${t}_$f").mkString(" UNION ALL ")
      s"""best$t AS MATERIALIZED (
  SELECT feature AS f, threshold AS t,
    round(0.5 * (sl / nl) + 5e-11, 4) AS vl,
    round(0.5 * (sr / nr) + 5e-11, 4) AS vr
  FROM ($union)
  ORDER BY round(sl*sl/nl + sr*sr/nr + 5e-11, 4) DESC, feature, threshold
  LIMIT 1)"""
    }
    (1 to T).map { t =>
      (gbFeatures.map(f => gCte(t, f)) ++ gbFeatures.map(f => cCte(t, f)) ++
        gbFeatures.map(f => candCte(t, f)) :+ bestCte(t)).mkString(",\n")
    }.mkString(",\n")
  }

  /** Boosted depth-2 tree oracle builders (q201): per-round root pass +
    * fused per-side child pass with leaf-membership residual terms —
    * the exact expression order of `Boosting.fitTrees`. CTE contract:
    * round j publishes `broot$j (f,t)`, `bl$j`/`br$j (f,t,vl,vr)`.
    */
  private def gbtFv(cte: String, src: String): String =
    s"""(CASE WHEN $cte.f = 'value' THEN CAST($src.value AS DOUBLE)
      WHEN $cte.f = 'hb' THEN CAST($src.hb AS DOUBLE)
      ELSE CAST($src.dowi AS DOUBLE) END)"""

  /** Leaf index 0..3 of a `src` row under round j's fitted tree. The
    * optional `pfx` namespaces the fitted-round CTEs so several chains
    * (e.g. one per grid learning rate, q244) coexist in one query.
    */
  private def gbtLeaf(j: Int, src: String, pfx: String = ""): String =
    s"""(CASE WHEN ${gbtFv(s"${pfx}broot$j", src)} <= ${pfx}broot$j.t
    THEN (CASE WHEN ${gbtFv(s"${pfx}bl$j", src)} <= ${pfx}bl$j.t THEN 0 ELSE 1 END)
    ELSE (CASE WHEN ${gbtFv(s"${pfx}br$j", src)} <= ${pfx}br$j.t THEN 2 ELSE 3 END) END)"""

  private def gbtJoins(t: Int, pfx: String = ""): String =
    (1 until t).map(j =>
      s" CROSS JOIN ${pfx}broot$j CROSS JOIN ${pfx}bl$j CROSS JOIN ${pfx}br$j").mkString

  /** Residual-subtraction terms: prior round j's leaf values times the
    * side's leaf-membership counts (`name(j, l)`; leaf 3 = n − others).
    */
  private def gbtResid(name: (Int, Int) => String, n: String, t: Int,
      pfx: String = ""): String =
    (1 until t).map(j =>
      s" - (${pfx}bl$j.vl*${name(j, 0)} + ${pfx}bl$j.vr*${name(j, 1)} + ${pfx}br$j.vl*${name(j, 2)} + ${pfx}br$j.vr*($n - ${name(j, 0)} - ${name(j, 1)} - ${name(j, 2)}))").mkString

  /** AdaBoost-SAMME oracle builders (q216): round-by-round replay of
    * scoring/AdaBoost — integer counts per (threshold × miss-pattern)
    * cell, window cumsums, pattern weights as ascending products of the
    * prior rounds' 4 dp beta literals, the weighted-error argmin, and
    * the staged vote errors. CTE contract: round t publishes
    * `ab$t (f, t, ll, rl, err, beta, a)`.
    */
  private def abMiss(j: Int, src: String): String =
    s"(CASE WHEN (CASE WHEN ${gbtFv(s"ab$j", src)} <= ab$j.t THEN ab$j.ll ELSE ab$j.rl END) <> $src.y THEN 1 ELSE 0 END)"

  /** Row's miss-pattern id under the first `p` rounds (0 when p = 0). */
  private def abPat(p: Int, src: String): String =
    if (p == 0) "0"
    else (1 to p).map(j => s"${abMiss(j, src)} * ${1 << (j - 1)}").mkString(" + ")

  /** Pattern g's weight: ascending product of the set bits' betas. */
  private def abW(g: Int, p: Int): String = {
    val bits = (1 to p).filter(j => (g & (1 << (j - 1))) != 0)
    if (bits.isEmpty) "CAST(1.0 AS DOUBLE)"
    else bits.map(j => s"ab$j.beta").mkString(" * ")
  }

  /** Round t of the SAMME chain over fact CTE `src`. */
  private def abRound(t: Int, src: String): String = {
    val p = t - 1
    val pats = 1 << p
    val joins = (1 to p).map(j => s" CROSS JOIN ab$j").mkString
    val pat = abPat(p, src)
    def gCte(f: String) = {
      val cols = (0 until pats).map(g => s""",
    sum(CASE WHEN ($pat) = $g THEN 1 ELSE 0 END) AS n$g,
    sum(CASE WHEN ($pat) = $g AND $src.y = 1 THEN 1 ELSE 0 END) AS p$g""").mkString
      s"""abg${t}_$f AS (
  SELECT CAST($f AS DOUBLE) AS threshold$cols
  FROM $src$joins
  GROUP BY 1)"""
    }
    def cCte(f: String) = {
      val cum = (0 until pats).map(g => s""",
    CAST(sum(n$g) OVER w AS BIGINT) AS nl$g,
    CAST(sum(p$g) OVER w AS BIGINT) AS pl$g""").mkString
      val tot = (0 until pats).map(g => s""",
    CAST(sum(n$g) OVER () AS BIGINT) AS tn$g,
    CAST(sum(p$g) OVER () AS BIGINT) AS tp$g""").mkString
      s"""abc${t}_$f AS (
  SELECT threshold$cum$tot
  FROM abg${t}_$f
  WINDOW w AS (ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
    }
    def candCte(f: String) = {
      def ws(term: Int => String) =
        (0 until pats).map(g => s"(${abW(g, p)}) * (${term(g)})").mkString(" + ")
      val nlAll = (0 until pats).map(g => s"nl$g").mkString(" + ")
      val tnAll = (0 until pats).map(g => s"tn$g").mkString(" + ")
      s"""abcand${t}_$f AS (
  SELECT '$f' AS feature, threshold,
    ${ws(g => s"pl$g")} AS wlp,
    ${ws(g => s"nl$g - pl$g")} AS wln,
    ${ws(g => s"tp$g - pl$g")} AS wrp,
    ${ws(g => s"(tn$g - tp$g) - (nl$g - pl$g)")} AS wrn
  FROM abc${t}_$f$joins
  WHERE $nlAll < $tnAll)"""
    }
    val union = gbFeatures.map(f => s"SELECT * FROM abcand${t}_$f")
      .mkString(" UNION ALL ")
    // beta/a carry sklearn's separable early-stop semantics: a perfect
    // round (err <= 0) votes with weight 1 and ends the fit, so its
    // effective beta/alpha are 1.0 (nullif keeps the dead branch from
    // dividing by zero); rounds evaluated after a stop are filtered out
    // by the caller's abFlags gate
    val bestCte = s"""ab$t AS MATERIALIZED (
  SELECT feature AS f, threshold AS t,
    CASE WHEN wlp > wln THEN 1 ELSE 0 END AS ll,
    CASE WHEN wrp > wrn THEN 1 ELSE 0 END AS rl,
    err,
    CASE WHEN err <= 0 THEN CAST(1.0 AS DOUBLE)
      ELSE round((1 - err) / nullif(err, 0) + 5e-11, 4) END AS beta,
    CASE WHEN err <= 0 THEN CAST(1.0 AS DOUBLE)
      ELSE round(ln(round((1 - err) / nullif(err, 0) + 5e-11, 4)) + 5e-11, 4) END AS a
  FROM (SELECT feature, threshold, wlp, wln, wrp, wrn,
      (least(wlp, wln) + least(wrp, wrn)) / (((wlp + wln) + wrp) + wrn) AS err
    FROM ($union))
  ORDER BY round(err + 5e-11, 4) ASC, feature ASC, threshold ASC
  LIMIT 1)"""
    (gbFeatures.map(gCte) ++ gbFeatures.map(cCte) ++ gbFeatures.map(candCte) :+
      bestCte).mkString(",\n")
  }

  /** Per-round keep flags replaying AdaBoost.fit's early-stop: round t
    * is kept iff every prior round CONTINUED (0 < err < 0.5) and round t
    * itself is either a continuing round or the terminal perfect one
    * (err <= 0, kept with weight 1). A round with err >= 0.5 and every
    * round after any stop is dropped — exactly the engine's fit loop.
    */
  private def abFlags(T: Int): String =
    s"""abfl AS (SELECT ${(1 to T).map(j =>
      s"(SELECT coalesce(err > 0 AND err < 0.5, FALSE) FROM ab$j) AS ok$j, " +
        s"(SELECT coalesce(err <= 0, FALSE) FROM ab$j) AS pf$j").mkString(",\n  ")})"""

  /** WHERE gate for round t's output row under [[abFlags]]. */
  private def abKeep(t: Int): String =
    ((1 until t).map(j => s"abfl.ok$j") :+ s"(abfl.ok$t OR abfl.pf$t)")
      .mkString(" AND ")

  /** Staged signed vote of rounds 1..t (sign-flip form, not multiply —
    * the operation chain of AdaBoost.voteScore).
    */
  private def abVote(t: Int, src: String): String =
    (1 to t).map(j =>
      s"(CASE WHEN (CASE WHEN ${gbtFv(s"ab$j", src)} <= ab$j.t THEN ab$j.ll ELSE ab$j.rl END) = 1 THEN ab$j.a ELSE -ab$j.a END)")
      .mkString(" + ")

  /** Staged misclassification counts of rounds 1..t over CTE `src`. */
  private def abStage(t: Int, src: String, name: String): String = {
    val joins = (1 to t).map(j => s" CROSS JOIN ab$j").mkString
    s"""$name AS (
  SELECT count(*) AS n,
    sum(CASE WHEN (CASE WHEN ${abVote(t, src)} > 0 THEN 1 ELSE 0 END) <> $src.y THEN 1 ELSE 0 END) AS m
  FROM $src$joins)"""
  }

  /** SMOTE oracle chain (q218/q220) over fact CTE `src` (must expose
    * event_id, value, hb, dowi, y) — scale/Smote's chain replayed:
    * minority md5 shards, 4 dp z-score distances, per-parent md5
    * neighbor/λ draws, raw-space interpolation; reps bounded by the
    * balance quotient. Publishes `sct` (np, nn), `scm` (m), and
    * `smsyn` (qid, nid, rep, lam, sx0..sx2 — RAW interpolated
    * features) as its last CTE; callers append `,` + further CTEs.
    */
  private def smoteCtes(src: String, salt: String,
      repBound: String = "scm.m", gJoin: String = "", k: Int = 5): String = {
    val idx = 0 to 2
    val zSel = idx.map(i => s"round((x$i - m$i)/s$i + 5e-11, 4) AS z$i")
      .mkString(", ")
    val d2 = idx.map(i => s"((q.z$i - c.z$i)*(q.z$i - c.z$i))").mkString(" + ")
    val synSel = idx.map(i => s"q.x$i + p.lam*(n.x$i - q.x$i) AS sx$i")
      .mkString(", ")
    s"""sct AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM $src),
scm AS (SELECT greatest(1, least(10, (nn - np) // np)) AS m FROM sct),
sshard AS (SELECT greatest(1, least(1024, (np * np) // 1000000)) AS s FROM sct),
smi AS MATERIALIZED (
  SELECT event_id AS pid,
    ('0x' || substr(md5('$salt:s:' || event_id), 1, 8))::UBIGINT % ss.s AS shard,
    CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2
  FROM $src, sshard ss WHERE y = 1),
sst AS (SELECT ${sqlStats(idx)} FROM smi),
sz AS MATERIALIZED (SELECT pid, shard, x0, x1, x2, $zSel FROM smi, sst),
ssc AS (SELECT q.shard, q.pid AS qid, c.pid AS nid, $d2 AS d2
  FROM sz c JOIN sz q ON c.shard = q.shard AND c.pid <> q.pid),
snb AS MATERIALIZED (SELECT qid, nid, rnk FROM (
    SELECT qid, nid,
      row_number() OVER (PARTITION BY shard, qid ORDER BY d2 ASC, nid ASC) AS rnk
    FROM ssc)
  WHERE rnk <= $k),
sreps AS (SELECT unnest(range(10)) AS rep),
spick AS (SELECT nb.qid, nb.nid, r.rep,
    CAST(('0x' || substr(md5('$salt:l' || r.rep || ':' || nb.qid), 1, 8))::UBIGINT % 10000 AS DOUBLE) / CAST(10000.0 AS DOUBLE) AS lam
  FROM snb nb, sreps r, scm$gJoin
  WHERE r.rep < $repBound
    AND nb.rnk = ('0x' || substr(md5('$salt:n' || r.rep || ':' || nb.qid), 1, 8))::UBIGINT % $k + 1),
smsyn AS MATERIALIZED (SELECT p.qid, p.nid, p.rep, p.lam, $synSel
  FROM spick p
  JOIN sz q ON q.pid = p.qid
  JOIN sz n ON n.pid = p.nid)"""
  }

  /** Class-weighted logistic oracle (q217/q219): the q183 unrolled-GD
    * chain with per-setting positive-class weights — weighted gradient
    * sums normalized by the exact weighted row count, margin terms in
    * Trainer.fitLogisticWeighted's fold order (intercept first). Emits
    * one row per setting; `withBest` appends the rounded-F1 triangular
    * rank.
    */
  private def wlrSql(salt: String, pws: Seq[String], withBest: Boolean): String = {
    val iters = 6
    val idx = 0 to 2
    def cwOf(k: Int) =
      s"(CASE WHEN d.y = 1.0 THEN CAST(${pws(k)} AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END)"
    val wsSel = pws.indices.map(k => s"sum(${cwOf(k)}) AS ws$k").mkString(", ")
    def chain(k: Int): String = {
      val i0 = s"i0_k$k AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
      val its = (1 to iters).map { t =>
        val m = sqlMargin("i", idx)
        val p = s"1.0/(1.0 + exp(-($m)))"
        val err = s"(($p - d.y) * ${cwOf(k)})"
        val upd = idx.map(i =>
          s"i.w$i - 0.5*(sum($err * d.x$i) / ws.ws$k) AS w$i").mkString(",\n    ") +
          s",\n    i.b - 0.5*(sum($err) / ws.ws$k) AS b"
        s"i${t}_k$k AS MATERIALIZED (SELECT $upd\n  FROM d, i${t - 1}_k$k i, ws GROUP BY i.w0, i.w1, i.w2, i.b, ws.ws$k)"
      }.mkString(",\n")
      s"$i0,\n$its"
    }
    def cell(k: Int): String =
      s"""sc$k AS MATERIALIZED (
  SELECT t.y, ${sqlMargin("i", idx, "t")} AS sv
  FROM dv t, i${iters}_k$k i),
${sqlAuc(s"uw$k", s"(SELECT CAST(y AS INT) AS y, sv AS s FROM sc$k)", "s")},
mt$k AS (SELECT count(*) AS n_val,
    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
    CAST(sum(CASE WHEN sv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS alerts,
    CAST(sum(CASE WHEN y = 1.0 AND sv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN (CASE WHEN sv > 0 THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS BIGINT) AS ok
  FROM sc$k)"""
    def row(k: Int): String = {
      val p = "CAST(mt.tp AS DOUBLE) / mt.alerts"
      val r = "CAST(mt.tp AS DOUBLE) / mt.pos"
      s"""SELECT CAST(${pws(k)} AS DOUBLE) AS pos_weight, mt.n_val,
  round(uw$k.auc + 5e-11, 4) AS auc,
  round($r + 5e-11, 4) AS rec,
  round((CASE WHEN mt.alerts > 0 THEN $p END) + 5e-11, 4) AS prec,
  round(CAST(mt.ok AS DOUBLE) / mt.n_val + 5e-11, 4) AS accuracy,
  round((CASE WHEN mt.tp > 0 THEN 2.0*($p)*($r)/(($p) + ($r)) ELSE 0.0 END) + 5e-11, 4) AS f1,
  round(i.b + 5e-11, 4) AS intercept,
  round(i.w0 + 5e-11, 4) AS w_value,
  round(i.w1 + 5e-11, 4) AS w_hb,
  round(i.w2 + 5e-11, 4) AS w_dowi
FROM mt$k mt CROSS JOIN uw$k CROSS JOIN i${iters}_k$k i"""
    }
    val cellsSel =
      if (withBest)
        """SELECT c.pos_weight, c.n_val, c.auc, c.rec, c.prec, c.accuracy, c.f1,
  c.intercept, c.w_value, c.w_hb, c.w_dowi,
  (SELECT count(*) FROM cells c2
   WHERE c2.f1 > c.f1 OR (c2.f1 = c.f1 AND c2.pos_weight < c.pos_weight)) = 0 AS is_best
FROM cells c"""
      else
        """SELECT pos_weight, n_val, auc, rec, prec, accuracy, intercept,
  w_value, w_hb, w_dowi
FROM cells"""
    s"""WITH wfb AS ($featSql),
wfp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2,
    y::DOUBLE AS y,
    ('0x' || substr(md5('$salt:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM wfb),
wtr AS (SELECT * FROM wfp WHERE vb5 <> 0),
wct AS (SELECT CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y = 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM wtr),
s AS (SELECT ${sqlStats(idx)} FROM wtr),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM wtr, s),
dv AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM wfp WHERE vb5 = 0) t, s),
ws AS (SELECT $wsSel FROM d),
${pws.indices.map(chain).mkString(",\n")},
${pws.indices.map(cell).mkString(",\n")},
cells AS MATERIALIZED (
${pws.indices.map(row).mkString("\nUNION ALL\n")})
$cellsSel"""
  }

  private val gbtArgmax =
    "ORDER BY round(sl*sl/nl + sr*sr/nr + 5e-11, 4) DESC, feature, threshold\n  LIMIT 1"

  /** Round t of the boosted-tree chain over fact CTE `src`. */
  private def gbtRound(t: Int, src: String, pfx: String = "",
      rate: String = "0.5"): String = {
    val joins = gbtJoins(t, pfx)
    def gR(f: String) = {
      val leafCols = (1 until t).flatMap(j => (0 to 2).map(l =>
        s",\n    sum(CASE WHEN ${gbtLeaf(j, src, pfx)} = $l THEN 1 ELSE 0 END) AS c${j}_$l")).mkString
      s"""${pfx}gr${t}_$f AS (
  SELECT CAST($f AS DOUBLE) AS threshold, count(*) AS n, sum(y) AS sy$leafCols
  FROM $src$joins
  GROUP BY 1)"""
    }
    def cR(f: String) = {
      val cum = (1 until t).flatMap(j => (0 to 2).map(l =>
        s",\n    CAST(sum(c${j}_$l) OVER w AS BIGINT) AS cll${j}_$l")).mkString
      val tot = (1 until t).flatMap(j => (0 to 2).map(l =>
        s",\n    CAST(sum(c${j}_$l) OVER () AS BIGINT) AS tcl${j}_$l")).mkString
      s"""${pfx}cr${t}_$f AS (
  SELECT threshold,
    CAST(sum(n) OVER w AS BIGINT) AS nl,
    CAST(sum(sy) OVER w AS BIGINT) AS syl$cum,
    CAST(sum(n) OVER () AS BIGINT) AS tn,
    CAST(sum(sy) OVER () AS BIGINT) AS tsy$tot
  FROM ${pfx}gr${t}_$f
  WINDOW w AS (ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
    }
    def candR(f: String) =
      s"""${pfx}candr${t}_$f AS (
  SELECT feature, threshold, nl, tn - nl AS nr, sl, stot - sl AS sr
  FROM (
    SELECT '$f' AS feature, threshold, nl, tn,
      syl - nl*f0.v${gbtResid((j, l) => s"cll${j}_$l", "nl", t, pfx)} AS sl,
      tsy - tn*f0.v${gbtResid((j, l) => s"tcl${j}_$l", "tn", t, pfx)} AS stot
    FROM ${pfx}cr${t}_$f CROSS JOIN f0$joins)
  WHERE nl > 0 AND nl < tn)"""
    val brootCte = {
      val union = gbFeatures.map(f => s"SELECT * FROM ${pfx}candr${t}_$f").mkString(" UNION ALL ")
      s"""${pfx}broot$t AS MATERIALIZED (
  SELECT feature AS f, threshold AS t
  FROM ($union)
  $gbtArgmax)"""
    }
    val sideExpr = s"(CASE WHEN ${gbtFv(s"${pfx}broot$t", src)} <= ${pfx}broot$t.t THEN 0 ELSE 1 END)"
    def gC(f: String) = {
      val cols = (0 to 1).flatMap { s =>
        Seq(s",\n    sum(CASE WHEN $sideExpr = $s THEN 1 ELSE 0 END) AS n$s",
          s",\n    sum(CASE WHEN $sideExpr = $s THEN y ELSE 0 END) AS sy$s") ++
          (1 until t).flatMap(j => (0 to 2).map(l =>
            s",\n    sum(CASE WHEN $sideExpr = $s AND ${gbtLeaf(j, src, pfx)} = $l THEN 1 ELSE 0 END) AS c${j}_${l}_$s"))
      }.mkString
      s"""${pfx}gc${t}_$f AS (
  SELECT CAST($f AS DOUBLE) AS threshold$cols
  FROM $src CROSS JOIN ${pfx}broot$t$joins
  GROUP BY 1)"""
    }
    def cC(f: String) = {
      val cols = (0 to 1).flatMap { s =>
        Seq(s",\n    CAST(sum(n$s) OVER w AS BIGINT) AS nl$s",
          s",\n    CAST(sum(sy$s) OVER w AS BIGINT) AS syl$s",
          s",\n    CAST(sum(n$s) OVER () AS BIGINT) AS tn$s",
          s",\n    CAST(sum(sy$s) OVER () AS BIGINT) AS tsy$s") ++
          (1 until t).flatMap(j => (0 to 2).flatMap(l => Seq(
            s",\n    CAST(sum(c${j}_${l}_$s) OVER w AS BIGINT) AS cll${j}_${l}_$s",
            s",\n    CAST(sum(c${j}_${l}_$s) OVER () AS BIGINT) AS tcl${j}_${l}_$s")))
      }.mkString
      s"""${pfx}cc${t}_$f AS (
  SELECT threshold$cols
  FROM ${pfx}gc${t}_$f
  WINDOW w AS (ORDER BY threshold ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))"""
    }
    def candC(f: String, s: Int) =
      s"""${pfx}candc${t}_${s}_$f AS (
  SELECT feature, threshold, nl, tn - nl AS nr, sl, stot - sl AS sr
  FROM (
    SELECT '$f' AS feature, threshold, nl$s AS nl, tn$s AS tn,
      syl$s - nl$s*f0.v${gbtResid((j, l) => s"cll${j}_${l}_$s", s"nl$s", t, pfx)} AS sl,
      tsy$s - tn$s*f0.v${gbtResid((j, l) => s"tcl${j}_${l}_$s", s"tn$s", t, pfx)} AS stot
    FROM ${pfx}cc${t}_$f CROSS JOIN f0$joins)
  WHERE nl > 0 AND nl < tn)"""
    def bSide(s: Int, name: String) = {
      val union = gbFeatures.map(f => s"SELECT * FROM ${pfx}candc${t}_${s}_$f").mkString(" UNION ALL ")
      s"""$name AS MATERIALIZED (
  SELECT feature AS f, threshold AS t,
    round($rate * (sl / nl) + 5e-11, 4) AS vl,
    round($rate * (sr / nr) + 5e-11, 4) AS vr
  FROM ($union)
  $gbtArgmax)"""
    }
    (gbFeatures.map(gR) ++ gbFeatures.map(cR) ++ gbFeatures.map(candR) :+
      brootCte) ++
      (gbFeatures.map(gC) ++ gbFeatures.map(cC) ++
        gbFeatures.map(f => candC(f, 0)) ++ gbFeatures.map(f => candC(f, 1)) ++
        Seq(bSide(0, s"${pfx}bl$t"), bSide(1, s"${pfx}br$t"))) mkString ",\n"
  }

  /** Additive tree-model score f0 + rounds 1..T (nested leaf CASEs). */
  private def gbtScore(T: Int, src: String, pfx: String = ""): String =
    (1 to T).map(j =>
      s"""(CASE WHEN ${gbtFv(s"${pfx}broot$j", src)} <= ${pfx}broot$j.t
    THEN (CASE WHEN ${gbtFv(s"${pfx}bl$j", src)} <= ${pfx}bl$j.t THEN ${pfx}bl$j.vl ELSE ${pfx}bl$j.vr END)
    ELSE (CASE WHEN ${gbtFv(s"${pfx}br$j", src)} <= ${pfx}br$j.t THEN ${pfx}br$j.vl ELSE ${pfx}br$j.vr END) END)""")
      .mkString("f0.v + ", " + ", "")

  /** One stump-candidate CTE per feature: distinct-value class counts,
    * window cumsum, weighted Gini in the engine's exact expression order.
    * `src` = the training CTE, `name` = the produced CTE name (the bagged
    * ensemble instantiates this once per bag × feature).
    */
  private def stumpCand(f: String, src: String = "f",
      name: String = ""): String = {
    val cte = if (name.isEmpty) s"cand_$f" else name
    s"""$cte AS (
  SELECT '$f' AS feature, threshold, n_left, pos_left,
    tn - n_left AS n_right, tp - pos_left AS pos_right,
    ((1.0 - (CAST(pos_left AS DOUBLE)/n_left)*(CAST(pos_left AS DOUBLE)/n_left)
        - (1.0 - CAST(pos_left AS DOUBLE)/n_left)*(1.0 - CAST(pos_left AS DOUBLE)/n_left))
      * n_left / tn
     + (1.0 - (CAST(tp - pos_left AS DOUBLE)/(tn - n_left))*(CAST(tp - pos_left AS DOUBLE)/(tn - n_left))
        - (1.0 - CAST(tp - pos_left AS DOUBLE)/(tn - n_left))*(1.0 - CAST(tp - pos_left AS DOUBLE)/(tn - n_left)))
      * (tn - n_left) / tn) AS gini
  FROM (
    SELECT CAST($f AS DOUBLE) AS threshold,
      CAST(sum(count(*)) OVER w AS BIGINT) AS n_left,
      CAST(sum(sum(y)) OVER w AS BIGINT) AS pos_left,
      CAST(sum(count(*)) OVER () AS BIGINT) AS tn,
      CAST(sum(sum(y)) OVER () AS BIGINT) AS tp
    FROM $src GROUP BY 1
    WINDOW w AS (ORDER BY CAST($f AS DOUBLE) ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
  WHERE n_left < tn)"""
  }

  /** Node paths of a depth-`depth` binary tree in BFS order — "" for
    * the root, then 'l'/'r' per level.
    */
  private def deepNodePaths(depth: Int): Seq[String] = {
    def level(d: Int): Seq[String] =
      if (d == 0) Seq("") else level(d - 1).flatMap(p => Seq(p + "l", p + "r"))
    (0 until depth).flatMap(level)
  }

  private def deepNm(p: String): String = if (p.isEmpty) "r0" else p

  /** Depth-N tree oracle chain (q202/q203): the level-wise greedy fit as
    * statically generated CTEs. Per node: a row-subset table (parent
    * side filter), per-feature candidate CTEs, and a purity-gated argmin
    * that goes EMPTY when the node must not split (pure side, or no
    * candidate rows) — emptiness cascades to every descendant, the SQL
    * twin of `Trees.fitDepth`'s deterministic stopping. Assumes the
    * q180 feature trio and a `f_r0` fact CTE provided by the caller.
    */
  private def deepTreeCtes(depth: Int, fs: Seq[String] = gbFeatures,
      pre: String = ""): String = {
    def sideOn(src: String, best: String) = s"""(CASE $best.feature
    WHEN 'value' THEN CAST($src.value AS DOUBLE)
    WHEN 'hb' THEN CAST($src.hb AS DOUBLE)
    ELSE CAST($src.dowi AS DOUBLE) END)"""
    val nodes = deepNodePaths(depth).map { p =>
      val n = pre + deepNm(p)
      val fCte =
        if (p.isEmpty) ""
        else {
          val par = pre + deepNm(p.init)
          val op = if (p.last == 'l') "<=" else ">"
          s"""f_$n AS MATERIALIZED (SELECT f_$par.* FROM f_$par, b_$par
  WHERE ${sideOn(s"f_$par", s"b_$par")} $op b_$par.threshold),
"""
        }
      val cands = fs.map(f => stumpCand(f, s"f_$n", s"c_${n}_$f")).mkString(",\n") +
        s",\nac_$n AS (${fs.map(f => s"SELECT * FROM c_${n}_$f").mkString(" UNION ALL ")})"
      val gate =
        if (p.isEmpty)
          s"st_${pre}r0 WHERE st_${pre}r0.pos > 0 AND st_${pre}r0.pos < st_${pre}r0.n"
        else {
          val par = pre + deepNm(p.init)
          val side = if (p.last == 'l') "left" else "right"
          s"b_$par WHERE b_$par.pos_$side > 0 AND b_$par.pos_$side < b_$par.n_$side"
        }
      s"""$fCte$cands,
b_$n AS MATERIALIZED (
  SELECT ac_$n.feature, ac_$n.threshold,
    round(ac_$n.gini + 5e-11, 4) AS gini,
    ac_$n.n_left, ac_$n.pos_left, ac_$n.n_right, ac_$n.pos_right
  FROM ac_$n, $gate
  ORDER BY round(ac_$n.gini + 5e-11, 4), ac_$n.feature, ac_$n.threshold LIMIT 1)"""
    }.mkString(",\n")
    s"""st_${pre}r0 AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS pos FROM f_${pre}r0),
$nodes"""
  }

  /** Terminal-leaf contribution rows of the fitted chain: a side of a
    * split node counts iff its child did not itself split (its `b` CTE
    * is empty, or the child sits past the last generated level).
    */
  private def deepLeafContrib(depth: Int, pre: String = ""): String =
    deepNodePaths(depth).map { p =>
      def side(s: String, childPath: String) = {
        val cn = pre + deepNm(childPath)
        if (childPath.length >= depth) s"greatest(pos_$s, n_$s - pos_$s)"
        else
          s"CASE WHEN NOT EXISTS (SELECT 1 FROM b_$cn) THEN greatest(pos_$s, n_$s - pos_$s) ELSE 0 END"
      }
      s"SELECT ${side("left", p + "l")} + ${side("right", p + "r")} AS c FROM b_${pre + deepNm(p)}"
    }.mkString("\nUNION ALL\n")

  override val oracle: Map[String, String] = Map(
    "q202_deep_tree" -> {
      val depth = 5
      def accOf(t: String) =
        s"""round(CAST(greatest($t.pos_left, $t.n_left - $t.pos_left)
      + greatest($t.pos_right, $t.n_right - $t.pos_right) AS DOUBLE)
    / ($t.n_left + $t.n_right) + 5e-11, 4)"""
      val rows = deepNodePaths(depth).map { p =>
        val n = deepNm(p)
        val label = if (p.isEmpty) "root" else p
        s"""SELECT '$label' AS node, CAST(${p.length} AS BIGINT) AS depth, b_$n.feature,
  round(b_$n.threshold + 5e-11, 4) AS threshold, b_$n.gini AS gini,
  b_$n.n_left, b_$n.pos_left, b_$n.n_right, b_$n.pos_right,
  ${accOf(s"b_$n")} AS acc, ta.tree_acc
FROM b_$n, ta"""
      }.mkString("\nUNION ALL\n")
      s"""WITH f_r0 AS MATERIALIZED ($featSql),
${deepTreeCtes(depth)},
ta AS (SELECT round(CAST(sum(c) AS DOUBLE) / (SELECT n FROM st_r0) + 5e-11, 4) AS tree_acc
  FROM (${deepLeafContrib(depth)}))
$rows"""
    },
    "q203_deep_importance" -> {
      val depth = 5
      def imp(pos: String, n: String) =
        s"""(1.0 - (CAST($pos AS DOUBLE)/$n)*(CAST($pos AS DOUBLE)/$n)
    - (1.0 - CAST($pos AS DOUBLE)/$n)*(1.0 - CAST($pos AS DOUBLE)/$n))"""
      val gainRows = deepNodePaths(depth).map { p =>
        val b = s"b_${deepNm(p)}"
        val (nn, np, from) =
          if (p.isEmpty) ("st_r0.n", "st_r0.pos", s"$b, st_r0")
          else {
            val par = s"b_${deepNm(p.init)}"
            val side = if (p.last == 'l') "left" else "right"
            (s"$par.n_$side", s"$par.pos_$side", s"$b, $par")
          }
        s"""SELECT $b.feature AS feature,
  CAST($nn AS DOUBLE) / (SELECT n FROM st_r0)
    * (${imp(np, nn)}
      - (${imp(s"$b.pos_left", s"$b.n_left")} * $b.n_left / $nn
        + ${imp(s"$b.pos_right", s"$b.n_right")} * $b.n_right / $nn)) AS gain
FROM $from"""
      }.mkString("\nUNION ALL\n")
      val featRows = gbFeatures.map(f => s"SELECT '$f' AS feature").mkString(" UNION ALL ")
      s"""WITH f_r0 AS MATERIALIZED ($featSql),
${deepTreeCtes(depth)},
gains AS ($gainRows),
pf AS (SELECT fl.feature,
    CAST(count(gains.feature) AS BIGINT) AS n_splits,
    coalesce(sum(gains.gain), 0.0) AS g
  FROM ($featRows) fl LEFT JOIN gains ON fl.feature = gains.feature
  GROUP BY fl.feature),
tt AS (SELECT sum(g) AS t FROM pf)
SELECT feature, n_splits, round(g + 5e-11, 4) AS gain,
  round(g / tt.t + 5e-11, 4) AS importance
FROM pf, tt"""
    },
    "q204_deep_forest" -> {
      // per-tree replay of the level-wise depth-3 chain: each member's
      // md5 subsample of the 80% train slice feeds its own purity-gated
      // node CTE cascade over its 2-feature subset; tree accuracy from
      // the terminal-leaf contributions. The fused Spark fit is
      // per-(tree, node) candidate-identical (ModelsSpec).
      val allF = gbFeatures
      val trees = 5
      val depth = 3
      def featsOf(t: Int) = allF.patch(t % allF.size, Nil, 1)
      val treeCtes = (0 until trees).map { t =>
        s"""f_t${t}r0 AS MATERIALIZED (
  SELECT * FROM trn
  WHERE ('0x' || substr(md5('rf$t:' || event_id), 1, 8))::UBIGINT % 3 <> 0),
${deepTreeCtes(depth, featsOf(t), s"t$t")},
ta_t$t AS (SELECT round(CAST(sum(c) AS DOUBLE) / (SELECT n FROM st_t${t}r0) + 5e-11, 4) AS tree_acc
  FROM (${deepLeafContrib(depth, s"t$t")}))"""
      }.mkString(",\n")
      val rows = (0 until trees).flatMap { t =>
        deepNodePaths(depth).map { p =>
          val n = s"t$t" + deepNm(p)
          val label = if (p.isEmpty) "root" else p
          s"""SELECT CAST($t AS BIGINT) AS tree, '$label' AS node, CAST(${p.length} AS BIGINT) AS depth,
  b_$n.feature, round(b_$n.threshold + 5e-11, 4) AS threshold, b_$n.gini AS gini,
  b_$n.n_left, b_$n.pos_left, b_$n.n_right, b_$n.pos_right, ta_t$t.tree_acc
FROM b_$n, ta_t$t"""
        }
      }.mkString("\nUNION ALL\n")
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5('rf:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM fb),
trn AS MATERIALIZED (SELECT * FROM fp WHERE vb5 <> 0),
$treeCtes
$rows"""
    },
    "q167_naive_bayes" -> {
      val fs = Seq("hb", "dowi", "vb")
      s"""WITH f AS ($featSql),
tr AS (SELECT * FROM f WHERE event_id % 5 <> 0),
te AS (SELECT * FROM f WHERE event_id % 5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
sc AS (
  SELECT te.y,
    ln(pr.n1/pr.n0) + ${fs.map(nbTerm).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")})
SELECT y, round(delta + 5e-11, 4) > 0 AS pred, count(*) AS n,
  round(avg(delta) + 5e-11, 4) AS avg_delta
FROM sc GROUP BY 1, 2"""
    },
    "q168_decision_stump" -> {
      val fs = Seq("value", "hb", "dowi")
      s"""WITH f AS ($featSql),
${fs.map(f => stumpCand(f)).mkString(",\n")},
allc AS (${fs.map(f => s"SELECT * FROM cand_$f").mkString(" UNION ALL ")})
SELECT feature, threshold, round(gini + 5e-11, 4) AS gini,
  n_left, pos_left, n_right, pos_right,
  round(CAST(greatest(pos_left, n_left - pos_left)
    + greatest(pos_right, n_right - pos_right) AS DOUBLE)
    / (n_left + n_right) + 5e-11, 4) AS acc
FROM allc
ORDER BY round(gini + 5e-11, 4), feature, threshold
LIMIT 1"""
    },
    "q169_seq_packing" ->
      """WITH d AS (
  SELECT doc_id, CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS tok
  FROM documents),
dd AS (SELECT * FROM d WHERE tok > 0),
c AS (
  SELECT doc_id, tok,
    sum(tok) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS end_off
  FROM dd),
p AS (
  SELECT CAST(end_off - tok AS BIGINT) AS start_off, CAST(end_off AS BIGINT) AS end_off,
    CAST((end_off - tok) // 2048 AS BIGINT) AS first_bin,
    CAST(greatest((end_off - 1) // 2048, (end_off - tok) // 2048) AS BIGINT) AS last_bin
  FROM c),
e AS (
  SELECT start_off, end_off, unnest(generate_series(first_bin, last_bin)) AS bin
  FROM p)
SELECT bin, count(*) AS n_docs,
  CAST(sum(least(end_off, (bin + 1) * 2048) - greatest(start_off, bin * 2048)) AS BIGINT) AS bin_tokens,
  CAST(sum(CASE WHEN start_off >= bin * 2048 AND end_off <= (bin + 1) * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_contained,
  CAST(sum(CASE WHEN end_off > (bin + 1) * 2048 THEN 1 ELSE 0 END) AS BIGINT) AS n_continuing
FROM e GROUP BY 1""",
    "q170_kmeans" -> {
      // unrolled Lloyd: init = order-statistic spread, then 3 assignment
      // CTEs (a1..a3) with centroid updates (c1, c2) between them; every
      // centroid coordinate re-rounds through the engine quantum before
      // re-entering the distance arithmetic
      def assign(a: String, c: String) =
        s"""$a AS MATERIALIZED (
  SELECT user_id, z1, z2, cid FROM (
    SELECT p.user_id, p.z1, p.z2, c.cid,
      row_number() OVER (PARTITION BY p.user_id
        ORDER BY (p.z1 - c.c1)*(p.z1 - c.c1) + (p.z2 - c.c2)*(p.z2 - c.c2), c.cid) AS rk
    FROM pts p CROSS JOIN $c c)
  WHERE rk = 1)"""
      def update(c: String, a: String) =
        s"""$c AS MATERIALIZED (
  SELECT cid, round(avg(z1) + 5e-11, 4) AS c1, round(avg(z2) + 5e-11, 4) AS c2
  FROM $a GROUP BY 1)"""
      s"""WITH per AS (
  SELECT user_id, count(*) AS cnt,
    CAST(sum(CAST(round(value*100) AS BIGINT)) AS BIGINT) AS cents
  FROM events GROUP BY 1),
pts0 AS (
  SELECT user_id, CAST(cnt AS DOUBLE) AS x1,
    CAST(cents AS DOUBLE)/cnt/100.0 AS x2
  FROM per),
st AS (SELECT ${sqlStats(Seq(1, 2))} FROM pts0),
pts AS MATERIALIZED (
  SELECT user_id, round((x1 - m1)/s1 + 5e-11, 4) AS z1,
    round((x2 - m2)/s2 + 5e-11, 4) AS z2
  FROM pts0, st),
r AS (SELECT user_id, z1, z2,
  row_number() OVER (ORDER BY z1, user_id) AS rn, count(*) OVER () AS n FROM pts),
c0 AS MATERIALIZED (
  SELECT row_number() OVER (ORDER BY rn) - 1 AS cid, z1 AS c1, z2 AS c2
  FROM r WHERE rn IN (greatest(1*n//6, 1), greatest(3*n//6, 1), greatest(5*n//6, 1))),
${assign("a1", "c0")},
${update("c1t", "a1")},
${assign("a2", "c1t")},
${update("c2t", "a2")},
${assign("a3", "c2t")}
SELECT cid AS cluster_id, count(*) AS n,
  round(avg(z1) + 5e-11, 4) AS c_z1, round(avg(z2) + 5e-11, 4) AS c_z2
FROM a3 GROUP BY 1"""
    },
    "q182_stacked_ensemble" -> {
      // per fold: NB likelihood CTEs + stump candidate CTEs + a 5-iter
      // unrolled LR chain, assembled into OOF rows; then a 10-iter meta
      // chain over the rounded OOF columns. Every generator is the
      // q167/q168/q172 building block with fold-suffixed names.
      val nbF = Seq("hb", "dowi", "vb")
      val sF = Seq("value", "hb", "dowi")
      val lrIt = 5
      val metaIt = 10
      val idx = 0 until 3
      def nbLikeF(f: Int, c: String) =
        s"""l${f}_$c AS (SELECT $c AS v, CAST(sum(y) AS DOUBLE) AS c1,
  CAST(count(*) - sum(y) AS DOUBLE) AS c0 FROM tr$f GROUP BY 1),
k${f}_$c AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM l${f}_$c)"""
      def nbTermF(f: Int, c: String) =
        s"ln((coalesce(l${f}_$c.c1, 0) + 1)/(pr$f.n1 + k${f}_$c.k)) - ln((coalesce(l${f}_$c.c0, 0) + 1)/(pr$f.n0 + k${f}_$c.k))"
      def fvB(f: Int) =
        s"""(CASE WHEN b$f.bf = 'value' THEN CAST(fb.value AS DOUBLE)
      WHEN b$f.bf = 'hb' THEN CAST(fb.hb AS DOUBLE)
      ELSE CAST(fb.dowi AS DOUBLE) END)"""
      def foldBlock(f: Int) =
        s"""tr$f AS MATERIALIZED (SELECT * FROM fb WHERE fold <> $f),
pr$f AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr$f),
${nbF.map(c => nbLikeF(f, c)).mkString(",\n")},
${sF.map(c => stumpCand(c, src = s"tr$f", name = s"cb${f}_$c")).mkString(",\n")},
best$f AS MATERIALIZED (
  SELECT feature AS bf, threshold AS bt,
    CASE WHEN pos_left*2 > n_left THEN 1 ELSE 0 END AS lm,
    CASE WHEN pos_right*2 > n_right THEN 1 ELSE 0 END AS rm
  FROM (${sF.map(c => s"SELECT * FROM cb${f}_$c").mkString(" UNION ALL ")})
  ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1),
s$f AS (SELECT ${sqlStats(idx)} FROM tr$f),
dtr$f AS MATERIALIZED (SELECT ${sqlStd(idx)}, y::DOUBLE AS y FROM tr$f, s$f),
${sqlGd(s"g${f}_", s"dtr$f", idx, lrIt, "0.5")},
oof$f AS (
  SELECT fb.y,
    round(ln(pr$f.n1/pr$f.n0)
      + ${nbF.map(c => nbTermF(f, c)).mkString("\n      + ")} + 5e-11, 4) AS m_nb,
    (CASE WHEN ${fvB(f)} <= b$f.bt THEN b$f.lm ELSE b$f.rm END)::DOUBLE AS m_stump,
    round(i.w0*((fb.x0 - s$f.m0)/s$f.s0) + i.w1*((fb.x1 - s$f.m1)/s$f.s1)
      + i.w2*((fb.x2 - s$f.m2)/s$f.s2) + i.b + 5e-11, 4) AS m_lr
  FROM fb
  CROSS JOIN pr$f ${nbF.map(c => s"CROSS JOIN k${f}_$c").mkString(" ")}
  ${nbF.map(c => s"LEFT JOIN l${f}_$c ON fb.$c = l${f}_$c.v").mkString("\n  ")}
  CROSS JOIN best$f b$f CROSS JOIN s$f CROSS JOIN g${f}_$lrIt i
  WHERE fb.fold = $f)"""
      s"""WITH fb AS MATERIALIZED (
  SELECT e.*, CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2,
    (row_number() OVER (PARTITION BY y
      ORDER BY ('0x' || substr(md5('stack:' || event_id), 1, 8))::UBIGINT,
        event_id) - 1) % 3 AS fold
  FROM ($featSql) e),
${(0 until 3).map(foldBlock).mkString(",\n")},
oof AS MATERIALIZED (
  SELECT * FROM oof0 UNION ALL SELECT * FROM oof1 UNION ALL SELECT * FROM oof2),
oofx AS (SELECT m_nb AS x0, m_stump AS x1, m_lr AS x2, y::DOUBLE AS y FROM oof),
sm AS (SELECT ${sqlStats(idx)} FROM oofx),
dm AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM oofx, sm),
${sqlGd("gm_", "dm", idx, metaIt, "0.5")},
scm AS (SELECT d.y, ${sqlMargin(s"gm_$metaIt", idx)} AS sv FROM dm d, gm_$metaIt),
${sqlAuc("au_nb", "oof", "m_nb")},
${sqlAuc("au_st", "oof", "m_stump")},
${sqlAuc("au_lr", "oof", "m_lr")},
${sqlAuc("au_meta", "scm", "sv")},
va AS (SELECT count(*) AS n,
  round(avg(CASE WHEN (CASE WHEN (CASE WHEN m_nb > 0 THEN 1 ELSE 0 END
      + CASE WHEN m_stump > 0.5 THEN 1 ELSE 0 END
      + CASE WHEN m_lr > 0 THEN 1 ELSE 0 END) >= 2 THEN 1 ELSE 0 END) = y
    THEN 1.0 ELSE 0.0 END) + 5e-11, 4) AS vote_acc
  FROM oof)
SELECT va.n,
  round(au_nb.auc + 5e-11, 4) AS auc_nb,
  round(au_st.auc + 5e-11, 4) AS auc_stump,
  round(au_lr.auc + 5e-11, 4) AS auc_lr,
  greatest(round(au_nb.auc + 5e-11, 4), round(au_st.auc + 5e-11, 4),
    round(au_lr.auc + 5e-11, 4)) AS auc_best_single,
  round(au_meta.auc + 5e-11, 4) AS auc_stacked,
  va.vote_acc,
  round(i.b + 5e-11, 4) AS intercept,
  round(i.w0 + 5e-11, 4) AS w_m_nb,
  round(i.w1 + 5e-11, 4) AS w_m_stump,
  round(i.w2 + 5e-11, 4) AS w_m_lr
FROM va CROSS JOIN au_nb CROSS JOIN au_st CROSS JOIN au_lr CROSS JOIN au_meta
CROSS JOIN gm_$metaIt i"""
    },
    "q183_lr_grid" -> {
      // the q165/q172 unrolled-GD technique, once per learning rate; the
      // iters dimension reads the chain's intermediate CTEs (a 5-iter
      // cell is a prefix of the 10-iter chain — same fusion as the
      // engine's checkpoint snapshots)
      val rates = Seq("0.1", "0.5", "1.0")
      val checks = Seq(5, 10)
      val maxIt = checks.max
      val feats = Seq("value", "hb", "dowi")
      val idx = feats.indices
      def chain(r: Int): String = sqlGd(s"g${r}_", "d", idx, maxIt, rates(r))
      def cell(r: Int, it: Int): String = {
        val w = s"g${r}_$it"
        s"""sc_${r}_$it AS (SELECT d.y, ${sqlMargin(w, idx)} AS sv FROM dv d, $w),
${sqlAuc(s"au_${r}_$it", s"sc_${r}_$it", "sv")}"""
      }
      def cellRow(r: Int, it: Int): String = {
        val w = s"g${r}_$it"
        val ws = feats.zipWithIndex.map { case (c, i) =>
          s"${sqlR4(s"$w.w$i")} AS w_$c" }.mkString(", ")
        s"""SELECT ${rates(r)}::DOUBLE AS lr, $it AS iters, a.n AS n_val, ${sqlR4("a.auc")} AS auc,
  ${sqlR4(s"$w.b")} AS intercept, $ws
FROM au_${r}_$it a, $w"""
      }
      val cellDefs = (for { r <- rates.indices; it <- checks } yield cell(r, it))
        .mkString(",\n")
      val cellRows = (for { r <- rates.indices; it <- checks } yield cellRow(r, it))
        .mkString("\nUNION ALL\n")
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2,
    y::DOUBLE AS y,
    ('0x' || substr(md5('gridval:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM fb),
tr AS (SELECT * FROM fp WHERE vb5 <> 0),
s AS (SELECT ${sqlStats(idx)} FROM tr),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr, s),
dv AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM fp WHERE vb5 = 0) t, s),
${rates.indices.map(chain).mkString(",\n")},
$cellDefs,
cells AS MATERIALIZED (
$cellRows)
SELECT c.lr, c.iters, c.n_val, c.auc, c.intercept, c.w_value, c.w_hb, c.w_dowi,
  count(c2.lr) = 0 AS is_best
FROM cells c LEFT JOIN cells c2
  ON c2.auc > c.auc OR (c2.auc = c.auc AND (c2.lr < c.lr OR (c2.lr = c.lr AND c2.iters < c.iters)))
GROUP BY c.lr, c.iters, c.n_val, c.auc, c.intercept, c.w_value, c.w_hb, c.w_dowi"""
    },
    "q194_model_leaderboard" -> {
      // one WITH: NB likelihoods + stump candidates + 10-iter unrolled
      // LR + the 3-round boosting replay, each scored on the shared
      // held-out slice, then a midrank-AUC + confusion block per model
      val nbF = Seq("hb", "dowi", "vb")
      val sF = Seq("value", "hb", "dowi")
      val idx = 0 until 3
      val lrIt = 10
      def nbLikeQ(c: String) =
        s"""l_$c AS (SELECT $c AS v, CAST(sum(y) AS DOUBLE) AS c1,
  CAST(count(*) - sum(y) AS DOUBLE) AS c0 FROM tr GROUP BY 1),
k_$c AS (SELECT CAST(count(*) AS DOUBLE) AS k FROM l_$c)"""
      def nbTermQ(c: String) =
        s"ln((coalesce(l_$c.c1, 0) + 1)/(pr.n1 + k_$c.k)) - ln((coalesce(l_$c.c0, 0) + 1)/(pr.n0 + k_$c.k))"
      val bfv =
        s"""(CASE WHEN best.bf = 'value' THEN CAST(va.value AS DOUBLE)
      WHEN best.bf = 'hb' THEN CAST(va.hb AS DOUBLE)
      ELSE CAST(va.dowi AS DOUBLE) END)"""
      def mblock(name: String, src: String, thr: String) =
        s"""${sqlAuc(s"au_$name", src, "s")},
cm_$name AS (SELECT count(*) AS n_val,
    sum(CASE WHEN s > $thr AND y = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN s > $thr AND y = 0 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN NOT (s > $thr) AND y = 1 THEN 1 ELSE 0 END) AS fn
  FROM $src)"""
      def mrow(name: String, label: String) =
        s"""SELECT '$label' AS model, cm_$name.n_val,
  round(au_$name.auc + 5e-11, 4) AS auc,
  round((cm_$name.n_val - cm_$name.fp - cm_$name.fn)::DOUBLE / cm_$name.n_val + 5e-11, 4) AS accuracy,
  round(CASE WHEN cm_$name.tp + cm_$name.fp > 0 THEN cm_$name.tp::DOUBLE/(cm_$name.tp + cm_$name.fp) END + 5e-11, 4) AS prec,
  round(CASE WHEN cm_$name.tp + cm_$name.fn > 0 THEN cm_$name.tp::DOUBLE/(cm_$name.tp + cm_$name.fn) END + 5e-11, 4) AS rec,
  round(CASE WHEN 2*cm_$name.tp + cm_$name.fp + cm_$name.fn > 0 THEN 2.0*cm_$name.tp/(2*cm_$name.tp + cm_$name.fp + cm_$name.fn) END + 5e-11, 4) AS f1
FROM cm_$name, au_$name"""
      s"""WITH fb AS MATERIALIZED (
  SELECT e.*, CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2,
    (row_number() OVER (PARTITION BY y
      ORDER BY ('0x' || substr(md5('lead:' || event_id), 1, 8))::UBIGINT,
        event_id) - 1) % 5 AS vb5
  FROM ($featSql) e),
tr AS MATERIALIZED (SELECT * FROM fb WHERE vb5 <> 0),
va AS MATERIALIZED (SELECT * FROM fb WHERE vb5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${nbF.map(nbLikeQ).mkString(",\n")},
nbsc AS MATERIALIZED (
  SELECT va.y,
    round(ln(pr.n1/pr.n0)
      + ${nbF.map(nbTermQ).mkString("\n      + ")} + 5e-11, 4) AS s
  FROM va CROSS JOIN pr ${nbF.map(c => s"CROSS JOIN k_$c").mkString(" ")}
  ${nbF.map(c => s"LEFT JOIN l_$c ON va.$c = l_$c.v").mkString("\n  ")}),
${sF.map(c => stumpCand(c, src = "tr", name = s"cl_$c")).mkString(",\n")},
best AS MATERIALIZED (
  SELECT feature AS bf, threshold AS bt,
    CAST(pos_left AS DOUBLE)/n_left AS lrate,
    CAST(pos_right AS DOUBLE)/n_right AS rrate
  FROM (${sF.map(c => s"SELECT * FROM cl_$c").mkString(" UNION ALL ")})
  ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1),
stsc AS MATERIALIZED (
  SELECT va.y, round((CASE WHEN $bfv <= best.bt THEN best.lrate ELSE best.rrate END) + 5e-11, 4) AS s
  FROM va CROSS JOIN best),
sq AS (SELECT ${sqlStats(idx)} FROM tr),
dtr AS MATERIALIZED (SELECT ${sqlStd(idx)}, y::DOUBLE AS y FROM tr, sq),
${sqlGd("gq_", "dtr", idx, lrIt, "0.5")},
lrsc AS MATERIALIZED (
  SELECT va.y, round(i.w0*((va.x0 - sq.m0)/sq.s0) + i.w1*((va.x1 - sq.m1)/sq.s1)
    + i.w2*((va.x2 - sq.m2)/sq.s2) + i.b + 5e-11, 4) AS s
  FROM va, sq, gq_$lrIt i),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM tr),
${gbRoundCtes(3, "tr")},
gbsc AS MATERIALIZED (
  SELECT va.y, round(${gbScoreExpr(3, "va")} + 5e-11, 4) AS s
  FROM va CROSS JOIN f0${(1 to 3).map(j => s" CROSS JOIN best$j b$j").mkString}),
${mblock("nb", "nbsc", "0")},
${mblock("st", "stsc", "0.5")},
${mblock("lr", "lrsc", "0")},
${mblock("gb", "gbsc", "0.5")}
${mrow("nb", "naive_bayes")}
UNION ALL
${mrow("st", "stump")}
UNION ALL
${mrow("lr", "logistic")}
UNION ALL
${mrow("gb", "boosted_stumps")}"""
    },
    "q180_boosted_stumps" -> {
      val T = 3
      val scJoins = (1 to T).map(j => s" CROSS JOIN best$j b$j").mkString
      val outCols = (1 to T).map(j =>
        s"b$j.f AS f$j, round(b$j.t + 5e-11, 4) AS t$j, b$j.vl AS vl$j, b$j.vr AS vr$j")
        .mkString(",\n  ")
      s"""WITH fb AS MATERIALIZED ($featSql),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
${gbRoundCtes(T, "fb")},
sc AS MATERIALIZED (
  SELECT fb.y, ${gbScoreExpr(T, "fb")} AS s
  FROM fb CROSS JOIN f0$scJoins),
a AS (SELECT count(*) AS n,
    round(avg((y - s)*(y - s)) + 5e-11, 4) AS train_mse FROM sc),
${sqlAuc("u", "sc", "s")}
SELECT a.n, f0.v AS f0,
  $outCols,
  a.train_mse, round(u.auc + 5e-11, 4) AS train_auc
FROM a CROSS JOIN u CROSS JOIN f0$scJoins"""
    },
    "q191_boosting_validation" -> {
      // the reference's eval_set workflow: refit the q180 chain on the
      // 80% md5-bucket train slice, then report the held-out AUC of the
      // STAGED model after each boosting round (how many rounds pay for
      // themselves). Same replay builders as q180, sourced on the train
      // CTE; one midrank-AUC block per stage over the validation slice.
      val T = 3
      val stages = (1 to T).map { t =>
        val joins = (1 to t).map(j => s" CROSS JOIN best$j b$j").mkString
        s"""sc$t AS MATERIALIZED (
  SELECT vld.y, ${gbScoreExpr(t, "vld")} AS s
  FROM vld CROSS JOIN f0$joins),
${sqlAuc(s"u$t", s"sc$t", "s")}"""
      }.mkString(",\n")
      val rows = (1 to T).map(t =>
        s"""SELECT $t AS round, b$t.f AS feature, round(b$t.t + 5e-11, 4) AS threshold,
  u$t.n AS n_val, round(u$t.auc + 5e-11, 4) AS val_auc
FROM best$t b$t CROSS JOIN u$t""")
      s"""WITH fb0 AS ($featSql),
fp AS MATERIALIZED (
  SELECT *, (row_number() OVER (PARTITION BY y
    ORDER BY ('0x' || substr(md5('gbval:' || event_id), 1, 8))::UBIGINT,
      event_id) - 1) % 5 AS vb5
  FROM fb0),
fb AS MATERIALIZED (SELECT * FROM fp WHERE vb5 <> 0),
vld AS MATERIALIZED (SELECT * FROM fp WHERE vb5 = 0),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
${gbRoundCtes(T, "fb")},
$stages
${rows.mkString("\nUNION ALL\n")}"""
    },
    "q181_threshold_sweep" ->
      """WITH s AS (SELECT event_id, value AS sc,
  CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y FROM events),
d AS (SELECT *, ntile(10) OVER (ORDER BY sc DESC, event_id ASC) AS decile FROM s),
g AS MATERIALIZED (SELECT decile, count(*) AS n, sum(y)::BIGINT AS np, min(sc) AS thr
  FROM d GROUP BY 1),
t AS (SELECT sum(np)::DOUBLE AS p, sum(n)::DOUBLE AS nn FROM g),
c AS (SELECT decile, thr,
    sum(n) OVER w AS alerts, sum(np) OVER w AS tp
  FROM g WINDOW w AS (ORDER BY decile ROWS UNBOUNDED PRECEDING)),
m AS (SELECT decile, thr, alerts::BIGINT AS alerts, tp::BIGINT AS tp, p, nn,
    tp::DOUBLE/alerts AS prec, tp::DOUBLE/p AS rec
  FROM c CROSS JOIN t)
SELECT decile::BIGINT AS decile, round(thr + 5e-11, 4) AS threshold,
  alerts AS n_alerts, tp,
  round(prec + 5e-11, 4) AS prec, round(rec + 5e-11, 4) AS rec,
  round(CASE WHEN tp > 0 THEN 2.0*prec*rec/(prec + rec) ELSE 0.0 END + 5e-11, 4) AS f1,
  round((alerts - tp)::DOUBLE/(nn - p) + 5e-11, 4) AS fpr
FROM m""",
    "q184_gini_importance" -> {
      val fs = Seq("value", "hb", "dowi")
      s"""WITH f AS ($featSql),
${fs.map(f => stumpCand(f)).mkString(",\n")},
allc AS MATERIALIZED (
  SELECT feature, threshold, round(gini + 5e-11, 4) AS g
  FROM (${fs.map(f => s"SELECT * FROM cand_$f").mkString(" UNION ALL ")})),
best AS (SELECT feature, min(g) AS best_gini FROM allc GROUP BY 1),
bt AS (
  SELECT a.feature, b.best_gini, min(a.threshold) AS best_threshold
  FROM allc a JOIN best b ON a.feature = b.feature AND a.g = b.best_gini
  GROUP BY 1, 2),
par AS (
  SELECT 1.0 - (sum(y)::DOUBLE/count(*))*(sum(y)::DOUBLE/count(*))
    - (1.0 - sum(y)::DOUBLE/count(*))*(1.0 - sum(y)::DOUBLE/count(*)) AS pg
  FROM f),
gains AS MATERIALIZED (
  SELECT feature, best_threshold, best_gini, pg - best_gini AS gain
  FROM bt CROSS JOIN par),
tg AS (SELECT sum(gain) AS tg FROM gains)
SELECT feature, best_threshold, best_gini,
  round(gain + 5e-11, 4) AS gain,
  round(gain/tg + 5e-11, 4) AS importance
FROM gains CROSS JOIN tg"""
    },
    "q185_depth2_tree" -> {
      // replay of the greedy chain: root argmin over the full candidate
      // table, side split by the root literal, then per-side argmins on
      // the FILTERED tables (the fused Spark pass is candidate-identical
      // — ModelsSpec). All argmins share the (4dp gini, feature,
      // threshold) order.
      val fs = Seq("value", "hb", "dowi")
      val sideExpr = """(CASE root.feature
    WHEN 'value' THEN CAST(f.value AS DOUBLE)
    WHEN 'hb' THEN CAST(f.hb AS DOUBLE)
    ELSE CAST(f.dowi AS DOUBLE) END)"""
      def bestOf(src: String, name: String) =
        s"""$name AS MATERIALIZED (
  SELECT feature, threshold, round(gini + 5e-11, 4) AS gini,
    n_left, pos_left, n_right, pos_right
  FROM $src ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1)"""
      def accOf(t: String) =
        s"""round(CAST(greatest($t.pos_left, $t.n_left - $t.pos_left)
      + greatest($t.pos_right, $t.n_right - $t.pos_right) AS DOUBLE)
    / ($t.n_left + $t.n_right) + 5e-11, 4)"""
      s"""WITH f AS MATERIALIZED ($featSql),
${fs.map(f => stumpCand(f)).mkString(",\n")},
allc AS (${fs.map(f => s"SELECT * FROM cand_$f").mkString(" UNION ALL ")}),
${bestOf("allc", "root")},
fl AS MATERIALIZED (SELECT f.* FROM f, root WHERE $sideExpr <= root.threshold),
fr AS MATERIALIZED (SELECT f.* FROM f, root WHERE $sideExpr > root.threshold),
${fs.map(f => stumpCand(f, "fl", s"candl_$f")).mkString(",\n")},
alll AS (${fs.map(f => s"SELECT * FROM candl_$f").mkString(" UNION ALL ")}),
${bestOf("alll", "bestl")},
${fs.map(f => stumpCand(f, "fr", s"candr_$f")).mkString(",\n")},
allr AS (${fs.map(f => s"SELECT * FROM candr_$f").mkString(" UNION ALL ")}),
${bestOf("allr", "bestr")}
SELECT 'root' AS node, root.feature, round(root.threshold + 5e-11, 4) AS threshold,
  root.gini AS gini, root.n_left, root.pos_left, root.n_right, root.pos_right,
  round(CAST(greatest(bestl.pos_left, bestl.n_left - bestl.pos_left)
      + greatest(bestl.pos_right, bestl.n_right - bestl.pos_right)
      + greatest(bestr.pos_left, bestr.n_left - bestr.pos_left)
      + greatest(bestr.pos_right, bestr.n_right - bestr.pos_right) AS DOUBLE)
    / (root.n_left + root.n_right) + 5e-11, 4) AS acc
FROM root, bestl, bestr
UNION ALL
SELECT 'left' AS node, bestl.feature, round(bestl.threshold + 5e-11, 4) AS threshold,
  bestl.gini AS gini, bestl.n_left, bestl.pos_left, bestl.n_right, bestl.pos_right,
  ${accOf("bestl")} AS acc
FROM bestl
UNION ALL
SELECT 'right' AS node, bestr.feature, round(bestr.threshold + 5e-11, 4) AS threshold,
  bestr.gini AS gini, bestr.n_left, bestr.pos_left, bestr.n_right, bestr.pos_right,
  ${accOf("bestr")} AS acc
FROM bestr"""
    },
    "q197_depth3_tree" -> {
      // replay of the depth-3 greedy chain: the q185 recipe with one
      // more level — per depth-2 leaf, a filtered candidate table and
      // the same (4dp gini, feature, threshold) argmin. The fused
      // 4-group Spark pass is candidate-identical (ModelsSpec).
      val fs = Seq("value", "hb", "dowi")
      def sideOn(src: String, best: String) = s"""(CASE $best.feature
    WHEN 'value' THEN CAST($src.value AS DOUBLE)
    WHEN 'hb' THEN CAST($src.hb AS DOUBLE)
    ELSE CAST($src.dowi AS DOUBLE) END)"""
      def bestOf(src: String, name: String) =
        s"""$name AS MATERIALIZED (
  SELECT feature, threshold, round(gini + 5e-11, 4) AS gini,
    n_left, pos_left, n_right, pos_right
  FROM $src ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1)"""
      def cands(src: String, pfx: String) =
        fs.map(f => stumpCand(f, src, s"${pfx}_$f")).mkString(",\n") +
          s",\nall$pfx AS (${fs.map(f => s"SELECT * FROM ${pfx}_$f").mkString(" UNION ALL ")})"
      def accOf(t: String) =
        s"""round(CAST(greatest($t.pos_left, $t.n_left - $t.pos_left)
      + greatest($t.pos_right, $t.n_right - $t.pos_right) AS DOUBLE)
    / ($t.n_left + $t.n_right) + 5e-11, 4)"""
      def nodeRow(node: String, best: String) =
        s"""SELECT '$node' AS node, $best.feature, round($best.threshold + 5e-11, 4) AS threshold,
  $best.gini AS gini, $best.n_left, $best.pos_left, $best.n_right, $best.pos_right,
  ${accOf(best)} AS acc
FROM $best"""
      val grandCorrect = Seq("bestll", "bestlr", "bestrl", "bestrr").map(b =>
        s"greatest($b.pos_left, $b.n_left - $b.pos_left) + greatest($b.pos_right, $b.n_right - $b.pos_right)")
        .mkString("\n      + ")
      s"""WITH f AS MATERIALIZED ($featSql),
${cands("f", "cand")},
${bestOf("allcand", "root")},
fl AS MATERIALIZED (SELECT f.* FROM f, root WHERE ${sideOn("f", "root")} <= root.threshold),
fr AS MATERIALIZED (SELECT f.* FROM f, root WHERE ${sideOn("f", "root")} > root.threshold),
${cands("fl", "candl")},
${bestOf("allcandl", "bestl")},
${cands("fr", "candr")},
${bestOf("allcandr", "bestr")},
fll AS MATERIALIZED (SELECT fl.* FROM fl, bestl WHERE ${sideOn("fl", "bestl")} <= bestl.threshold),
flr AS MATERIALIZED (SELECT fl.* FROM fl, bestl WHERE ${sideOn("fl", "bestl")} > bestl.threshold),
frl AS MATERIALIZED (SELECT fr.* FROM fr, bestr WHERE ${sideOn("fr", "bestr")} <= bestr.threshold),
frr AS MATERIALIZED (SELECT fr.* FROM fr, bestr WHERE ${sideOn("fr", "bestr")} > bestr.threshold),
${cands("fll", "candll")},
${bestOf("allcandll", "bestll")},
${cands("flr", "candlr")},
${bestOf("allcandlr", "bestlr")},
${cands("frl", "candrl")},
${bestOf("allcandrl", "bestrl")},
${cands("frr", "candrr")},
${bestOf("allcandrr", "bestrr")}
SELECT 'root' AS node, root.feature, round(root.threshold + 5e-11, 4) AS threshold,
  root.gini AS gini, root.n_left, root.pos_left, root.n_right, root.pos_right,
  round(CAST($grandCorrect AS DOUBLE)
    / (root.n_left + root.n_right) + 5e-11, 4) AS acc
FROM root, bestll, bestlr, bestrl, bestrr
UNION ALL
${nodeRow("left", "bestl")}
UNION ALL
${nodeRow("right", "bestr")}
UNION ALL
${nodeRow("ll", "bestll")}
UNION ALL
${nodeRow("lr", "bestlr")}
UNION ALL
${nodeRow("rl", "bestrl")}
UNION ALL
${nodeRow("rr", "bestrr")}"""
    },
    "q198_mini_forest" -> {
      // per-tree replay: md5 row subsample of the 80% train slice, the
      // tree's 2-feature root argmin, side tables by the root literal,
      // per-side argmins; then every tree's vote as a nested CASE over
      // the held-out slice. The fused 2-pass Spark fit is per-group
      // candidate-identical (ModelsSpec).
      val allF = Seq("value", "hb", "dowi")
      val trees = 5
      def featsOf(t: Int) = allF.patch(t % allF.size, Nil, 1)
      def sideOn(src: String, best: String) = s"""(CASE $best.feature
    WHEN 'value' THEN CAST($src.value AS DOUBLE)
    WHEN 'hb' THEN CAST($src.hb AS DOUBLE)
    ELSE CAST($src.dowi AS DOUBLE) END)"""
      def bestOf(src: String, name: String) =
        s"""$name AS MATERIALIZED (
  SELECT feature, threshold, round(gini + 5e-11, 4) AS gini,
    n_left, pos_left, n_right, pos_right
  FROM $src ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1)"""
      val treeCtes = (0 until trees).map { t =>
        val fsT = featsOf(t)
        def cands(src: String, tag: String) =
          fsT.map(f => stumpCand(f, src, s"c$t${tag}_$f")).mkString(",\n") +
            s",\nall$t$tag AS (${fsT.map(f => s"SELECT * FROM c$t${tag}_$f").mkString(" UNION ALL ")})"
        s"""tr$t AS MATERIALIZED (
  SELECT * FROM trn
  WHERE ('0x' || substr(md5('rf$t:' || event_id), 1, 8))::UBIGINT % 3 <> 0),
${cands(s"tr$t", "r")},
${bestOf(s"all${t}r", s"root$t")},
fl$t AS MATERIALIZED (SELECT tr$t.* FROM tr$t, root$t WHERE ${sideOn(s"tr$t", s"root$t")} <= root$t.threshold),
fr$t AS MATERIALIZED (SELECT tr$t.* FROM tr$t, root$t WHERE ${sideOn(s"tr$t", s"root$t")} > root$t.threshold),
${cands(s"fl$t", "l")},
${bestOf(s"all${t}l", s"bestl$t")},
${cands(s"fr$t", "c")},
${bestOf(s"all${t}c", s"bestr$t")}"""
      }.mkString(",\n")
      def leaf(b: String, side: String) =
        s"(CASE WHEN $b.pos_$side*2 > $b.n_$side THEN 1 ELSE 0 END)"
      def vote(t: Int) =
        s"""CASE WHEN ${sideOn("vld", s"root$t")} <= root$t.threshold
      THEN (CASE WHEN ${sideOn("vld", s"bestl$t")} <= bestl$t.threshold
        THEN ${leaf(s"bestl$t", "left")} ELSE ${leaf(s"bestl$t", "right")} END)
      ELSE (CASE WHEN ${sideOn("vld", s"bestr$t")} <= bestr$t.threshold
        THEN ${leaf(s"bestr$t", "left")} ELSE ${leaf(s"bestr$t", "right")} END) END"""
      val joins = (0 until trees)
        .map(t => s" CROSS JOIN root$t CROSS JOIN bestl$t CROSS JOIN bestr$t").mkString
      val vsum = (0 until trees).map(t => s"v$t").mkString(" + ")
      val rows = (0 until trees).map(t =>
        s"""SELECT $t AS tree, root$t.feature, round(root$t.threshold + 5e-11, 4) AS threshold,
  root$t.gini AS gini,
  bestl$t.feature AS feature_l, round(bestl$t.threshold + 5e-11, 4) AS threshold_l,
  bestr$t.feature AS feature_r, round(bestr$t.threshold + 5e-11, 4) AS threshold_r,
  a.acc$t AS tree_val_acc, a.ens_acc AS ens_val_acc,
  round(u.auc + 5e-11, 4) AS ens_val_auc, a.n_val
FROM a CROSS JOIN u CROSS JOIN root$t CROSS JOIN bestl$t CROSS JOIN bestr$t""")
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5('rf:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM fb),
trn AS MATERIALIZED (SELECT * FROM fp WHERE vb5 <> 0),
vld AS MATERIALIZED (SELECT * FROM fp WHERE vb5 = 0),
$treeCtes,
sc AS MATERIALIZED (
  SELECT vld.y, ${(0 until trees).map(t => s"(${vote(t)}) AS v$t").mkString(",\n    ")}
  FROM vld$joins),
scv AS (SELECT y, CAST($vsum AS DOUBLE) AS s FROM sc),
${sqlAuc("u", "scv", "s")},
a AS (SELECT count(*) AS n_val,
  round(avg(CASE WHEN (CASE WHEN $vsum >= 3 THEN 1 ELSE 0 END) = y THEN 1.0 ELSE 0.0 END) + 5e-11, 4) AS ens_acc,
  ${(0 until trees).map(t => s"round(avg(CASE WHEN v$t = y THEN 1.0 ELSE 0.0 END) + 5e-11, 4) AS acc$t").mkString(",\n  ")}
  FROM sc)
${rows.mkString("\nUNION ALL\n")}"""
    },
    "q199_tree_shap" -> {
      // the q180 chain replay + ONE population aggregate (per-stump left
      // counts) -> closed-form additive SHAP: phi terms are CASE-guarded
      // over every round (the oracle can't know the fitted features at
      // SQL-build time); the Spark fold mirrors the same j-ordered sum
      // with literal-0 non-matching terms, so every unrounded
      // intermediate is bit-identical.
      val T = 3
      val scJoins = (1 to T).map(j => s" CROSS JOIN best$j b$j").mkString
      val clCols = (1 to T).map(j =>
        s",\n    sum(CASE WHEN ${gbFv(j, "fb")} <= b$j.t THEN 1 ELSE 0 END) AS cl$j").mkString
      val egDefs = (1 to T).map(j =>
        s"(pop.cl$j*b$j.vl + (pop.n - pop.cl$j)*b$j.vr)/pop.n AS eg$j").mkString(",\n    ")
      def gTerm(j: Int) = s"(CASE WHEN ${gbFv(j, "fb")} <= b$j.t THEN b$j.vl ELSE b$j.vr END)"
      def phiExpr(fname: String) = (1 to T).map(j =>
        s"(CASE WHEN b$j.f = '$fname' THEN ${gTerm(j)} - e.eg$j ELSE 0.0 END)")
        .mkString("0.0 + ", " + ", "")
      s"""WITH fb AS MATERIALIZED ($featSql),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
${gbRoundCtes(T, "fb")},
pop AS (
  SELECT count(*) AS n$clCols
  FROM fb$scJoins),
e AS (
  SELECT ${egDefs}
  FROM pop$scJoins),
sc AS MATERIALIZED (
  SELECT fb.event_id,
    ${gbScoreExpr(T, "fb")} AS s,
    f0.v + e.eg1 + e.eg2 + e.eg3 AS b,
    ${phiExpr("value")} AS pv,
    ${phiExpr("hb")} AS ph,
    ${phiExpr("dowi")} AS pd
  FROM fb CROSS JOIN f0 CROSS JOIN e$scJoins)
SELECT event_id, ${sqlR4("s")} AS score, ${sqlR4("b")} AS base_value,
  ${sqlR4("pv")} AS phi_value, ${sqlR4("ph")} AS phi_hb, ${sqlR4("pd")} AS phi_dowi,
  CASE WHEN abs(${sqlR4("pv")}) >= abs(${sqlR4("ph")}) AND abs(${sqlR4("pv")}) >= abs(${sqlR4("pd")}) THEN 'value'
       WHEN abs(${sqlR4("ph")}) >= abs(${sqlR4("pd")}) THEN 'hb'
       ELSE 'dowi' END AS top_factor,
  ${sqlR4("s - b - pv - ph - pd")} AS additivity_gap
FROM sc"""
    },
    "q201_boosted_trees" -> {
      val T = 2
      val joins = gbtJoins(T + 1) // all rounds' broot/bl/br
      val outCols = (1 to T).map(t =>
        s"""broot$t.f AS rf$t, round(broot$t.t + 5e-11, 4) AS rt$t,
  bl$t.f AS lf$t, round(bl$t.t + 5e-11, 4) AS lt$t,
  br$t.f AS gf$t, round(br$t.t + 5e-11, 4) AS gt$t,
  bl$t.vl AS v0_$t, bl$t.vr AS v1_$t, br$t.vl AS v2_$t, br$t.vr AS v3_$t""")
        .mkString(",\n  ")
      s"""WITH fb AS MATERIALIZED ($featSql),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
${(1 to T).map(t => gbtRound(t, "fb")).mkString(",\n")},
sc AS MATERIALIZED (
  SELECT fb.y, ${gbtScore(T, "fb")} AS s
  FROM fb CROSS JOIN f0$joins),
a AS (SELECT count(*) AS n,
    round(avg((y - s)*(y - s)) + 5e-11, 4) AS train_mse FROM sc),
${sqlAuc("u", "sc", "s")}
SELECT a.n, f0.v AS f0,
  $outCols,
  a.train_mse, round(u.auc + 5e-11, 4) AS train_auc
FROM a CROSS JOIN u CROSS JOIN f0$joins"""
    },
    "q214_deep_tree_shap" -> {
      // the q201 chain replay + ONE population-count row -> per-slot
      // interventional Shapley as literal arithmetic; every expression
      // mirrors scoring/TreeShap's fold order exactly, with slot
      // attribution CASE-guarded on the fitted feature names.
      val T = 2
      val joins = gbtJoins(T + 1)
      def fvA(t: Int) = gbtFv(s"broot$t", "fb")
      def fvB(t: Int) = gbtFv(s"bl$t", "fb")
      def fvC(t: Int) = gbtFv(s"br$t", "fb")
      def popCounts(t: Int): String = {
        val (xa, xb, xc) = (s"${fvA(t)} <= broot$t.t",
          s"${fvB(t)} <= bl$t.t", s"${fvC(t)} <= br$t.t")
        s"""sum(CASE WHEN $xa THEN 1 ELSE 0 END) AS naL_$t,
    sum(CASE WHEN $xb THEN 1 ELSE 0 END) AS nbL_$t,
    sum(CASE WHEN $xc THEN 1 ELSE 0 END) AS ncL_$t,
    sum(CASE WHEN ($xa) AND ($xb) THEN 1 ELSE 0 END) AS nabLL_$t,
    sum(CASE WHEN (NOT ($xa)) AND ($xc) THEN 1 ELSE 0 END) AS nacGL_$t"""
      }
      // per-round textual twins of TreeShap.roundPhis
      def sqlRound(t: Int): (String, String, String, String, String) = {
        val (v0, v1, v2, v3) = (s"bl$t.vl", s"bl$t.vr", s"br$t.vl", s"br$t.vr")
        val xa = s"${fvA(t)} <= broot$t.t"
        val xb = s"${fvB(t)} <= bl$t.t"
        val xc = s"${fvC(t)} <= br$t.t"
        val vLx = s"(CASE WHEN $xb THEN $v0 ELSE $v1 END)"
        val vRx = s"(CASE WHEN $xc THEN $v2 ELSE $v3 END)"
        val fx = s"(CASE WHEN $xa THEN $vLx ELSE $vRx END)"
        val (naL, nbL, ncL, nab, nac, n) = (s"pop.naL_$t", s"pop.nbL_$t",
          s"pop.ncL_$t", s"pop.nabLL_$t", s"pop.nacGL_$t", "pop.nn")
        val e0 = s"(($nab*$v0 + ($naL - $nab)*$v1 + $nac*$v2 + ($n - $naL - $nac)*$v3) / $n)"
        val eL = s"(($nbL*$v0 + ($n - $nbL)*$v1) / $n)"
        val eR = s"(($ncL*$v2 + ($n - $ncL)*$v3) / $n)"
        val eA = s"(CASE WHEN $xa THEN $eL ELSE $eR END)"
        val eB = s"(($naL*$vLx + $nac*$v2 + ($n - $naL - $nac)*$v3) / $n)"
        val eC = s"(($nab*$v0 + ($naL - $nab)*$v1 + ($n - $naL)*$vRx) / $n)"
        val eAB = s"(CASE WHEN $xa THEN $vLx ELSE $eR END)"
        val eAC = s"(CASE WHEN $xa THEN $eL ELSE $vRx END)"
        val eBC = s"(($naL*$vLx + ($n - $naL)*$vRx) / $n)"
        def phi(s1: String, s0: String, d1a: String, d1b: String,
            d0a: String, d0b: String, s3: String, s2: String) =
          s"(($s1 - $s0)/3 + ($d1a - $d1b)/6 + ($d0a - $d0b)/6 + ($s3 - $s2)/3)"
        (phi(eA, e0, eAB, eB, eAC, eC, fx, eBC),
          phi(eB, e0, eAB, eA, eBC, eC, fx, eAC),
          phi(eC, e0, eAC, eA, eBC, eB, fx, eAB), e0, fx)
      }
      val rounds = (1 to T).map(t => t -> sqlRound(t)).toMap
      def phiExpr(fname: String): String =
        (1 to T).map { t =>
          val (pa, pb, pc, _, _) = rounds(t)
          s"""(CASE WHEN broot$t.f = '$fname' THEN $pa ELSE 0.0 END) + (CASE WHEN bl$t.f = '$fname' THEN $pb ELSE 0.0 END) + (CASE WHEN br$t.f = '$fname' THEN $pc ELSE 0.0 END)"""
        }.mkString("0.0 + ", " + ", "")
      val scoreExpr = (1 to T).map(t => rounds(t)._5).mkString("f0.v + ", " + ", "")
      val baseExpr = (1 to T).map(t => rounds(t)._4).mkString("f0.v + ", " + ", "")
      s"""WITH fb AS MATERIALIZED ($featSql),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
${(1 to T).map(t => gbtRound(t, "fb")).mkString(",\n")},
pop AS (
  SELECT count(*) AS nn,
    ${(1 to T).map(popCounts).mkString(",\n    ")}
  FROM fb$joins),
sc AS MATERIALIZED (
  SELECT fb.event_id,
    $scoreExpr AS s,
    $baseExpr AS b,
    ${phiExpr("value")} AS pv,
    ${phiExpr("hb")} AS ph,
    ${phiExpr("dowi")} AS pd
  FROM fb CROSS JOIN f0 CROSS JOIN pop$joins)
SELECT event_id, ${sqlR4("s")} AS score, ${sqlR4("b")} AS base_value,
  ${sqlR4("pv")} AS phi_value, ${sqlR4("ph")} AS phi_hb, ${sqlR4("pd")} AS phi_dowi,
  CASE WHEN abs(${sqlR4("pv")}) >= abs(${sqlR4("ph")}) AND abs(${sqlR4("pv")}) >= abs(${sqlR4("pd")}) THEN 'value'
       WHEN abs(${sqlR4("ph")}) >= abs(${sqlR4("pd")}) THEN 'hb'
       ELSE 'dowi' END AS top_factor,
  ${sqlR4("s - b - pv - ph - pd")} AS additivity_gap
FROM sc"""
    },
    "q212_performance_history" -> {
      s"""WITH b AS (SELECT max(epoch_us(ts)) AS max_tm FROM events),
wk AS (
  SELECT CAST(floor((max_tm - epoch_us(ts)) / 604800000000) AS BIGINT) AS week,
    value AS sc, CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y
  FROM events CROSS JOIN b),
r AS (SELECT week, y,
    rank() OVER (PARTITION BY week ORDER BY sc) + (count(*) OVER (PARTITION BY week, sc) - 1)/2.0 AS midrank
  FROM wk),
pp AS (SELECT week,
    CASE WHEN sum(y) > 0 AND sum(y) < count(*) THEN
      (sum(CASE WHEN y = 1 THEN midrank END) - sum(y)*(sum(y) + 1)/2.0)
        / (sum(y)*(count(*) - sum(y))) END AS auc
  FROM r GROUP BY week),
cf AS (SELECT week, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
    sum(CASE WHEN sc > 100.0 AND y = 1 THEN 1 ELSE 0 END) AS tp,
    sum(CASE WHEN sc > 100.0 AND y = 0 THEN 1 ELSE 0 END) AS fp,
    sum(CASE WHEN NOT (sc > 100.0) AND y = 1 THEN 1 ELSE 0 END) AS fn
  FROM wk GROUP BY week),
per AS (SELECT cf.*, pp.auc FROM cf JOIN pp USING (week)),
pri AS (SELECT week - 1 AS week, auc AS prev FROM per),
mn AS (SELECT min(${sqlR4("auc")}) AS mn FROM per)
SELECT p.week, p.n, p.n_pos, ${sqlR4("p.auc")} AS auc,
  ${sqlR4("(p.n - p.fp - p.fn)::DOUBLE / p.n")} AS accuracy,
  ${sqlR4("CASE WHEN p.tp + p.fp > 0 THEN p.tp::DOUBLE / (p.tp + p.fp) END")} AS prec,
  ${sqlR4("CASE WHEN p.tp + p.fn > 0 THEN p.tp::DOUBLE / (p.tp + p.fn) END")} AS rec,
  ${sqlR4("CASE WHEN 2*p.tp + p.fp + p.fn > 0 THEN 2.0*p.tp / (2*p.tp + p.fp + p.fn) END")} AS f1,
  ${sqlR4("p.auc - pri.prev")} AS delta_auc,
  CASE WHEN pri.prev IS NOT NULL THEN pri.prev - p.auc > 0.05 ELSE false END AS degraded,
  coalesce(${sqlR4("p.auc")} = mn.mn, false) AS is_worst
FROM per p LEFT JOIN pri USING (week) CROSS JOIN mn"""
    },
    "q211_halving_search" -> {
      // ONE 12-iteration chain per trial serves every rung (a
      // refit-from-zero at 3/6 iterations IS the 12-chain's prefix);
      // rung survival via triangular rank predicates on the raw
      // midrank AUC, so non-surviving rows never surface their deeper
      // cells even though the oracle computes them.
      val feats = Seq("value", "hb", "dowi")
      val idx = feats.indices
      def chain(t: Int): String =
        s"t$t AS (SELECT lr FROM trl WHERE t = $t),\n" +
          sqlGd(s"g${t}_", "d", idx, 12, s"(SELECT lr FROM trl WHERE t = $t)")
      def aucBlock(t: Int, it: Int): String =
        s"""sc_${t}_$it AS (SELECT d.y, ${sqlMargin(s"g${t}_$it", idx)} AS sv FROM dv d, g${t}_$it),
${sqlAuc(s"au_${t}_$it", s"sc_${t}_$it", "sv")}"""
      val cellRows = (0 until 6).map(t =>
        s"""SELECT $t AS trial, tt.lr, au_${t}_3.auc AS a1, au_${t}_6.auc AS a2, au_${t}_12.auc AS a3
FROM au_${t}_3, au_${t}_6, au_${t}_12, t$t tt""").mkString("\nUNION ALL\n")
      def better(a: String, b: String, t2: String, t1: String) =
        s"(coalesce($a,-1.0) > coalesce($b,-1.0) OR (coalesce($a,-1.0) = coalesce($b,-1.0) AND $t2 < $t1))"
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT event_id, CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
    CAST(dowi AS DOUBLE) AS x2, y::DOUBLE AS y,
    ('0x' || substr(md5('rsval:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM fb),
trl AS (
  SELECT t, round(0.05 + 1.95*(((('0x' || substr(md5('lr:' || t), 1, 8))::UBIGINT % 10000))/10000.0) + 5e-11, 4) AS lr
  FROM (SELECT unnest(range(6)) AS t)),
tr AS (SELECT * FROM fp WHERE vb5 <> 0),
s AS (SELECT ${sqlStats(idx)} FROM tr),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr, s),
dv AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM fp WHERE vb5 = 0) t, s),
${(0 until 6).map(chain).mkString(",\n")},
${(for { t <- 0 until 6; it <- Seq(3, 6, 12) } yield aucBlock(t, it)).mkString(",\n")},
cells AS MATERIALIZED (
$cellRows),
rk1 AS MATERIALIZED (
  SELECT c.trial, c.lr, c.a1, c.a2, c.a3,
    sum(CASE WHEN ${better("c2.a1", "c.a1", "c2.trial", "c.trial")} THEN 1 ELSE 0 END) AS nb1
  FROM cells c CROSS JOIN cells c2
  GROUP BY c.trial, c.lr, c.a1, c.a2, c.a3),
rk2 AS MATERIALIZED (
  SELECT r.trial, r.lr, r.a1, r.a2, r.a3, r.nb1,
    sum(CASE WHEN c2.nb1 < 3 AND ${better("c2.a2", "r.a2", "c2.trial", "r.trial")} THEN 1 ELSE 0 END) AS nb2
  FROM rk1 r CROSS JOIN rk1 c2
  GROUP BY r.trial, r.lr, r.a1, r.a2, r.a3, r.nb1)
SELECT CAST(trial AS BIGINT) AS trial, lr,
  CAST(CASE WHEN nb1 < 3 AND nb2 = 0 THEN 3 WHEN nb1 < 3 THEN 2 ELSE 1 END AS BIGINT) AS rung_reached,
  ${sqlR4("a1")} AS auc_r1,
  CASE WHEN nb1 < 3 THEN ${sqlR4("a2")} END AS auc_r2,
  CASE WHEN nb1 < 3 AND nb2 = 0 THEN ${sqlR4("a3")} END AS auc_r3,
  (nb1 < 3 AND nb2 = 0) AS selected
FROM rk2""" },
    "q210_rfe" -> {
      // the plain fit, then two masked unrolled-GD chains: the argmin
      // scalar d1/d2 pins a dropped feature's weight to literal 0.0 inside
      // each update CASE (arithmetically identical to refitting without
      // the feature);
      // argmins compare 4dp |weights| with lowest-index tie-break,
      // mirroring the Scala minBy.
      val idx = 0 until 4
      def chain(sfx: String, iters: Int, masks: Seq[String]): String = {
        val mjoin = masks.map(m => s", $m").mkString
        def isDropped(j: Int) = masks.map(m => s"$m.d = $j").mkString(" OR ")
        val i0 = s"i0_$sfx AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
        val its = (1 to iters).map { k =>
          val p = s"1.0/(1.0 + exp(-(${sqlMargin("i", idx)})))"
          val upd = idx.map(i =>
            s"CASE WHEN ${isDropped(i)} THEN 0.0 ELSE i.w$i - 0.5*avg(($p - d.y) * d.x$i) END AS w$i")
            .mkString(",\n    ") + s",\n    i.b - 0.5*avg($p - d.y) AS b"
          val grp = idx.map(i => s"i.w$i").mkString(", ") + ", i.b" +
            masks.map(m => s", $m.d").mkString
          s"i${k}_$sfx AS MATERIALIZED (SELECT $upd\n  FROM d, i${k - 1}_$sfx i$mjoin GROUP BY $grp)"
        }.mkString(",\n")
        s"$i0,\n$its"
      }
      def absW(src: String, j: Int) = s"abs(round($src.w$j + 5e-11, 4))"
      def argminCte(name: String, src: String, masks: Seq[String]): String = {
        def a(j: Int) =
          if (masks.isEmpty) absW(src, j)
          else s"CASE WHEN ${masks.map(m => s"$m.d = $j").mkString(" OR ")} THEN 'infinity'::DOUBLE ELSE ${absW(src, j)} END"
        val sels = (0 until 4).map(j => s"${a(j)} AS a$j").mkString(", ")
        val from = (src +: masks).mkString(", ")
        s"""$name AS (
  SELECT CASE WHEN a0 <= a1 AND a0 <= a2 AND a0 <= a3 THEN 0
              WHEN a1 <= a2 AND a1 <= a3 THEN 1
              WHEN a2 <= a3 THEN 2 ELSE 3 END AS d
  FROM (SELECT $sels FROM $from))"""
      }
      val fnames = Seq("value", "hb", "dowi", "vb")
      val rows = fnames.zipWithIndex.map { case (f, j) =>
        s"""SELECT '$f' AS feature,
  ($j <> d1.d AND $j <> d2.d) AS selected,
  CAST(CASE WHEN $j = d1.d THEN 1 WHEN $j = d2.d THEN 2 ELSE 0 END AS BIGINT) AS elim_round,
  CAST(CASE WHEN $j = d1.d THEN 3 WHEN $j = d2.d THEN 2 ELSE 1 END AS BIGINT) AS ranking,
  CASE WHEN $j = d1.d OR $j = d2.d THEN 0.0 ELSE round(w.w$j + 5e-11, 4) END AS final_weight
FROM i6_c w, d1, d2"""
      }.mkString("\nUNION ALL\n")
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
    CAST(dowi AS DOUBLE) AS x2, CAST(vb AS DOUBLE) AS x3, y::DOUBLE AS y
  FROM fb),
s AS (SELECT ${sqlStats(idx)} FROM fp),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM fp, s),
${sqlGd("ia", "d", idx, 6, "0.5")},
${argminCte("d1", "ia6", Nil)},
${chain("b", 6, Seq("d1"))},
${argminCte("d2", "i6_b", Seq("d1"))},
${chain("c", 6, Seq("d1", "d2"))}
$rows"""
    },
    "q207_random_search" -> {
      // per-trial unrolled-GD chains (the q183 technique) with the
      // learning rate flowing from a trials CTE (derived from the SAME
      // md5 bits as the Scala draw, so no double-to-string round trip);
      // trial iteration counts are builder-computed integers. Ranks and
      // Spearman importances replay the exact triangular-midrank /
      // moment formulas.
      val feats = Seq("value", "hb", "dowi")
      val idx = feats.indices
      val trialIts = (0 until 6).map(t => 3 + graft.scale.Splits.bucketLocal("it", t.toString, 10).toInt)
      def chain(t: Int): String =
        s"t$t AS (SELECT lr FROM trl WHERE t = $t),\n" +
          sqlGd(s"g${t}_", "d", idx, trialIts(t), s"(SELECT lr FROM trl WHERE t = $t)")
      def cell(t: Int): String = {
        val w = s"g${t}_${trialIts(t)}"
        s"""sc_$t AS (SELECT d.y, ${sqlMargin(w, idx)} AS sv FROM dv d, $w),
${sqlAuc(s"au_$t", s"sc_$t", "sv")}"""
      }
      def cellRow(t: Int): String = {
        val w = s"g${t}_${trialIts(t)}"
        val ws = feats.zipWithIndex.map { case (c, i) =>
          s"${sqlR4(s"$w.w$i")} AS w_$c" }.mkString(", ")
        s"""SELECT $t AS trial, tt.lr, ${trialIts(t)} AS iters, a.n AS n_val, a.auc AS aucr, ${sqlR4("a.auc")} AS auc,
  ${sqlR4(s"$w.b")} AS intercept, $ws
FROM au_$t a, $w, t$t tt"""
      }
      def mrk(v: String) =
        s"sum(CASE WHEN c2.$v < c.$v THEN 1 ELSE 0 END) + (sum(CASE WHEN c2.$v = c.$v THEN 1 ELSE 0 END) + 1)/2.0"
      def spear(sx: String, sxx: String, sxa: String) =
        s"""CASE WHEN n*$sxx - $sx*$sx > 0 AND n*saa - sa*sa > 0 THEN
    abs((n*$sxa - $sx*sa)/(sqrt(n*$sxx - $sx*$sx)*sqrt(n*saa - sa*sa))) END"""
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2,
    y::DOUBLE AS y,
    ('0x' || substr(md5('rsval:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM fb),
trl AS (
  SELECT t, round(0.05 + 1.95*(((('0x' || substr(md5('lr:' || t), 1, 8))::UBIGINT % 10000))/10000.0) + 5e-11, 4) AS lr
  FROM (SELECT unnest(range(6)) AS t)),
tr AS (SELECT * FROM fp WHERE vb5 <> 0),
s AS (SELECT ${sqlStats(idx)} FROM tr),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr, s),
dv AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM fp WHERE vb5 = 0) t, s),
${(0 until 6).map(chain).mkString(",\n")},
${(0 until 6).map(cell).mkString(",\n")},
cells AS MATERIALIZED (
${(0 until 6).map(cellRow).mkString("\nUNION ALL\n")}),
rks AS MATERIALIZED (
  SELECT c.trial, c.lr, c.iters, c.n_val, c.auc, c.intercept, c.w_value, c.w_hb, c.w_dowi,
    ${mrk("lr")} AS r_lr,
    ${mrk("iters")} AS r_it,
    ${mrk("aucr")} AS r_auc,
    sum(CASE WHEN c2.aucr > c.aucr OR (c2.aucr = c.aucr AND c2.trial < c.trial) THEN 1 ELSE 0 END) AS nb
  FROM cells c CROSS JOIN cells c2
  GROUP BY c.trial, c.lr, c.iters, c.n_val, c.aucr, c.auc, c.intercept, c.w_value, c.w_hb, c.w_dowi),
sp AS (SELECT count(*)::DOUBLE AS n, sum(r_lr) AS sl, sum(r_it) AS si, sum(r_auc) AS sa,
    sum(r_lr*r_auc) AS sla, sum(r_it*r_auc) AS sia, sum(r_lr*r_lr) AS sll,
    sum(r_it*r_it) AS sii, sum(r_auc*r_auc) AS saa
  FROM rks),
imp AS (SELECT
  ${spear("sl", "sll", "sla")} AS implr,
  ${spear("si", "sii", "sia")} AS impit
  FROM sp)
SELECT r.trial, r.lr, r.iters, r.n_val, r.auc, r.intercept, r.w_value, r.w_hb, r.w_dowi,
  r.nb = 0 AS is_best,
  round(imp.implr + 5e-11, 4) AS imp_lr, round(imp.impit + 5e-11, 4) AS imp_iters
FROM rks r CROSS JOIN imp"""
    },
    "q206_learning_cycle" -> {
      // q43's drift CTEs + the recent-slice feature projection + the
      // q167 NB replay on the md5 train/test split + two mid-rank AUCs
      // over the shared held-out slice; gates combined in the
      // reference's priority order.
      val fs = Seq("hb", "dowi", "vb")
      val gates = s"st.n_feedback >= 100 AND (dr.drift_detected OR ${sqlR4("st.acc")} < 0.85)"
      s"""WITH b AS (SELECT max(epoch_us(ts)) AS max_tm FROM events),
t AS (
  SELECT CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y, value AS s,
    CASE WHEN epoch_us(ts) > max_tm - 604800000000 THEN 'recent'
         WHEN epoch_us(ts) > max_tm - 1209600000000 THEN 'prior' END AS period
  FROM events CROSS JOIN b),
tt AS (SELECT * FROM t WHERE period IS NOT NULL),
rk AS (SELECT period, y,
    rank() OVER (PARTITION BY period ORDER BY s) + (count(*) OVER (PARTITION BY period, s) - 1)/2.0 AS midrank
  FROM tt),
pp AS (SELECT period,
    (sum(CASE WHEN y = 1 THEN midrank END) - sum(y)*(sum(y) + 1)/2.0)
      / (sum(y)*(count(*) - sum(y))) AS auc,
    count(*) AS n
  FROM rk GROUP BY period),
dr AS (
  SELECT rec.auc AS auc_recent, pri.auc AS auc_prior,
    pri.auc - rec.auc AS degradation,
    (rec.n + pri.n >= 50 AND rec.n >= 20 AND pri.n >= 20 AND pri.auc - rec.auc > 0.05) AS drift_detected
  FROM (SELECT * FROM pp WHERE period = 'recent') rec
  CROSS JOIN (SELECT * FROM pp WHERE period = 'prior') pri),
rec AS MATERIALIZED (
  SELECT event_id, hour(ts) AS hb,
    (epoch_us(ts) // 86400000000) % 7 AS dowi,
    least(CAST(floor(value/100) AS BIGINT), 5) AS vb, value,
    CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS y,
    ('0x' || substr(md5('retrain:' || event_id), 1, 8))::UBIGINT % 5 AS rb5
  FROM events CROSS JOIN b
  WHERE epoch_us(ts) > max_tm - 604800000000),
st AS (SELECT count(*) AS n_feedback,
  avg(CASE WHEN (value > 100.0) = (y = 1) THEN 1.0 ELSE 0.0 END) AS acc FROM rec),
tr AS (SELECT * FROM rec WHERE rb5 <> 0),
te AS (SELECT * FROM rec WHERE rb5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
scnb AS (
  SELECT te.y,
    ln(pr.n1/pr.n0) + ${fs.map(nbTerm).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")}),
${sqlAuc("uo", "te", "value")},
${sqlAuc("unw", "scnb", "delta")}
SELECT st.n_feedback,
  ${sqlR4("dr.auc_recent")} AS auc_recent, ${sqlR4("dr.auc_prior")} AS auc_prior,
  ${sqlR4("dr.degradation")} AS degradation, dr.drift_detected,
  ${sqlR4("st.acc")} AS feedback_accuracy,
  ($gates) AS should_retrain,
  CASE WHEN NOT st.n_feedback >= 100 THEN 'insufficient_feedback'
       WHEN dr.drift_detected THEN 'performance_drift'
       WHEN ${sqlR4("st.acc")} < 0.85 THEN 'low_accuracy'
       ELSE 'no_retraining_needed' END AS reason,
  ${sqlR4("uo.auc")} AS old_auc, ${sqlR4("unw.auc")} AS new_auc,
  ${sqlR4("unw.auc - uo.auc")} AS improvement,
  (($gates) AND ${sqlR4("unw.auc - uo.auc")} > 0) AS promote
FROM st CROSS JOIN dr CROSS JOIN uo CROSS JOIN unw"""
    },
    "q205_lime_local" -> {
      // masked-pattern replay of the q201 chain: 8 factorial score
      // expressions per row (identical CASE structure, identical fold
      // order), closed-form betas as signed p-ordered sums, fidelity
      // R^2 from the same left-associative squared-residual folds.
      val T = 2
      val joins = gbtJoins(T + 1)
      def bit(p: Int, j: Int): Boolean = ((p >> j) & 1) == 1
      def mv(p: Int) = if (bit(p, 0)) "CAST(fb.value AS DOUBLE)" else "bg.bgv"
      def mh(p: Int) = if (bit(p, 1)) "CAST(fb.hb AS DOUBLE)" else "bg.bgh"
      def md(p: Int) = if (bit(p, 2)) "CAST(fb.dowi AS DOUBLE)" else "bg.bgd"
      def mFv(cte: String, p: Int) =
        s"""(CASE WHEN $cte.f = 'value' THEN ${mv(p)}
      WHEN $cte.f = 'hb' THEN ${mh(p)}
      ELSE ${md(p)} END)"""
      def mScore(p: Int) = (1 to T).map(j =>
        s"""(CASE WHEN ${mFv(s"broot$j", p)} <= broot$j.t
    THEN (CASE WHEN ${mFv(s"bl$j", p)} <= bl$j.t THEN bl$j.vl ELSE bl$j.vr END)
    ELSE (CASE WHEN ${mFv(s"br$j", p)} <= br$j.t THEN br$j.vl ELSE br$j.vr END) END)""")
        .mkString("f0.v + ", " + ", "")
      def sgnStr(p: Int, j: Int) = if (bit(p, j)) "+" else "-"
      def betaSql(j: Int) =
        "(" + (1 until 8).foldLeft("-s0")((acc, p) =>
          s"$acc ${sgnStr(p, j)} s$p") + ")/8"
      def fittedSql(p: Int) =
        s"(b ${sgnStr(p, 0)} b0 ${sgnStr(p, 1)} b1 ${sgnStr(p, 2)} b2)"
      val sse = (0 until 8).map(p =>
        s"(s$p - ${fittedSql(p)})*(s$p - ${fittedSql(p)})").mkString(" + ")
      val sst = (0 until 8).map(p => s"(s$p - b)*(s$p - b)").mkString(" + ")
      val scCols = (0 until 8).map(p => s"    ${mScore(p)} AS s$p").mkString(",\n")
      s"""WITH fb AS MATERIALIZED ($featSql),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
${(1 to T).map(t => gbtRound(t, "fb")).mkString(",\n")},
bg AS (SELECT ${sqlR4("avg(value)")} AS bgv, ${sqlR4("avg(hb)")} AS bgh,
  ${sqlR4("avg(dowi)")} AS bgd FROM fb),
sc AS MATERIALIZED (
  SELECT fb.event_id,
$scCols
  FROM fb CROSS JOIN f0 CROSS JOIN bg$joins),
su AS (
  SELECT event_id, s0, s1, s2, s3, s4, s5, s6, s7,
    (s0 + s1 + s2 + s3 + s4 + s5 + s6 + s7)/8 AS b,
    ${betaSql(0)} AS b0, ${betaSql(1)} AS b1, ${betaSql(2)} AS b2
  FROM sc),
fi AS (
  SELECT event_id, s7, b, b0, b1, b2,
    $sse AS sse,
    $sst AS sst
  FROM su)
SELECT event_id, ${sqlR4("s7")} AS prediction, ${sqlR4("b")} AS intercept,
  ${sqlR4("b0")} AS lime_value, ${sqlR4("b1")} AS lime_hb, ${sqlR4("b2")} AS lime_dowi,
  ${sqlR4("b + b0 + b1 + b2")} AS local_pred,
  round(CASE WHEN sst > 0 THEN 1.0 - sse/sst ELSE 1.0 END + 5e-11, 4) AS fidelity_r2,
  CASE WHEN abs(${sqlR4("b0")}) >= abs(${sqlR4("b1")}) AND abs(${sqlR4("b0")}) >= abs(${sqlR4("b2")}) THEN 'value'
       WHEN abs(${sqlR4("b1")}) >= abs(${sqlR4("b2")}) THEN 'hb'
       ELSE 'dowi' END AS top_factor
FROM fi"""
    },
    "q200_mlp_forward" -> {
      // the identical literal net in SQL integer arithmetic: dyadic
      // weights from the same index formulas, hidden sums via
      // unnest+group (order noise << the r6 nudge), hidden rounded to
      // the quantum before the j-ordered literal output fold.
      val net = graft.scoring.Mlp.deterministic(d = 64, hidden = 8)
      val H = net.hidden
      val pivots = (0 until H).map(j => s"max(CASE WHEN j = $j THEN h END) AS h$j")
      val zExpr = (0 until H).foldLeft(net.b2.toString)((acc, j) =>
        s"$acc + (${net.w2(j)})*h$j")
      s"""WITH x AS (
  SELECT vec_id, label, CAST(i AS BIGINT) - 1 AS pos, embedding[i]::DOUBLE AS v
  FROM embeddings, unnest(range(1, 65)) AS t(i)),
w1 AS (SELECT j, pos, CAST((3*j + 5*pos + 1) % 13 - 6 AS DOUBLE)/16.0 AS w
  FROM range(8) t1(j), range(64) t2(pos)),
b1 AS (SELECT j, CAST((7*j) % 5 - 2 AS DOUBLE)/16.0 AS b FROM range(8) t3(j)),
hr AS (SELECT x.vec_id, x.label, w1.j, sum(x.v * w1.w) AS sv
  FROM x JOIN w1 USING (pos) GROUP BY 1, 2, 3),
h AS (SELECT hr.vec_id, hr.label, hr.j,
  round(greatest(0.0, b1.b + hr.sv) + 5e-11, 4) AS h
  FROM hr JOIN b1 USING (j)),
p AS (SELECT vec_id, label, ${pivots.mkString(",\n  ")} FROM h GROUP BY 1, 2),
z AS (SELECT *, $zExpr AS zz FROM p)
SELECT vec_id, label, ${(0 until H).map(j => s"h$j").mkString(", ")},
  round(zz + 5e-11, 4) AS logit,
  round(1.0/(1.0 + exp(-zz)) + 5e-11, 4) AS prob,
  round(1.0/(1.0 + exp(-zz)) + 5e-11, 4) > 0.5 AS pred
FROM z"""
    },
    "q171_stump_bagging" -> {
      val fs = Seq("value", "hb", "dowi")
      val bagCtes = (0 until 3).map { b =>
        val cands = fs.map(f => stumpCand(f, src = s"tr$b", name = s"cand${b}_$f"))
        val union = fs.map(f => s"SELECT * FROM cand${b}_$f").mkString(" UNION ALL ")
        s"""tr$b AS MATERIALIZED (
  SELECT * FROM fb
  WHERE ('0x' || substr(md5('bag:' || event_id), 1, 8))::UBIGINT % 3 <> $b),
${cands.mkString(",\n")},
best$b AS MATERIALIZED (
  SELECT feature AS f$b, threshold AS t$b, round(gini + 5e-11, 4) AS g$b,
    CASE WHEN pos_left*2 > n_left THEN 1 ELSE 0 END AS lm$b,
    CASE WHEN pos_right*2 > n_right THEN 1 ELSE 0 END AS rm$b
  FROM ($union)
  ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1)"""
      }
      def fvSql(b: Int) =
        s"""(CASE WHEN b$b.f$b = 'value' THEN CAST(fb.value AS DOUBLE)
      WHEN b$b.f$b = 'hb' THEN CAST(fb.hb AS DOUBLE)
      ELSE CAST(fb.dowi AS DOUBLE) END)"""
      def voteSql(b: Int) =
        s"CASE WHEN ${fvSql(b)} <= b$b.t$b THEN b$b.lm$b ELSE b$b.rm$b END"
      s"""WITH fb AS MATERIALIZED ($featSql),
${bagCtes.mkString(",\n")},
sc AS (
  SELECT fb.y, ${voteSql(0)} AS v0, ${voteSql(1)} AS v1, ${voteSql(2)} AS v2
  FROM fb CROSS JOIN best0 b0 CROSS JOIN best1 b1 CROSS JOIN best2 b2),
a AS (
  SELECT count(*) AS n,
    round(avg(CASE WHEN (CASE WHEN v0 + v1 + v2 >= 2 THEN 1 ELSE 0 END) = y
      THEN 1.0 ELSE 0.0 END) + 5e-11, 4) AS ens_acc
  FROM sc)
SELECT b0.f0, b0.t0, b0.g0, b1.f1, b1.t1, b1.g1, b2.f2, b2.t2, b2.g2,
  a.ens_acc, a.n
FROM a CROSS JOIN best0 b0 CROSS JOIN best1 b1 CROSS JOIN best2 b2"""
    },
    "q216_adaboost" -> {
      val T = 4
      val stages = (1 to T).flatMap(t =>
        Seq(abStage(t, "abtr", s"abst$t"), abStage(t, "abvl", s"absv$t")))
        .mkString(",\n")
      val rows = (1 to T).map(t =>
        s"""SELECT $t AS round, ab$t.f AS feature, round(ab$t.t + 5e-11, 4) AS threshold,
  ab$t.ll AS left_label, ab$t.rl AS right_label,
  round(ab$t.err + 5e-11, 4) AS err, ab$t.a AS alpha,
  round(CAST(abst$t.m AS DOUBLE) / abst$t.n + 5e-11, 4) AS train_err,
  round(CAST(absv$t.m AS DOUBLE) / absv$t.n + 5e-11, 4) AS val_err
FROM ab$t CROSS JOIN abst$t CROSS JOIN absv$t CROSS JOIN abfl
WHERE ${abKeep(t)}""")
      s"""WITH abf0 AS ($featSql),
abfp AS MATERIALIZED (
  SELECT *, (row_number() OVER (PARTITION BY y
    ORDER BY ('0x' || substr(md5('abval:' || event_id), 1, 8))::UBIGINT,
      event_id) - 1) % 5 AS vb5
  FROM abf0),
abtr AS MATERIALIZED (SELECT * FROM abfp WHERE vb5 <> 0),
abvl AS MATERIALIZED (SELECT * FROM abfp WHERE vb5 = 0),
${(1 to T).map(t => abRound(t, "abtr")).mkString(",\n")},
${abFlags(T)},
$stages
${rows.mkString("\nUNION ALL\n")}"""
    },
    "q217_weighted_logistic" ->
      // the third setting is the data-derived balanced ratio — a scalar
      // subquery over the train-slice counts CTE, the SQL twin of the
      // collected n_neg/n_pos literal on the Spark side
      wlrSql("wlr",
        Seq("1.0", "10.0", "(SELECT CAST(nn AS DOUBLE) / np FROM wct)"),
        withBest = false),
    "q218_smote" -> {
      val synthSel = Seq("value", "hb", "dowi").zipWithIndex.map { case (f, i) =>
        s"round(sx$i + 5e-11, 4) AS s_$f" }.mkString(",\n  ")
      s"""WITH sf AS ($featSql),
${smoteCtes("sf", "smote")}
SELECT sy.qid AS parent_id, sy.nid AS nbr_id, CAST(sy.rep AS BIGINT) AS rep,
  round(sy.lam + 5e-11, 4) AS lam,
  $synthSel,
  ct.np AS n_pos, ct.nn AS n_neg, ct.np * (cm.m + 1) AS n_pos_target
FROM smsyn sy
CROSS JOIN sct ct CROSS JOIN scm cm"""
    },
    "q219_posweight_search" ->
      wlrSql("pws", Seq("1.0", "5.0", "10.0"), withBest = true),
    "q221_adasyn" -> {
      // density pass (full-set moments, 'adasyn:d' shards) → exact
      // integer allocation → the shared smoteCtes synthesis chain with
      // the per-parent rep bound
      val idx = 0 to 2
      val zSel = idx.map(i => s"round((x$i - m$i)/s$i + 5e-11, 4) AS z$i")
        .mkString(", ")
      val d2 = idx.map(i => s"((q.z$i - c.z$i)*(q.z$i - c.z$i))").mkString(" + ")
      val synthSel = Seq("value", "hb", "dowi").zipWithIndex.map { case (f, i) =>
        s"round(sy.sx$i + 5e-11, 4) AS s_$f" }.mkString(",\n  ")
      s"""WITH sf AS ($featSql),
adct AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM sf),
adsh AS (SELECT greatest(1, least(1024, (np * (np + nn)) // 1000000)) AS s FROM adct),
adraw AS (SELECT event_id, y, CAST(value AS DOUBLE) AS x0,
    CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2 FROM sf),
adst AS (SELECT ${sqlStats(idx)} FROM adraw),
adz AS MATERIALIZED (SELECT event_id AS pid, y,
    ('0x' || substr(md5('adasyn:d:' || event_id), 1, 8))::UBIGINT % ss.s AS shard,
    $zSel
  FROM adraw, adsh ss, adst),
adnn AS (SELECT qid, cy FROM (
    SELECT q.pid AS qid, c.y AS cy,
      row_number() OVER (PARTITION BY q.shard, q.pid ORDER BY $d2 ASC, c.pid ASC) AS rnk
    FROM adz c JOIN adz q ON c.shard = q.shard AND c.pid <> q.pid AND q.y = 1)
  WHERE rnk <= 5),
addl AS MATERIALIZED (SELECT qid AS did,
    CAST(sum(CASE WHEN cy = 0 THEN 1 ELSE 0 END) AS BIGINT) AS delta
  FROM adnn GROUP BY 1),
adsum AS (SELECT CAST(coalesce(sum(delta), 0) AS BIGINT) AS sd FROM addl),
adgt AS MATERIALIZED (SELECT m.pid AS did, coalesce(d.delta, 0) AS delta,
    CASE WHEN s.sd > 0
      THEN least(10, ((ct.nn - ct.np) * coalesce(d.delta, 0)) // s.sd)
      ELSE 0 END AS g
  FROM (SELECT event_id AS pid FROM sf WHERE y = 1) m
  LEFT JOIN addl d ON d.did = m.pid
  CROSS JOIN adct ct CROSS JOIN adsum s),
${smoteCtes("sf", "adasyn", repBound = "ag.g",
        gJoin = " JOIN adgt ag ON ag.did = nb.qid")}
SELECT sy.qid AS parent_id, sy.nid AS nbr_id, CAST(sy.rep AS BIGINT) AS rep,
  round(sy.lam + 5e-11, 4) AS lam,
  $synthSel,
  ag.delta AS delta, ag.g AS g,
  ct.np AS n_pos, ct.nn AS n_neg, (ct.nn - ct.np) AS g_total, s.sd AS sum_delta
FROM smsyn sy
JOIN adgt ag ON ag.did = sy.qid
CROSS JOIN adct ct CROSS JOIN adsum s"""
    },
    "q223_linear_svm" -> {
      // hinge-subgradient chain unrolled: violator-masked averages,
      // margin terms in fitLinearSvm's fold order (intercept first),
      // L2 shrink 1e-2 and rate 0.5 as literals
      val idx = 0 to 2
      val chain = {
        val i0 = s"sv0 AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
        val its = (1 to 6).map { t =>
          val m = sqlMargin("i", idx)
          val yy = "(d.y * 2.0 - 1.0)"
          val viol = s"($yy * ($m)) < 1.0"
          val upd = idx.map(i =>
            s"i.w$i - 0.5*(1e-2*i.w$i - avg(CASE WHEN $viol THEN $yy * d.x$i ELSE 0.0 END)) AS w$i")
            .mkString(",\n    ") +
            s",\n    i.b + 0.5*avg(CASE WHEN $viol THEN $yy ELSE 0.0 END) AS b"
          s"sv$t AS MATERIALIZED (SELECT $upd\n  FROM svd d, sv${t - 1} i GROUP BY i.w0, i.w1, i.w2, i.b)"
        }.mkString(",\n")
        s"$i0,\n$its"
      }
      s"""WITH svb AS ($featSql),
svp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2,
    y::DOUBLE AS y,
    ('0x' || substr(md5('svm:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM svb),
svtr AS (SELECT * FROM svp WHERE vb5 <> 0),
svs AS (SELECT ${sqlStats(idx)} FROM svtr),
svd AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM svtr, svs),
svv AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM svp WHERE vb5 = 0) t, svs),
$chain,
svsc AS MATERIALIZED (
  SELECT t.y, ${sqlMargin("i", idx, "t")} AS sv
  FROM svv t, sv6 i),
${sqlAuc("usv", "(SELECT CAST(y AS INT) AS y, sv AS s FROM svsc)", "s")},
svmt AS (SELECT count(*) AS n_val,
    round(avg(greatest(0.0, 1.0 - (y * 2.0 - 1.0) * sv)) + 5e-11, 4) AS hinge_loss,
    round(avg(CASE WHEN (CASE WHEN sv > 0 THEN 1.0 ELSE 0.0 END) = y THEN 1.0 ELSE 0.0 END) + 5e-11, 4) AS accuracy
  FROM svsc)
SELECT mt.n_val, round(usv.auc + 5e-11, 4) AS auc, mt.hinge_loss, mt.accuracy,
  round(i.b + 5e-11, 4) AS intercept,
  round(i.w0 + 5e-11, 4) AS w_value,
  round(i.w1 + 5e-11, 4) AS w_hb,
  round(i.w2 + 5e-11, 4) AS w_dowi
FROM svmt mt CROSS JOIN usv CROSS JOIN sv6 i"""
    },
    "q225_enn" -> {
      val idx = 0 to 2
      val zSel = idx.map(i => s"round((x$i - m$i)/s$i + 5e-11, 4) AS z$i")
        .mkString(", ")
      val d2 = idx.map(i => s"((q.z$i - c.z$i)*(q.z$i - c.z$i))").mkString(" + ")
      s"""WITH sf AS ($featSql),
ect AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM sf),
esh AS (SELECT greatest(1, least(8192, (nn * (np + nn)) // 2000000)) AS s FROM ect),
eraw AS (SELECT event_id, y, CAST(value AS DOUBLE) AS x0,
    CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2 FROM sf),
est AS (SELECT ${sqlStats(idx)} FROM eraw),
ez AS MATERIALIZED (SELECT event_id AS pid, y,
    ('0x' || substr(md5('enn:d:' || event_id), 1, 8))::UBIGINT % ss.s AS shard,
    $zSel
  FROM eraw, esh ss, est),
enn0 AS (SELECT qid, cy FROM (
    SELECT q.pid AS qid, c.y AS cy,
      row_number() OVER (PARTITION BY q.shard, q.pid ORDER BY $d2 ASC, c.pid ASC) AS rnk
    FROM ez c JOIN ez q ON c.shard = q.shard AND c.pid <> q.pid AND q.y = 0)
  WHERE rnk <= 3),
erm AS MATERIALIZED (SELECT qid,
    CAST(sum(CASE WHEN cy <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS delta
  FROM enn0 GROUP BY 1
  HAVING sum(CASE WHEN cy <> 0 THEN 1 ELSE 0 END) >= 1),
ern AS (SELECT CAST(count(*) AS BIGINT) AS n_removed FROM erm)
SELECT e.qid AS event_id, e.delta AS minority_neighbors, r.n_removed,
  ct.nn AS n_neg_before, ct.nn - r.n_removed AS n_neg_after
FROM erm e CROSS JOIN ern r CROSS JOIN ect ct"""
    },
    "q226_random_undersample" ->
      s"""WITH sf AS ($featSql),
rct AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM sf),
rmj AS (SELECT event_id,
    ('0x' || substr(md5('rus:' || event_id), 1, 8))::UBIGINT AS h
  FROM sf WHERE y = 0),
rrk AS (SELECT event_id,
    row_number() OVER (ORDER BY h ASC, event_id ASC) AS rus_rank FROM rmj)
SELECT r.event_id, CAST(r.rus_rank AS BIGINT) AS rus_rank,
  ct.np AS n_pos, ct.nn AS n_neg_before, ct.np AS n_kept
FROM rrk r CROSS JOIN rct ct
WHERE r.rus_rank <= ct.np""",
    "q227_roc_curve" ->
      // sklearn roc_curve: distinct scores descending, drop_intermediate
      // keeps corners (2nd difference of fp or tp cumsum nonzero) plus
      // endpoints, artificial +inf / (0,0) leading point
      s"""WITH rf AS ($featSql),
rpv AS (SELECT CAST(value AS DOUBLE) AS s, count(*) AS c,
    CAST(sum(y) AS BIGINT) AS yp
  FROM rf GROUP BY 1),
rcm AS (SELECT s, CAST(sum(c) OVER w AS BIGINT) AS cn,
    CAST(sum(yp) OVER w AS BIGINT) AS ctp,
    CAST(row_number() OVER (ORDER BY s DESC) AS BIGINT) AS idx
  FROM rpv
  WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
rtt AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(yp) AS BIGINT) AS p FROM rpv),
rpt AS (SELECT idx, s, ctp AS tps, cn - ctp AS fps FROM rcm),
rkp AS (SELECT p.idx, p.s, p.tps, p.fps FROM rpt p
  LEFT JOIN rpt pr ON pr.idx = p.idx - 1
  LEFT JOIN rpt nx ON nx.idx = p.idx + 1
  WHERE pr.idx IS NULL OR nx.idx IS NULL
     OR (nx.fps - 2*p.fps + pr.fps) <> 0 OR (nx.tps - 2*p.tps + pr.tps) <> 0)
SELECT u.threshold,
  CASE WHEN t.n - t.p > 0 THEN CAST(u.fps AS DOUBLE) / (t.n - t.p) END AS fpr,
  CASE WHEN t.p > 0 THEN CAST(u.tps AS DOUBLE) / t.p END AS tpr
FROM (SELECT CAST('inf' AS DOUBLE) AS threshold, CAST(0 AS BIGINT) AS tps,
        CAST(0 AS BIGINT) AS fps
      UNION ALL SELECT s, tps, fps FROM rkp) u
CROSS JOIN rtt t""",
    "q228_pr_curve" ->
      // sklearn precision_recall_curve: rows down to the first
      // full-recall threshold, terminal (NULL, 1, 0) appended
      s"""WITH pf AS ($featSql),
ppv AS (SELECT CAST(value AS DOUBLE) AS s, count(*) AS c,
    CAST(sum(y) AS BIGINT) AS yp
  FROM pf GROUP BY 1),
pcm AS (SELECT s, CAST(sum(c) OVER w AS BIGINT) AS cn,
    CAST(sum(yp) OVER w AS BIGINT) AS ctp,
    CAST(row_number() OVER (ORDER BY s DESC) AS BIGINT) AS idx
  FROM ppv
  WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
ptt AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(yp) AS BIGINT) AS p FROM ppv),
pli AS (SELECT min(idx) AS last_idx FROM pcm, ptt WHERE ctp = p)
SELECT s AS threshold, CAST(ctp AS DOUBLE) / cn AS "precision",
  CASE WHEN t.p > 0 THEN CAST(ctp AS DOUBLE) / t.p END AS recall
FROM pcm CROSS JOIN ptt t CROSS JOIN pli
WHERE idx <= last_idx
UNION ALL
SELECT CAST(NULL AS DOUBLE), CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)""",
    "q229_leafwise_tree" -> {
      // best-first replay: the q202 lattice CTEs give every potential
      // node's candidate split (a node's subset depends only on its
      // path), a gains table prices each node, and maxLeaves-2 bitmask
      // steps re-run the expansion (argmax rounded gain, path
      // tie-break; root pre-selected as bit 0)
      val depth = 5
      val maxLeaves = 8
      val paths = deepNodePaths(depth)
      val bit = paths.zipWithIndex.toMap
      def imp(pos: String, n: String) =
        s"""(1.0 - (CAST($pos AS DOUBLE)/$n)*(CAST($pos AS DOUBLE)/$n)
    - (1.0 - CAST($pos AS DOUBLE)/$n)*(1.0 - CAST($pos AS DOUBLE)/$n))"""
      val gainRows = paths.map { p =>
        val b = s"b_${deepNm(p)}"
        val (nn, np, from) =
          if (p.isEmpty) ("st_r0.n", "st_r0.pos", s"$b, st_r0")
          else {
            val par = s"b_${deepNm(p.init)}"
            val side = if (p.last == 'l') "left" else "right"
            (s"$par.n_$side", s"$par.pos_$side", s"$b, $par")
          }
        val ppos = if (p.isEmpty) 0 else bit(p.init)
        s"""SELECT '${deepNm(p)}' AS nm, CAST(${bit(p)} AS BIGINT) AS pos,
  CAST($ppos AS BIGINT) AS ppos,
  round(CAST($nn AS DOUBLE) / (SELECT n FROM st_r0)
    * (${imp(np, nn)}
      - (${imp(s"$b.pos_left", s"$b.n_left")} * $b.n_left / $nn
        + ${imp(s"$b.pos_right", s"$b.n_right")} * $b.n_right / $nn)) + 5e-11, 4) AS rgain
FROM $from"""
      }.mkString("\nUNION ALL\n")
      // every cascade CTE is MATERIALIZED: un-materialized, DuckDB
      // inlines m_{t-1} (referenced 3x per step) recursively — an
      // exponential plan blowup
      val steps = (1 to maxLeaves - 2).map { t =>
        s"""e$t AS MATERIALIZED (SELECT g.nm, g.pos, g.rgain FROM gains g, m${t - 1}
  WHERE ((m${t - 1}.mask >> g.pos) & 1) = 0 AND ((m${t - 1}.mask >> g.ppos) & 1) = 1
  ORDER BY g.rgain DESC, g.nm LIMIT 1),
m$t AS MATERIALIZED (SELECT CASE WHEN EXISTS (SELECT 1 FROM e$t)
    THEN (SELECT mask FROM m${t - 1}) | (CAST(1 AS BIGINT) << (SELECT pos FROM e$t))
    ELSE (SELECT mask FROM m${t - 1}) END AS mask)"""
      }.mkString(",\n")
      val selRows = (1 to maxLeaves - 2).map(t =>
        s"SELECT CAST($t AS BIGINT) AS ord, (SELECT nm FROM e$t) AS nm WHERE EXISTS (SELECT 1 FROM e$t)")
        .mkString("\nUNION ALL\n")
      val mf = s"m${maxLeaves - 2}"
      def selected(p: String): String =
        if (p.length >= depth) "FALSE"
        else s"((($mf.mask) >> ${bit(p)}) & 1) = 1"
      val leafRows = paths.map { p =>
        val b = s"b_${deepNm(p)}"
        s"""SELECT CASE WHEN ${selected(p)} THEN
    (CASE WHEN NOT (${selected(p + "l")}) THEN greatest($b.pos_left, $b.n_left - $b.pos_left) ELSE 0 END)
    + (CASE WHEN NOT (${selected(p + "r")}) THEN greatest($b.pos_right, $b.n_right - $b.pos_right) ELSE 0 END)
  ELSE 0 END AS c FROM $b, $mf"""
      }.mkString("\nUNION ALL\n")
      val outRows = paths.map { p =>
        val n = deepNm(p)
        val label = if (p.isEmpty) "root" else p
        s"""SELECT sel.ord, '$label' AS node, CAST(${p.length} AS BIGINT) AS depth,
  b_$n.feature, round(b_$n.threshold + 5e-11, 4) AS threshold, b_$n.gini AS gini,
  b_$n.n_left, b_$n.pos_left, b_$n.n_right, b_$n.pos_right,
  g.rgain AS gain, nl.n_leaves, ta.tree_acc
FROM b_$n, sel, gains g, nl, ta
WHERE sel.nm = '$n' AND g.nm = '$n'"""
      }.mkString("\nUNION ALL\n")
      s"""WITH f_r0 AS MATERIALIZED ($featSql),
${deepTreeCtes(depth)},
gains AS MATERIALIZED ($gainRows),
m0 AS MATERIALIZED (SELECT CAST(1 AS BIGINT) AS mask),
$steps,
sel AS MATERIALIZED (SELECT CAST(0 AS BIGINT) AS ord, 'r0' AS nm
UNION ALL
$selRows),
nl AS MATERIALIZED (SELECT CAST(count(*) + 1 AS BIGINT) AS n_leaves FROM sel),
ta AS MATERIALIZED (SELECT round(CAST(sum(c) AS DOUBLE) / (SELECT n FROM st_r0) + 5e-11, 4) AS tree_acc
  FROM ($leafRows))
$outRows"""
    },
    "q230_model_store" -> {
      // every family's training chain replayed on the FULL fact table,
      // then formatted as the ModelStore row layout the engine re-exports
      // after its disk round trip. n_agree = n_scored asserts the
      // engine's exact (fitted vs rebuilt) score parity.
      val idx = 0 to 2
      val feats = gbFeatures
      // weighted logistic GD chain (pw = 1 is the plain trainer)
      def lrChain(pfx: String, pw: String): String = {
        val cw = s"(CASE WHEN d.y = 1.0 THEN CAST($pw AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END)"
        val i0 = s"${pfx}0 AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
        val its = (1 to 6).map { t =>
          val m = sqlMargin("i", idx)
          val err = s"((1.0/(1.0 + exp(-($m))) - d.y) * $cw)"
          val upd = idx.map(i =>
            s"i.w$i - 0.5*(sum($err * d.x$i) / ws.w) AS w$i").mkString(",\n    ") +
            s",\n    i.b - 0.5*(sum($err) / ws.w) AS b"
          s"${pfx}$t AS MATERIALIZED (SELECT $upd\n  FROM qd d, ${pfx}${t - 1} i, ${pfx}ws ws GROUP BY i.w0, i.w1, i.w2, i.b, ws.w)"
        }.mkString(",\n")
        s"${pfx}ws AS (SELECT sum(CASE WHEN y = 1.0 THEN CAST($pw AS DOUBLE) ELSE CAST(1.0 AS DOUBLE) END) AS w FROM qd),\n$i0,\n$its"
      }
      // hinge-subgradient SVM chain (q223's, on the full fact)
      val svmChain = {
        val i0 = s"qs0 AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
        val its = (1 to 6).map { t =>
          val m = sqlMargin("i", idx)
          val yy = "(d.y * 2.0 - 1.0)"
          val viol = s"($yy * ($m)) < 1.0"
          val upd = idx.map(i =>
            s"i.w$i - 0.5*(1e-2*i.w$i - avg(CASE WHEN $viol THEN $yy * d.x$i ELSE 0.0 END)) AS w$i")
            .mkString(",\n    ") +
            s",\n    i.b + 0.5*avg(CASE WHEN $viol THEN $yy ELSE 0.0 END) AS b"
          s"qs$t AS MATERIALIZED (SELECT $upd\n  FROM qd d, qs${t - 1} i GROUP BY i.w0, i.w1, i.w2, i.b)"
        }.mkString(",\n")
        s"$i0,\n$its"
      }
      // one output row in the ModelStore layout; `from` empty = constants
      def orow(mid: String, kind: String, part: String, idxE: String,
          kE: String = "NULL", k2E: String = "NULL", v1: String = "NULL",
          v2: String = "NULL", v3: String = "NULL", v4: String = "NULL",
          c1: String = "NULL", c2: String = "NULL", c3: String = "NULL",
          c4: String = "NULL", t1: String = "NULL", t2: String = "NULL",
          t3: String = "NULL", from: String = ""): String =
        s"""SELECT '$mid' AS model_id, CAST(1 AS BIGINT) AS version,
  '$kind' AS kind, '$part' AS part, CAST($idxE AS BIGINT) AS idx,
  CAST($kE AS VARCHAR) AS k, CAST($k2E AS VARCHAR) AS k2,
  CAST($v1 AS DOUBLE) AS v1, CAST($v2 AS DOUBLE) AS v2,
  CAST($v3 AS DOUBLE) AS v3, CAST($v4 AS DOUBLE) AS v4,
  CAST($c1 AS BIGINT) AS c1, CAST($c2 AS BIGINT) AS c2,
  CAST($c3 AS BIGINT) AS c3, CAST($c4 AS BIGINT) AS c4,
  CAST($t1 AS DOUBLE) AS t1, CAST($t2 AS DOUBLE) AS t2,
  CAST($t3 AS DOUBLE) AS t3, mc.n AS n_scored, mc.n AS n_agree
FROM ${if (from.isEmpty) "mcnt mc" else s"$from CROSS JOIN mcnt mc"}"""
      def logisticRows(mid: String, chain: String): Seq[String] =
        orow(mid, "logistic", "meta", "0", v1 = sqlR4("i.b"), v2 = "0.5",
          c1 = "6", from = s"${chain}6 i") +:
          idx.map(i => orow(mid, "logistic", "feature", i.toString,
            kE = s"'${feats(i)}'", v1 = sqlR4(s"st.m$i"), v2 = sqlR4(s"st.s$i"),
            v3 = sqlR4(s"i.w$i"), from = s"${chain}6 i CROSS JOIN qst st"))
      val abRows = (1 to 3).map(t =>
        orow("ab", "adaboost", "round", (t - 1).toString, kE = s"ab$t.f",
          v1 = sqlR4(s"ab$t.t"), v2 = sqlR4(s"ab$t.err"), v3 = s"ab$t.beta",
          v4 = s"ab$t.a", c1 = s"ab$t.ll", c2 = s"ab$t.rl",
          from = s"ab$t CROSS JOIN abfl") + s"\nWHERE ${abKeep(t)}")
      val bstRows =
        orow("bst", "boost_stumps", "meta", "0", v1 = "f0.v", v2 = "0.5",
          from = "f0") +:
          (1 to 3).map(t => orow("bst", "boost_stumps", "round",
            (t - 1).toString, kE = s"b.f", v1 = sqlR4("b.t"), v2 = "b.vl",
            v3 = "b.vr", from = s"best$t b"))
      val btrRows =
        orow("btr", "boost_trees", "meta", "0", v1 = "f0.v", v2 = "0.5",
          from = "f0") +:
          (1 to 2).map(t => orow("btr", "boost_trees", "round",
            (t - 1).toString,
            kE = s"broot$t.f || ',' || bl$t.f || ',' || br$t.f",
            v1 = s"bl$t.vl", v2 = s"bl$t.vr", v3 = s"br$t.vl",
            v4 = s"br$t.vr", t1 = sqlR4(s"broot$t.t"), t2 = sqlR4(s"bl$t.t"),
            t3 = sqlR4(s"br$t.t"),
            from = s"broot$t CROSS JOIN bl$t CROSS JOIN br$t"))
      def treeMeta(mid: String) = orow(mid, "tree", "meta", "0",
        c1 = "st.n", c2 = "st.pos", c3 = "2", from = "st_mr0 st")
      val dtRows = Seq(treeMeta("dt"),
        orow("dt", "tree", "split", "t.idx", kE = "t.k", k2E = "t.feature",
          v1 = sqlR4("t.threshold"), v2 = "t.gini", c1 = "t.n_left",
          c2 = "t.pos_left", c3 = "t.n_right", c4 = "t.pos_right",
          from = "mtsi t"))
      val bftRows = Seq(treeMeta("bft"),
        orow("bft", "tree", "split", "0", kE = "''", k2E = "t.feature",
          v1 = sqlR4("t.threshold"), v2 = "t.gini", c1 = "t.n_left",
          c2 = "t.pos_left", c3 = "t.n_right", c4 = "t.pos_right",
          from = "b_mr0 t"),
        orow("bft", "tree", "split", "1", kE = "t.k", k2E = "t.feature",
          v1 = sqlR4("t.threshold"), v2 = "t.gini", c1 = "t.n_left",
          c2 = "t.pos_left", c3 = "t.n_right", c4 = "t.pos_right",
          from = "bpick t"))
      def gimp(p: String, n: String) =
        s"""(1.0 - (CAST($p AS DOUBLE)/$n)*(CAST($p AS DOUBLE)/$n)
    - (1.0 - CAST($p AS DOUBLE)/$n)*(1.0 - CAST($p AS DOUBLE)/$n))"""
      // best-first (maxLeaves = 3): root + the higher-gain child — the
      // fitBestFirst gain formula on the depth-2 lattice's b_ CTEs
      def gainSide(path: String, b: String, side: String): String =
        s"""SELECT '$path' AS k, c.feature, c.threshold, c.gini,
  c.n_left, c.pos_left, c.n_right, c.pos_right,
  round((CAST(r.n_$side AS DOUBLE) / st.n)
    * (${gimp(s"r.pos_$side", s"r.n_$side")}
      - (${gimp("c.pos_left", "c.n_left")} * c.n_left / r.n_$side
        + ${gimp("c.pos_right", "c.n_right")} * c.n_right / r.n_$side))
    + 5e-11, 4) AS gain
FROM $b c, b_mr0 r, st_mr0 st"""
      val allRows = (logisticRows("lr", "ql") ++ logisticRows("wlr", "qw") ++
        logisticRows("svm", "qs") ++ abRows ++ bstRows ++ btrRows ++
        dtRows ++ bftRows).mkString("\nUNION ALL\n")
      s"""WITH mf AS MATERIALIZED ($featSql),
mcnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM mf),
qraw AS (SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
  CAST(dowi AS DOUBLE) AS x2, y::DOUBLE AS y FROM mf),
qst AS (SELECT ${sqlStats(idx)} FROM qraw),
qd AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM qraw, qst),
${lrChain("ql", "1.0")},
${lrChain("qw", "5.0")},
$svmChain,
${(1 to 3).map(t => abRound(t, "mf")).mkString(",\n")},
${abFlags(3)},
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM mf),
${gbRoundCtes(3, "mf")},
${(1 to 2).map(t => gbtRound(t, "mf")).mkString(",\n")},
f_mr0 AS MATERIALIZED (SELECT * FROM mf),
${deepTreeCtes(2, gbFeatures, "m")},
mts AS (SELECT '' AS k, feature, threshold, gini, n_left, pos_left, n_right, pos_right FROM b_mr0
  UNION ALL SELECT 'l', feature, threshold, gini, n_left, pos_left, n_right, pos_right FROM b_ml
  UNION ALL SELECT 'r', feature, threshold, gini, n_left, pos_left, n_right, pos_right FROM b_mr),
mtsi AS (SELECT *, CAST(row_number() OVER (ORDER BY length(k), k) - 1 AS BIGINT) AS idx FROM mts),
bgain AS (${gainSide("l", "b_ml", "left")}
UNION ALL
${gainSide("r", "b_mr", "right")}),
bpick AS MATERIALIZED (SELECT * FROM bgain ORDER BY gain DESC, k ASC LIMIT 1)
$allRows"""
    },
    "q224_average_precision" -> {
      // factored step-wise AP on both engines: sum(yp * (ctp/cn)) / pos
      // over distinct scores descending; overall + per-dowi segments,
      // each with the mid-rank AUC twin
      s"""WITH af AS ($featSql),
apg0 AS (SELECT value AS s, count(*) AS c, CAST(sum(y) AS BIGINT) AS yp
  FROM af GROUP BY 1),
apc0 AS (SELECT *, CAST(sum(c) OVER w AS BIGINT) AS cn,
    CAST(sum(yp) OVER w AS BIGINT) AS ctp
  FROM apg0
  WINDOW w AS (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
apa0 AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(yp) AS BIGINT) AS n_pos,
    CASE WHEN sum(yp) > 0 AND sum(yp) < sum(c) THEN
      sum(CAST(yp AS DOUBLE) * (CAST(ctp AS DOUBLE) / cn)) / CAST(sum(yp) AS DOUBLE)
    END AS ap
  FROM apc0),
${sqlAuc("uap0", "af", "value")},
apgg AS (SELECT dowi AS g, value AS s, count(*) AS c, CAST(sum(y) AS BIGINT) AS yp
  FROM af GROUP BY 1, 2),
apcg AS (SELECT *, CAST(sum(c) OVER w AS BIGINT) AS cn,
    CAST(sum(yp) OVER w AS BIGINT) AS ctp
  FROM apgg
  WINDOW w AS (PARTITION BY g ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
apag AS (SELECT g, CAST(sum(c) AS BIGINT) AS n, CAST(sum(yp) AS BIGINT) AS n_pos,
    CASE WHEN sum(yp) > 0 AND sum(yp) < sum(c) THEN
      sum(CAST(yp AS DOUBLE) * (CAST(ctp AS DOUBLE) / cn)) / CAST(sum(yp) AS DOUBLE)
    END AS ap
  FROM apcg GROUP BY g),
aprg AS (SELECT dowi AS g, y,
    rank() OVER (PARTITION BY dowi ORDER BY value) +
      (count(*) OVER (PARTITION BY dowi, value) - 1)/2.0 AS midrank
  FROM af),
apug AS (SELECT g,
    CASE WHEN sum(y) > 0 AND sum(y) < count(*) THEN
      (sum(CASE WHEN y = 1 THEN midrank END) - sum(y)*(sum(y) + 1)/2.0)
        / (sum(y)*(count(*) - sum(y)))
    END AS auc
  FROM aprg GROUP BY g)
SELECT CAST(-1 AS BIGINT) AS segment, a.n, a.n_pos,
  round(a.ap + 5e-11, 4) AS ap, round(u.auc + 5e-11, 4) AS auc
FROM apa0 a CROSS JOIN uap0 u
UNION ALL
SELECT g AS segment, a.n, a.n_pos,
  round(a.ap + 5e-11, 4) AS ap, round(u.auc + 5e-11, 4) AS auc
FROM apag a JOIN apug u USING (g)"""
    },
    "q222_tomek_links" -> {
      val idx = 0 to 2
      val zSel = idx.map(i => s"round((x$i - m$i)/s$i + 5e-11, 4) AS z$i")
        .mkString(", ")
      val d2 = idx.map(i => s"((q.z$i - c.z$i)*(q.z$i - c.z$i))").mkString(" + ")
      s"""WITH sf AS ($featSql),
tkct AS (SELECT CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT) AS np,
    CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nn FROM sf),
tksh AS (SELECT greatest(1, least(4096, ((np + nn) * (np + nn)) // 2000000)) AS s FROM tkct),
tkraw AS (SELECT event_id, y, CAST(value AS DOUBLE) AS x0,
    CAST(hb AS DOUBLE) AS x1, CAST(dowi AS DOUBLE) AS x2 FROM sf),
tkst AS (SELECT ${sqlStats(idx)} FROM tkraw),
tkz AS MATERIALIZED (SELECT event_id AS pid, y,
    ('0x' || substr(md5('tomek:d:' || event_id), 1, 8))::UBIGINT % ss.s AS shard,
    $zSel
  FROM tkraw, tksh ss, tkst),
tksc AS (SELECT q.shard, q.pid AS qid, q.y AS qy, c.pid AS nid, $d2 AS d2
  FROM tkz c JOIN tkz q ON c.shard = q.shard AND c.pid <> q.pid),
tknn AS MATERIALIZED (SELECT qid, qy, nid, d2 FROM (
    SELECT qid, qy, nid, d2,
      row_number() OVER (PARTITION BY shard, qid ORDER BY d2 ASC, nid ASC) AS rnk
    FROM tksc)
  WHERE rnk = 1),
tklk AS MATERIALIZED (SELECT
    CASE WHEN a.qy = 1 THEN a.qid ELSE b.qid END AS minority_id,
    CASE WHEN a.qy = 1 THEN b.qid ELSE a.qid END AS majority_id,
    a.d2 AS link_d2
  FROM tknn a JOIN tknn b
    ON a.nid = b.qid AND b.nid = a.qid AND a.qid < b.qid AND a.qy <> b.qy),
tknl AS (SELECT CAST(count(*) AS BIGINT) AS n_links FROM tklk)
SELECT l.minority_id, l.majority_id, round(l.link_d2 + 5e-11, 4) AS link_dist,
  nl.n_links, ct.nn AS n_neg_before, ct.nn - nl.n_links AS n_neg_after
FROM tklk l CROSS JOIN tknl nl CROSS JOIN tkct ct"""
    },
    "q220_smote_train" -> {
      // end-to-end prepare→fit→evaluate replay: the smoteCtes chain on
      // the train slice, then TWO unrolled-GD chains (baseline vs
      // SMOTE-augmented, each standardized by ITS OWN train moments,
      // margin terms in fitLogistic's fold order), one metric cell each
      val idx = 0 to 2
      def cell(p: String, stCte: String): String =
        s"""dv_$p AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM vraw t, $stCte),
sc_$p AS MATERIALIZED (SELECT d.y, ${sqlMargin(s"g${p}_6", idx)} AS sv FROM dv_$p d, g${p}_6),
${sqlAuc(s"u$p", s"(SELECT CAST(y AS INT) AS y, sv AS s FROM sc_$p)", "s")},
mt_$p AS (SELECT count(*) AS n_val,
    CAST(sum(CASE WHEN y = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS pos,
    CAST(sum(CASE WHEN sv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS alerts,
    CAST(sum(CASE WHEN y = 1.0 AND sv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tp,
    CAST(sum(CASE WHEN (CASE WHEN sv > 0 THEN 1.0 ELSE 0.0 END) = y THEN 1 ELSE 0 END) AS BIGINT) AS ok
  FROM sc_$p)"""
      def row(p: String, variant: String, trainCte: String): String =
        s"""SELECT '$variant' AS variant,
  (SELECT count(*) FROM $trainCte) AS n_train, mt.n_val,
  round(u$p.auc + 5e-11, 4) AS auc,
  round(CAST(mt.tp AS DOUBLE) / mt.pos + 5e-11, 4) AS rec,
  round((CASE WHEN mt.alerts > 0 THEN CAST(mt.tp AS DOUBLE) / mt.alerts END) + 5e-11, 4) AS prec,
  round(CAST(mt.ok AS DOUBLE) / mt.n_val + 5e-11, 4) AS accuracy,
  round(i.b + 5e-11, 4) AS intercept,
  round(i.w0 + 5e-11, 4) AS w_value,
  round(i.w1 + 5e-11, 4) AS w_hb,
  round(i.w2 + 5e-11, 4) AS w_dowi
FROM mt_$p mt CROSS JOIN u$p CROSS JOIN g${p}_6 i"""
      s"""WITH sf AS ($featSql),
sfp AS MATERIALIZED (
  SELECT *, (row_number() OVER (PARTITION BY y
    ORDER BY ('0x' || substr(md5('smtr:' || event_id), 1, 8))::UBIGINT,
      event_id) - 1) % 5 AS vb5
  FROM sf),
strn AS MATERIALIZED (SELECT * FROM sfp WHERE vb5 <> 0),
${smoteCtes("strn", "smtr")},
db AS MATERIALIZED (SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
  CAST(dowi AS DOUBLE) AS x2, y::DOUBLE AS y FROM strn),
da AS MATERIALIZED (SELECT * FROM db
  UNION ALL SELECT sx0, sx1, sx2, CAST(1.0 AS DOUBLE) FROM smsyn),
stb AS (SELECT ${sqlStats(idx)} FROM db),
sta AS (SELECT ${sqlStats(idx)} FROM da),
zb AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM db, stb),
za AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM da, sta),
vraw AS (SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
  CAST(dowi AS DOUBLE) AS x2, y::DOUBLE AS y FROM sfp WHERE vb5 = 0),
${sqlGd("gb_", "zb", idx, 6, "0.5")},
${sqlGd("ga_", "za", idx, 6, "0.5")},
${cell("b", "stb")},
${cell("a", "sta")}
${row("b", "baseline", "db")}
UNION ALL
${row("a", "smote", "da")}"""
    },
    "q234_classification_report" -> {
      // NB likelihood-table replay (the q167 machinery) -> 0.5-point
      // predictions -> one confusion aggregate -> the four report rows
      // with identical closed-form arithmetic
      val fs = Seq("hb", "dowi", "vb")
      s"""WITH f AS ($featSql),
tr AS (SELECT * FROM f WHERE event_id % 5 <> 0),
te AS (SELECT * FROM f WHERE event_id % 5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
scd AS (
  SELECT te.y,
    ln(pr.n1/pr.n0) + ${fs.map(nbTerm).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")}),
pd AS (SELECT y, CASE WHEN round(delta + 5e-11, 4) > 0 THEN 1 ELSE 0 END AS pred FROM scd),
cm AS MATERIALIZED (SELECT
  sum(CASE WHEN y = 1 AND pred = 1 THEN 1 ELSE 0 END) AS tp,
  sum(CASE WHEN y = 0 AND pred = 1 THEN 1 ELSE 0 END) AS fp,
  sum(CASE WHEN y = 1 AND pred = 0 THEN 1 ELSE 0 END) AS fn,
  sum(CASE WHEN y = 0 AND pred = 0 THEN 1 ELSE 0 END) AS tn
  FROM pd),
m AS MATERIALIZED (SELECT tp, fp, fn, tn,
  tn + fp AS s0, tp + fn AS s1, tp + fp + fn + tn AS n,
  CASE WHEN tn + fn > 0 THEN tn::DOUBLE/(tn + fn) ELSE 0.0 END AS p0,
  CASE WHEN tn + fp > 0 THEN tn::DOUBLE/(tn + fp) ELSE 0.0 END AS r0,
  CASE WHEN tp + fp > 0 THEN tp::DOUBLE/(tp + fp) ELSE 0.0 END AS p1,
  CASE WHEN tp + fn > 0 THEN tp::DOUBLE/(tp + fn) ELSE 0.0 END AS r1,
  (tp + tn)::DOUBLE/(tp + fp + fn + tn) AS acc
  FROM cm),
m2 AS MATERIALIZED (SELECT *,
  CASE WHEN p0 + r0 > 0 THEN 2.0*p0*r0/(p0 + r0) ELSE 0.0 END AS f10,
  CASE WHEN p1 + r1 > 0 THEN 2.0*p1*r1/(p1 + r1) ELSE 0.0 END AS f11
  FROM m)
SELECT '0' AS cls, round(p0 + 5e-11, 4) AS prec, round(r0 + 5e-11, 4) AS rec,
  round(f10 + 5e-11, 4) AS f1, CAST(s0 AS BIGINT) AS support,
  round(acc + 5e-11, 4) AS accuracy FROM m2
UNION ALL
SELECT '1', round(p1 + 5e-11, 4), round(r1 + 5e-11, 4),
  round(f11 + 5e-11, 4), CAST(s1 AS BIGINT), round(acc + 5e-11, 4) FROM m2
UNION ALL
SELECT 'macro avg', round((p0 + p1)/2 + 5e-11, 4), round((r0 + r1)/2 + 5e-11, 4),
  round((f10 + f11)/2 + 5e-11, 4), CAST(n AS BIGINT), round(acc + 5e-11, 4) FROM m2
UNION ALL
SELECT 'weighted avg', round((p0*s0 + p1*s1)/n + 5e-11, 4),
  round((r0*s0 + r1*s1)/n + 5e-11, 4),
  round((f10*s0 + f11*s1)/n + 5e-11, 4), CAST(n AS BIGINT),
  round(acc + 5e-11, 4) FROM m2"""
    },
    "q239_partial_dependence" -> {
      // q185 tree replay (root/bestl/bestr argmin CTEs) -> grid CTE
      // (static hb/dowi domains + rounded quantile_cont deciles) ->
      // grid × population average of the leaf rate with the grid
      // feature forced
      val fs = Seq("value", "hb", "dowi")
      def bestOf(src: String, name: String) =
        s"""$name AS MATERIALIZED (
  SELECT feature, threshold, round(gini + 5e-11, 4) AS gini,
    n_left, pos_left, n_right, pos_right
  FROM $src ORDER BY round(gini + 5e-11, 4), feature, threshold LIMIT 1)"""
      // feature value of node's split feature, with the grid feature
      // forced to g.v (the interventional substitution)
      def fx(node: String) =
        s"""(CASE $node.feature
    WHEN 'value' THEN (CASE WHEN g.feature = 'value' THEN g.v ELSE CAST(f.value AS DOUBLE) END)
    WHEN 'hb' THEN (CASE WHEN g.feature = 'hb' THEN g.v ELSE CAST(f.hb AS DOUBLE) END)
    ELSE (CASE WHEN g.feature = 'dowi' THEN g.v ELSE CAST(f.dowi AS DOUBLE) END) END)"""
      val sideExpr = """(CASE root.feature
    WHEN 'value' THEN CAST(f.value AS DOUBLE)
    WHEN 'hb' THEN CAST(f.hb AS DOUBLE)
    ELSE CAST(f.dowi AS DOUBLE) END)"""
      val decSel = (1 to 9).map(i =>
        s"round(quantile_cont(value, 0.$i) + 5e-11, 4) AS q$i").mkString(",\n    ")
      val gridRows =
        (1 to 9).map(i => s"SELECT 'value' AS feature, q$i AS v FROM dq") ++
          (0 to 23).map(h => s"SELECT 'hb', $h.0") ++
          (0 to 6).map(d0 => s"SELECT 'dowi', $d0.0")
      s"""WITH f AS MATERIALIZED ($featSql),
${fs.map(f => stumpCand(f)).mkString(",\n")},
allc AS (${fs.map(f => s"SELECT * FROM cand_$f").mkString(" UNION ALL ")}),
${bestOf("allc", "root")},
fl AS MATERIALIZED (SELECT f.* FROM f, root WHERE $sideExpr <= root.threshold),
fr AS MATERIALIZED (SELECT f.* FROM f, root WHERE $sideExpr > root.threshold),
${fs.map(f => stumpCand(f, "fl", s"candl_$f")).mkString(",\n")},
alll AS (${fs.map(f => s"SELECT * FROM candl_$f").mkString(" UNION ALL ")}),
${bestOf("alll", "bestl")},
${fs.map(f => stumpCand(f, "fr", s"candr_$f")).mkString(",\n")},
allr AS (${fs.map(f => s"SELECT * FROM candr_$f").mkString(" UNION ALL ")}),
${bestOf("allr", "bestr")},
dq AS (SELECT $decSel FROM f),
grid AS MATERIALIZED (
${gridRows.mkString("\nUNION ALL\n")}),
pd0 AS (
  SELECT g.feature, g.v,
    avg(CASE WHEN ${fx("root")} <= root.threshold THEN
        CASE WHEN ${fx("bestl")} <= bestl.threshold
          THEN CAST(bestl.pos_left AS DOUBLE)/bestl.n_left
          ELSE CAST(bestl.pos_right AS DOUBLE)/bestl.n_right END
      ELSE
        CASE WHEN ${fx("bestr")} <= bestr.threshold
          THEN CAST(bestr.pos_left AS DOUBLE)/bestr.n_left
          ELSE CAST(bestr.pos_right AS DOUBLE)/bestr.n_right END
      END) AS pd
  FROM f CROSS JOIN grid g CROSS JOIN root CROSS JOIN bestl CROSS JOIN bestr
  GROUP BY 1, 2)
SELECT feature, v AS grid_value, round(pd + 5e-11, 4) AS pd FROM pd0"""
    },
    "q238_permutation_importance" -> {
      // GD-chain replay on the train slice -> md5-order cyclic-shift
      // donor join -> baseline + one-feature-permuted midrank AUC each
      val idx = 0 until 3
      def marginOf(v: String, h: String, dw: String) =
        s"i6.b + i6.w0*(($v - s.m0)/s.s0) + i6.w1*(($h - s.m1)/s.s1) + i6.w2*(($dw - s.m2)/s.s2)"
      def row(name: String, tag: String): String =
        s"""SELECT '$name' AS feature, nn.n AS n_test,
  round(a_b.auc + 5e-11, 4) AS auc_base, round(a_$tag.auc + 5e-11, 4) AS auc_perm,
  round(round(a_b.auc + 5e-11, 4) - round(a_$tag.auc + 5e-11, 4) + 5e-11, 4) AS importance
FROM nn, a_b, a_$tag"""
      s"""WITH f AS ($featSql),
tr AS (SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
  CAST(dowi AS DOUBLE) AS x2, CAST(y AS DOUBLE) AS y
  FROM f WHERE event_id % 5 <> 0),
s AS MATERIALIZED (SELECT ${sqlStats(idx)} FROM tr),
dtr AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr, s),
${sqlGd("i", "dtr", idx, 6, "0.5")},
held AS MATERIALIZED (SELECT event_id, CAST(y AS DOUBLE) AS y,
  CAST(value AS DOUBLE) AS value, CAST(hb AS DOUBLE) AS hb,
  CAST(dowi AS DOUBLE) AS dowi
  FROM f WHERE event_id % 5 = 0),
rkt AS MATERIALIZED (SELECT *, row_number() OVER (
    ORDER BY ('0x' || substr(md5('perm:' || event_id), 1, 8))::UBIGINT,
      event_id) AS r FROM held),
nn AS (SELECT count(*) AS n FROM rkt),
pm AS MATERIALIZED (
  SELECT a.y, a.value, a.hb, a.dowi, b.value AS pv, b.hb AS ph, b.dowi AS pd
  FROM rkt a CROSS JOIN nn JOIN rkt b ON b.r = a.r % nn.n + 1),
scb AS (SELECT d.y, ${marginOf("d.value", "d.hb", "d.dowi")} AS sv FROM pm d, i6, s),
scv AS (SELECT d.y, ${marginOf("d.pv", "d.hb", "d.dowi")} AS sv FROM pm d, i6, s),
sch AS (SELECT d.y, ${marginOf("d.value", "d.ph", "d.dowi")} AS sv FROM pm d, i6, s),
scw AS (SELECT d.y, ${marginOf("d.value", "d.hb", "d.pd")} AS sv FROM pm d, i6, s),
${sqlAuc("a_b", "scb", "sv")},
${sqlAuc("a_v", "scv", "sv")},
${sqlAuc("a_h", "sch", "sv")},
${sqlAuc("a_w", "scw", "sv")}
${row("value", "v")}
UNION ALL
${row("hb", "h")}
UNION ALL
${row("dowi", "w")}"""
    },
    "q237_learning_curve" -> {
      // nested md5-prefix train subsets -> one unrolled-GD chain per
      // size (stats from the masked slice) -> midrank AUC on the train
      // slice AND the shared stratified fold-0 holdout
      val idx = 0 until 3
      def sizeChain(t: Int): String =
        s"""tr_$t AS (SELECT * FROM fp WHERE fold <> 0 AND fb < $t),
s_$t AS (SELECT ${sqlStats(idx)} FROM tr_$t),
dtr_$t AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr_$t, s_$t),
dho_$t AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM fp WHERE fold = 0) t, s_$t),
${sqlGd(s"g${t}_", s"dtr_$t", idx, 6, "0.5")},
n_$t AS (SELECT count(*) AS n, CAST(sum(y) AS BIGINT) AS npos FROM tr_$t),
sct_$t AS (SELECT d.y, ${sqlMargin(s"g${t}_6", idx)} AS sv FROM dtr_$t d, g${t}_6),
scv_$t AS (SELECT d.y, ${sqlMargin(s"g${t}_6", idx)} AS sv FROM dho_$t d, g${t}_6),
${sqlAuc(s"a_t$t", s"sct_$t", "sv")},
${sqlAuc(s"a_v$t", s"scv_$t", "sv")}"""
      def sizeRow(t: Int): String =
        s"""SELECT ${t / 100.0} AS train_frac, n_$t.n AS n_train, n_$t.npos AS n_pos_train,
  round(a_t$t.auc + 5e-11, 4) AS auc_train, round(a_v$t.auc + 5e-11, 4) AS auc_val
FROM n_$t, a_t$t, a_v$t"""
      val sizes = Seq(25, 50, 75, 100)
      s"""WITH f AS ($featSql),
fp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
    CAST(dowi AS DOUBLE) AS x2, CAST(y AS DOUBLE) AS y,
    CAST((row_number() OVER (PARTITION BY y
      ORDER BY ('0x' || substr(md5('lc:' || event_id), 1, 8))::UBIGINT,
        event_id) - 1) % 5 AS BIGINT) AS fold,
    ('0x' || substr(md5('lcf:' || event_id), 1, 8))::UBIGINT % 100 AS fb
  FROM f),
${sizes.map(sizeChain).mkString(",\n")}
${sizes.map(sizeRow).mkString("\nUNION ALL\n")}"""
    },
    "q236_cv_auc_score" -> {
      // stratified fold assignment (q231's row_number CTE) -> the q172
      // per-fold unrolled-GD replay on the event features -> per-fold
      // midrank AUC -> mean/std over the rounded fold scores
      val idx = 0 until 3
      def foldChain(f: Int): String =
        s"""tr_$f AS (SELECT * FROM fp WHERE fold <> $f),
s_$f AS (SELECT ${sqlStats(idx)} FROM tr_$f),
dtr_$f AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr_$f, s_$f),
dte_$f AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM (SELECT * FROM fp WHERE fold = $f) t, s_$f),
${sqlGd(s"g${f}_", s"dtr_$f", idx, 6, "0.5")},
sc_$f AS (SELECT d.y, ${sqlMargin(s"g${f}_6", idx)} AS sv FROM dte_$f d, g${f}_6),
${sqlAuc(s"a_$f", s"sc_$f", "sv")}"""
      def foldRow(f: Int): String =
        s"""SELECT $f AS fold, n AS n_test, (SELECT CAST(sum(y) AS BIGINT) FROM sc_$f) AS n_pos,
  ${sqlR4("auc")} AS auc FROM a_$f"""
      s"""WITH f AS ($featSql),
fp AS MATERIALIZED (
  SELECT CAST(value AS DOUBLE) AS x0, CAST(hb AS DOUBLE) AS x1,
    CAST(dowi AS DOUBLE) AS x2, CAST(y AS DOUBLE) AS y,
    CAST((row_number() OVER (PARTITION BY y
      ORDER BY ('0x' || substr(md5('cvs:' || event_id), 1, 8))::UBIGINT,
        event_id) - 1) % 5 AS BIGINT) AS fold
  FROM f),
${(0 until 5).map(foldChain).mkString(",\n")},
allf AS MATERIALIZED (
${(0 until 5).map(foldRow).mkString("\nUNION ALL\n")}),
sm AS (SELECT round(avg(auc) + 5e-11, 4) AS cv_mean,
  round(stddev_pop(auc) + 5e-11, 4) AS cv_std FROM allf)
SELECT allf.fold, allf.n_test, allf.n_pos, allf.auc, sm.cv_mean, sm.cv_std
FROM allf, sm"""
    },
    "q235_platt_scaling" -> {
      // NB replay -> 4dp-rounded delta -> cal/eval halves -> the q165
      // unrolled-GD technique on the single calibration feature -> Brier
      // before/after on the evaluation half
      val fs = Seq("hb", "dowi", "vb")
      s"""WITH f AS ($featSql),
tr AS (SELECT * FROM f WHERE event_id % 5 <> 0),
te AS (SELECT * FROM f WHERE event_id % 5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
scd AS (
  SELECT te.event_id, te.y,
    ln(pr.n1/pr.n0) + ${fs.map(f => nbTerm(f)).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")}),
sc AS MATERIALIZED (
  SELECT event_id, y::DOUBLE AS y, round(delta + 5e-11, 4) AS d4 FROM scd),
cal AS MATERIALIZED (SELECT * FROM sc WHERE event_id % 10 = 0),
ev AS MATERIALIZED (SELECT * FROM sc WHERE event_id % 10 = 5),
$plattFitSql,
br AS (SELECT count(*) AS n_eval,
  round(avg((round(1.0/(1.0 + exp(-d.d4)) + 5e-11, 4) - d.y)
          * (round(1.0/(1.0 + exp(-d.d4)) + 5e-11, 4) - d.y)) + 5e-11, 4) AS brier_raw,
  round(avg((round(1.0/(1.0 + exp(-(i.b + (d.d4 - s.m0)/s.s0*i.w0))) + 5e-11, 4) - d.y)
          * (round(1.0/(1.0 + exp(-(i.b + (d.d4 - s.m0)/s.s0*i.w0))) + 5e-11, 4) - d.y)) + 5e-11, 4) AS brier_cal
  FROM ev d, i8 i, ps s),
nc AS (SELECT count(*) AS n_cal FROM cal)
SELECT nc.n_cal, br.n_eval, round(i.w0 + 5e-11, 4) AS a,
  round(i.b + 5e-11, 4) AS b, br.brier_raw, br.brier_cal
FROM nc, br, i8 i"""
    },
    "q244_gbt_grid" -> locally {
      // per-rate replay of the q201 chain (prefixed CTE namespaces share
      // one f0 and one stratified split), staged mid-rank AUC per
      // (rate, rounds) cell, rank via a correlated strictly-better count
      val T = 2
      val rateCells = Seq("0.3" -> "ra_", "0.5" -> "rb_", "1.0" -> "rc_")
      val chains = rateCells.map { case (rate, pfx) =>
        (1 to T).map(t => gbtRound(t, "fb", pfx, rate)).mkString(",\n")
      }.mkString(",\n")
      val stages = rateCells.flatMap { case (_, pfx) =>
        (1 to T).map { t =>
          s"""sc$pfx$t AS MATERIALIZED (
  SELECT vld.y, ${gbtScore(t, "vld", pfx)} AS s
  FROM vld CROSS JOIN f0${gbtJoins(t + 1, pfx)}),
${sqlAuc(s"u$pfx$t", s"sc$pfx$t", "s")}"""
        }
      }.mkString(",\n")
      val rows = rateCells.flatMap { case (rate, pfx) =>
        (1 to T).map(t =>
          s"""SELECT CAST($rate AS DOUBLE) AS rate, CAST($t AS BIGINT) AS rounds,
  u$pfx$t.n AS n_val, round(u$pfx$t.auc + 5e-11, 4) AS val_auc
FROM u$pfx$t""")
      }.mkString("\nUNION ALL\n")
      s"""WITH fb0 AS ($featSql),
fp AS MATERIALIZED (
  SELECT *, (row_number() OVER (PARTITION BY y
    ORDER BY ('0x' || substr(md5('gbtg:' || event_id), 1, 8))::UBIGINT,
      event_id) - 1) % 5 AS vb5
  FROM fb0),
fb AS MATERIALIZED (SELECT * FROM fp WHERE vb5 <> 0),
vld AS MATERIALIZED (SELECT * FROM fp WHERE vb5 = 0),
f0 AS (SELECT round(sum(y)::DOUBLE / count(*) + 5e-11, 4) AS v FROM fb),
$chains,
$stages,
cells AS MATERIALIZED (
$rows)
SELECT a.rate, a.rounds, a.n_val, a.val_auc,
  CAST(1 + (SELECT count(*) FROM cells b
    WHERE b.val_auc > a.val_auc
       OR (b.val_auc = a.val_auc AND (b.rate < a.rate
       OR (b.rate = a.rate AND b.rounds < a.rounds)))) AS BIGINT) AS rank
FROM cells a"""
    },
    "q241_platt_served" -> locally {
      // the q235 replay (NB -> 4dp delta -> cal-slice GD) emitting the
      // EVAL rows themselves: per event the raw sigmoid posterior and
      // the Platt-calibrated risk_score the streaming path serves
      val fs = Seq("hb", "dowi", "vb")
      s"""WITH f AS ($featSql),
tr AS (SELECT * FROM f WHERE event_id % 5 <> 0),
te AS (SELECT * FROM f WHERE event_id % 5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
scd AS (
  SELECT te.event_id, te.y,
    ln(pr.n1/pr.n0) + ${fs.map(f => nbTerm(f)).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")}),
sc AS MATERIALIZED (
  SELECT event_id, CAST(y AS BIGINT) AS y, round(delta + 5e-11, 4) AS d4 FROM scd),
cal AS MATERIALIZED (SELECT event_id, y::DOUBLE AS y, d4 FROM sc WHERE event_id % 10 = 0),
$plattFitSql
SELECT e.event_id, e.y, e.d4,
  round(1.0/(1.0 + exp(-e.d4)) + 5e-11, 4) AS p_raw,
  round(1.0/(1.0 + exp(-(i.b + (e.d4 - s.m0)/s.s0*i.w0))) + 5e-11, 4) AS risk_score
FROM sc e CROSS JOIN i8 i CROSS JOIN ps s
WHERE e.event_id % 10 = 5"""
    },
    "q250_nb_platt_store" -> locally {
      // the q241 fit replay, emitted as the ModelStore.nbPlattRows
      // layout after the engine's disk round trip; n_agree = n_scored
      // asserts the rebuilt serving column's exact parity in-engine
      val fs = Seq("hb", "dowi", "vb")
      val likeRows = fs.zipWithIndex.map { case (f, fi) =>
        s"""SELECT 'nbp' AS model_id, 'nb_platt' AS kind, 'like' AS part,
  CAST($fi * 1000000 + rn - 1 AS BIGINT) AS idx, CAST('$f' AS VARCHAR) AS k,
  ${sqlR4("c1v")} AS v1, ${sqlR4("c0v")} AS v2, CAST(NULL AS DOUBLE) AS v3,
  CAST(v AS BIGINT) AS c1, CAST($fi AS BIGINT) AS c2,
  mc.n AS n_scored, mc.n AS n_agree
FROM (SELECT v, c1 AS c1v, c0 AS c0v,
      row_number() OVER (ORDER BY v) AS rn FROM l_$f) CROSS JOIN mc"""
      }.mkString("\nUNION ALL\n")
      s"""WITH f AS ($featSql),
tr AS (SELECT * FROM f WHERE event_id % 5 <> 0),
te AS (SELECT * FROM f WHERE event_id % 5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
scd AS (
  SELECT te.event_id, te.y,
    ln(pr.n1/pr.n0) + ${fs.map(f => nbTerm(f)).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")}),
sc AS MATERIALIZED (
  SELECT event_id, CAST(y AS BIGINT) AS y, round(delta + 5e-11, 4) AS d4 FROM scd),
cal AS MATERIALIZED (SELECT event_id, y::DOUBLE AS y, d4 FROM sc WHERE event_id % 10 = 0),
$plattFitSql,
mc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f WHERE event_id % 10 = 5)
SELECT CAST('nbp' AS VARCHAR) AS model_id, CAST('nb_platt' AS VARCHAR) AS kind,
  CAST('prior' AS VARCHAR) AS part, CAST(0 AS BIGINT) AS idx,
  CAST(NULL AS VARCHAR) AS k, ${sqlR4("pr.n1")} AS v1, ${sqlR4("pr.n0")} AS v2,
  CAST(NULL AS DOUBLE) AS v3, CAST(NULL AS BIGINT) AS c1,
  CAST(NULL AS BIGINT) AS c2, mc.n AS n_scored, mc.n AS n_agree
FROM pr CROSS JOIN mc
UNION ALL
SELECT 'nbp', 'nb_platt', 'cal_meta', CAST(0 AS BIGINT), CAST(NULL AS VARCHAR),
  ${sqlR4("i.b")}, CAST(0.5 AS DOUBLE), CAST(NULL AS DOUBLE),
  CAST(8 AS BIGINT), CAST(NULL AS BIGINT), mc.n, mc.n
FROM i8 i CROSS JOIN mc
UNION ALL
SELECT 'nbp', 'nb_platt', 'cal_feature', CAST(0 AS BIGINT), CAST('d4' AS VARCHAR),
  ${sqlR4("s.m0")}, ${sqlR4("s.s0")}, ${sqlR4("i.w0")},
  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), mc.n, mc.n
FROM i8 i CROSS JOIN ps s CROSS JOIN mc
UNION ALL
$likeRows"""
    },
    "q251_forest_store" -> locally {
      // per-tree replay of the 3-member depth-2 forest fit (the q204
      // machinery), emitted as the ModelStore.forestRows layout after
      // the engine's publish → read → rebuild round trip; n_agree =
      // n_scored asserts the rebuilt vote column's exact parity
      // in-engine, n_manifest = 1 asserts the default write carries the
      // torn-read manifest row
      val allF = gbFeatures
      val trees = 3
      val depth = 2
      def featsOf(t: Int) = allF.patch(t % allF.size, Nil, 1)
      val treeCtes = (0 until trees).map { t =>
        s"""f_t${t}r0 AS MATERIALIZED (
  SELECT * FROM trn
  WHERE ('0x' || substr(md5('rf$t:' || event_id), 1, 8))::UBIGINT % 3 <> 0),
${deepTreeCtes(depth, featsOf(t), s"t$t")},
sp_t$t AS (
  SELECT 0 AS plen, '' AS path, b.* FROM b_t${t}r0 b
  UNION ALL SELECT 1, 'l', b.* FROM b_t${t}l b
  UNION ALL SELECT 1, 'r', b.* FROM b_t${t}r b),
spn_t$t AS (SELECT *, row_number() OVER (ORDER BY plen, path) - 1 AS rn
  FROM sp_t$t)"""
      }.mkString(",\n")
      val metaRow =
        s"""SELECT CAST('rf' AS VARCHAR) AS model_id, CAST('forest' AS VARCHAR) AS kind,
  CAST('meta' AS VARCHAR) AS part, CAST(0 AS BIGINT) AS idx,
  CAST(NULL AS VARCHAR) AS k, CAST(NULL AS VARCHAR) AS k2,
  CAST(NULL AS DOUBLE) AS v1, CAST(NULL AS DOUBLE) AS v2,
  CAST($trees AS BIGINT) AS c1, CAST(NULL AS BIGINT) AS c2,
  CAST(NULL AS BIGINT) AS c3, CAST(NULL AS BIGINT) AS c4,
  mc.n AS n_scored, mc.n AS n_agree, CAST(1 AS BIGINT) AS n_manifest
FROM mc"""
      val memberRows = (0 until trees).map { t =>
        s"""SELECT 'rf', 'forest', 'member', CAST($t AS BIGINT),
  CAST('${featsOf(t).mkString(",")}' AS VARCHAR), CAST(NULL AS VARCHAR),
  CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE),
  CAST(st.n AS BIGINT), st.pos, CAST($depth AS BIGINT),
  CAST(NULL AS BIGINT), mc.n, mc.n, CAST(1 AS BIGINT)
FROM st_t${t}r0 st, mc"""
      }.mkString("\nUNION ALL\n")
      val splitRows = (0 until trees).map { t =>
        s"""SELECT 'rf', 'forest', 'split', CAST($t * 1000000 + rn AS BIGINT),
  CAST(path AS VARCHAR), sp.feature,
  round(sp.threshold + 5e-11, 4), sp.gini,
  sp.n_left, sp.pos_left, sp.n_right, sp.pos_right,
  mc.n, mc.n, CAST(1 AS BIGINT)
FROM spn_t$t sp, mc"""
      }.mkString("\nUNION ALL\n")
      s"""WITH fb AS ($featSql),
fp AS MATERIALIZED (
  SELECT *, ('0x' || substr(md5('rf:' || event_id), 1, 8))::UBIGINT % 5 AS vb5
  FROM fb),
trn AS MATERIALIZED (SELECT * FROM fp WHERE vb5 <> 0),
$treeCtes,
mc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM fp WHERE vb5 = 0)
$metaRow
UNION ALL
$memberRows
UNION ALL
$splitRows"""
    },
    "q233_calibration" -> {
      // NB likelihood-table replay (the q167 machinery), then sklearn's
      // uniform-bin searchsorted-left edge counting on the 4dp-rounded
      // held-out posterior + Brier score + ECE
      val fs = Seq("hb", "dowi", "vb")
      val edges = (1 to 19).map(j =>
        s"CASE WHEN p > ${j / 20.0} THEN 1 ELSE 0 END").mkString(" + ")
      s"""WITH f AS ($featSql),
tr AS (SELECT * FROM f WHERE event_id % 5 <> 0),
te AS (SELECT * FROM f WHERE event_id % 5 = 0),
pr AS (SELECT CAST(sum(y) AS DOUBLE) AS n1, CAST(count(*) - sum(y) AS DOUBLE) AS n0 FROM tr),
${fs.map(nbLike).mkString(",\n")},
scd AS (
  SELECT te.y,
    ln(pr.n1/pr.n0) + ${fs.map(nbTerm).mkString("\n      + ")} AS delta
  FROM te
  CROSS JOIN pr ${fs.map(f => s"CROSS JOIN k_$f").mkString(" ")}
  ${fs.map(f => s"LEFT JOIN l_$f ON te.$f = l_$f.v").mkString("\n  ")}),
sc AS MATERIALIZED (
  SELECT y::DOUBLE AS y,
    round(1.0/(1.0 + exp(-delta)) + 5e-11, 4) AS p
  FROM scd),
br AS (SELECT round(avg((p - y)*(p - y)) + 5e-11, 4) AS brier FROM sc),
bt AS MATERIALIZED (
  SELECT ($edges) AS bin, count(*) AS n,
    round(avg(p) + 5e-11, 4) AS mean_pred,
    round(avg(y) + 5e-11, 4) AS frac_pos
  FROM sc GROUP BY 1),
ec AS (SELECT round(sum(n * abs(frac_pos - mean_pred)) / sum(n) + 5e-11, 4) AS ece FROM bt)
SELECT bt.bin, bt.n, bt.mean_pred, bt.frac_pos, br.brier, ec.ece
FROM bt, br, ec"""
    })
}
