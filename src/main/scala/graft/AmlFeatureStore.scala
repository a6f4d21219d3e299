package graft

import graft.online.Snapshot
import graft.ops.CoreFeatures
import graft.pit.PointInTime
import graft.scoring.Risk
import graft.streaming.{StreamFeatures, StreamTxn, StreamingFeatures}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The library's front door: every workflow a user of the reference runs
  * today, as one facade over the engine's operators —
  *
  *   - offline feature backfill        (reference notebook / Feast materialize)
  *   - online snapshot with TTL        (Flink -> Redis hash, EXPIRE 86400)
  *   - point lookup + cold-start       (`api/main.py:327-363` HGETALL/defaults)
  *   - risk scoring + explanations     (`api/main.py` /predict)
  *   - point-in-time training sets     (`advanced_features.py:403-432`)
  *   - streaming per-event features    (`flink_job/aml_stream_processor.py`)
  *
  * Every method returns a lazy DataFrame/Dataset — callers compose and
  * Catalyst plans the whole pipeline as one job. [[fullFeatures]] is
  * not fully lazy: its kernel reads its sorted input as an RDD, so the
  * call itself runs that input's shuffle map stage.
  */
class AmlFeatureStore(spark: SparkSession) {

  // SQL clients of this session get the native functions too
  graft.functions.GraftFunctions.register(spark)

  /** Per-event trailing-window customer features (the A1–A14 view).
    * Input: the canonical transaction frame (`Tables.transactions`).
    */
  def customerFeatures(tx: DataFrame): DataFrame = CoreFeatures.customerFeatures(tx)

  /** Merchant-entity view (A9/A10). */
  def merchantFeatures(tx: DataFrame): DataFrame = CoreFeatures.merchantFeatures(tx)

  /** The full 12-kind × 6-window backfill (72 features per event), from
    * one incremental pass per customer ([[graft.ops.MultiWindow]]). Equal,
    * bit for bit, to the window-function form
    * ([[graft.schema.FeatureViews.windowView]]), against which
    * MultiWindowSpec checks it; q37 runs it under the oracle.
    */
  def fullFeatures(tx: DataFrame): DataFrame = graft.ops.MultiWindow.fullView(tx)

  /** Online store: latest feature row per customer within `ttlSeconds` of
    * `now` — the relational form of the reference's Redis hash + EXPIRE.
    */
  def customerSnapshot(features: DataFrame, now: Column,
                       ttlSeconds: Long = 86400): DataFrame =
    Snapshot.withTtl(
      Snapshot.latest(features, col("customer_id"), col("event_timestamp"),
        col("transaction_id")),
      col("event_timestamp"), now, ttlSeconds)

  /** Cold-start default vector: every model feature zero (`api/main.py:343-363`). */
  private val coldStart: Map[String, Column] =
    Risk.model.map { case (f, _, _) => f -> lit(0.0) }.toMap

  /** The /predict surface: requests (request_id, customer_id, amount)
    * left-joined to the snapshot on customer_id (broadcast when small),
    * then one projection that zero-defaults a cold-start customer's
    * features ([[Snapshot.filled]]) and scores, classifies and explains
    * each request with the native risk nodes ([[Risk]]). No per-request
    * round trips; a one-request call runs two jobs (the broadcast and the
    * collect).
    */
  def predict(requests: DataFrame, snapshot: DataFrame): DataFrame = {
    // keep only (customer_id, feature columns): the snapshot's event-level
    // amount/merchant columns would collide with the request's
    val joined = requests.join(
      snapshot.drop("transaction_id", "merchant_id", "event_timestamp", "amount"),
      Seq("customer_id"), "left")
    val feature = Snapshot.filled(coldStart) _
    val s = Risk.score(col("amount"), feature)
    joined.select(col("request_id"), col("customer_id"), col("amount"),
      s.as("risk_score"), Risk.level(s).as("risk_level"),
      Risk.explanation(feature).as("explanation"))
  }

  /** Point-in-time training features for decoupled label rows (J2):
    * leakage-free by construction (union-tag, single shuffle).
    */
  def trainingSet(events: DataFrame, probes: DataFrame,
                  windows: Seq[(String, Long)]): DataFrame =
    PointInTime.asOfFeatures(events, probes, windows)

  /** Streaming twin of [[customerFeatures]]: one feature row per input
    * event via transformWithState (requires the RocksDB state store).
    */
  def streamingCustomerFeatures(events: Dataset[StreamTxn]): Dataset[StreamFeatures] =
    StreamingFeatures.customerFeatures(events)

  /** AML pattern screens (beyond the reference's single amount-threshold
    * rule, `api/main.py:175-200`): structuring band counts per customer,
    * Benford digit test, round-amount bias per merchant — batch forms;
    * [[streamingStructuring]] is the online structuring twin.
    */
  def structuringScreen(tx: DataFrame, threshold: Double = 100.0): DataFrame =
    graft.ops.AmlPatterns.structuring(tx, threshold)
  def benfordTest(tx: DataFrame): DataFrame = graft.ops.AmlPatterns.benford(tx)
  def roundAmountBias(tx: DataFrame): DataFrame = graft.ops.AmlPatterns.roundBias(tx)
  def streamingStructuring(events: Dataset[StreamTxn], threshold: Double = 100.0)
      : Dataset[graft.streaming.StructuringAlert] =
    graft.streaming.StructuringProcessor.screen(events, threshold)

  /** Entity-graph ranks for the graph feature family (G3–G10 extension):
    * PageRank over the symmetrized customer-merchant edge set.
    */
  def graphRanks(edges: DataFrame, iters: Int = 10): DataFrame =
    graft.ops.PageRank.run(edges, iters)

  /** Model layer (the reference's `models/advanced_models.py` surface,
    * RNG-free engine twins): deterministic full-batch logistic GD, a
    * categorical naive-Bayes baseline, the exact depth-1 CART stump
    * candidate table, and fixed-iteration Lloyd k-means. All train as
    * DataFrame aggregations — only O(model) rows ever reach the driver.
    */
  def trainLogistic(train: DataFrame, features: Seq[String], label: Column,
      iters: Int = 20, lr: Double = 0.5): graft.scoring.Trainer.LogisticModel =
    graft.scoring.Trainer.fitLogistic(train, features, label, iters, lr)
  def naiveBayesScores(train: DataFrame, test: DataFrame,
      features: Seq[String], label: Column): DataFrame =
    graft.scoring.Models.naiveBayesDelta(train, test, features, label)
  def stumpCandidates(df: DataFrame, features: Seq[String], label: Column): DataFrame =
    graft.scoring.Models.stumpCandidates(df, features, label)
  def segmentClusters(points: DataFrame, id: Column, features: Seq[String],
      k: Int = 3, iters: Int = 3): DataFrame =
    graft.scoring.KMeansOps.lloydSummary(points, id, features, k, iters)
  def boostStumps(train: DataFrame, features: Seq[String], label: Column,
      rounds: Int = 3, rate: Double = 0.5): graft.scoring.Boosting.Model =
    graft.scoring.Boosting.fit(train, features, label, rounds, rate)

  /** Closed-form anomaly detectors (the reference's deep-learning slots,
    * `models/advanced_models.py:107-172`): PCA reconstruction error fit
    * on a normal slice (autoencoder stand-in) and the Markov
    * transition-NLL sequence scorer (LSTM stand-in) — both also
    * servable on the streaming path ([[graft.streaming.MarkovScoreProcessor]]).
    */
  def reconstructionAnomaly(fitSlice: DataFrame, scoreSlice: DataFrame,
      emb: Column, iters: Int = 6): DataFrame = {
    val c = graft.scale.Pca.topComponent(fitSlice, emb, iters)
    scoreSlice.withColumn("recon_error",
      graft.scale.Pca.reconstructionError(emb, c))
  }
  def sequenceAnomaly(tx: DataFrame): DataFrame =
    graft.ops.AmlPatterns.markovNll(tx)
  def streamingSequenceScores(events: Dataset[StreamTxn],
      model: graft.ops.AmlPatterns.MarkovModel)
      : Dataset[graft.streaming.MarkovScore] =
    graft.streaming.StreamingFeatures.markovScores(events, model)

  /** Training-corpus layout: concat-and-chunk sequence packing report
    * (offsets from a corpus-wide exact cumsum; see [[graft.scale.Packing]]).
    */
  def packSequences(docs: DataFrame, order: Seq[Column], tokens: Column,
      binSize: Long): DataFrame =
    graft.scale.Packing.binReport(docs, order, tokens, binSize)

  /** The feast-registry surface (`feature_repo/definitions.py`): catalog
    * rows derived from the live serving-view schemas — the
    * feature-discovery + schema-contract view ([[graft.schema.FeatureRegistry]]).
    */
  def featureCatalog(tx: DataFrame): DataFrame =
    graft.schema.FeatureRegistry.catalog(tx)

  /** Round-7 tree family (the reference's strongest members,
    * `models/advanced_models.py:228-231,252`): gradient-boosted depth-2
    * trees, level-wise depth-N CART, and a deterministic deep forest
    * (md5 row subsamples + rotated leave-one-out feature subsets per
    * member). Every fit is a fixed number of fused candidate passes —
    * only argmax rows reach the driver.
    */
  def boostTrees(train: DataFrame, features: Seq[String], label: Column,
      rounds: Int = 2, rate: Double = 0.5): graft.scoring.Boosting.TreeModel =
    graft.scoring.Boosting.fitTrees(train, features, label, rounds, rate)
  def deepTree(train: DataFrame, features: Seq[String], label: Column,
      maxDepth: Int = 5): graft.scoring.Trees.DeepTree =
    graft.scoring.Trees.fitDepth(train, features, label, maxDepth)
  def deepForest(train: DataFrame, id: Column, features: Seq[String],
      label: Column, trees: Int = 5, maxDepth: Int = 3)
      : Seq[graft.scoring.Forest.DeepFTree] =
    graft.scoring.Forest.fitDeep(train, features, label, trees, maxDepth,
      t => graft.scale.Splits.bucket(id, s"rf$t", 3) =!= 0,
      t => features.patch(t % features.size, Nil, 1))

  /** Per-row LIME explanation of a boosted tree model (the reference's
    * LIMEExplainer, `explainability/shap_explainer.py:255-304`): appends
    * prediction, per-feature surrogate weights, intercept, and fidelity
    * R² — one shuffle-free projection; also servable on the streaming
    * path ([[graft.streaming.StreamingFeatures.limeScoredFeatures]]).
    */
  def explainLocal(df: DataFrame, model: graft.scoring.Boosting.TreeModel,
      features: Seq[String], background: Seq[Double]): DataFrame = {
    require(features.size == background.size,
      s"explainLocal: ${features.size} features vs ${background.size} background values")
    graft.scoring.Lime.explainTree(df, model, features,
      j => org.apache.spark.sql.functions.lit(background(j)))
  }
}
