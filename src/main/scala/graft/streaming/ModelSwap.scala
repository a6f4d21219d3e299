package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal
import graft.scoring.{AdaBoost, Boosting, ModelStore, Trainer, Trees}

/** Kind-dispatched rebuild of ANY stored model family into its serving
  * form — the engine twin of the reference retrainer's `joblib.load` of
  * whatever estimator class was dumped (`feedback/feedback_system.py:
  * 308-388` reloads every family it can retrain, not just the linear
  * one). A stored (model_id, version) slice self-describes its family
  * through the `kind` column, so a promotion may legally CHANGE family
  * (logistic v1 → boosted trees v2) and the stream follows.
  */
object ServedModel {

  /** A rebuilt serving model: the family tag, the feature columns its
    * score chain reads, and the literal score `Column` itself — always
    * a pure whole-stage-codegen projection (linear margin, vote chain,
    * or nested CASE), never a join, so serving cost is O(model) at
    * plan build and zero per row beyond the projection.
    *
    * `score` semantics are the family's native decision value (all
    * DoubleType): logistic margin, AdaBoost signed vote, boosting F(x),
    * deep-tree majority class as 0.0/1.0, forest majority-vote count,
    * perplexity-gate keep as 0.0/1.0, lang-NB predicted-class index —
    * each bit-identical to the batch scorer it wraps (`Trainer.margin` /
    * `AdaBoost.voteScore` / `Boosting.score` / `Boosting.scoreTrees` /
    * `Trees.predict` / `Forest.votesDeep` / `Perplexity.Gate.keep` /
    * `LangId.LangNb.predictIndex`).
    */
  final case class Built(kind: String, features: Seq[String], score: Column)

  /** Rebuild one (model_id, version) slice into its serving form,
    * dispatching on the stored `kind`. A torn-read manifest row
    * ([[ModelStore.withManifest]]) is checked and stripped first.
    */
  def of(rows: Seq[ModelStore.ModelRow]): Built = {
    val b = ModelStore.body(rows)
    require(b.nonEmpty, "ServedModel: empty model slice")
    val kinds = b.map(_.kind).distinct
    require(kinds.size == 1,
      s"ServedModel: slice holds mixed kinds: ${kinds.mkString(", ")}")
    kinds.head match {
      case "logistic" =>
        val m = ModelStore.logisticOf(b)
        Built("logistic", m.features, Trainer.margin(m))
      case "adaboost" =>
        val rs = ModelStore.adaBoostOf(b)
        Built("adaboost", rs.map(_.feature).distinct, AdaBoost.voteScore(rs))
      case "boost_stumps" =>
        val m = ModelStore.boostingOf(b)
        Built("boost_stumps", m.rounds.map(_.feature).distinct,
          Boosting.score(m))
      case "boost_trees" =>
        val m = ModelStore.boostedTreesOf(b)
        Built("boost_trees",
          m.rounds.flatMap(t =>
            Seq(t.rootFeature, t.leftFeature, t.rightFeature)).distinct,
          Boosting.scoreTrees(m))
      case "tree" =>
        val m = ModelStore.deepTreeOf(b)
        Built("tree", m.splits.values.map(_.feature).toSeq.distinct.sorted,
          Trees.predict(m).cast("double"))
      case "perplexity_gate" =>
        // the curation gate served like any promoted model: score = the
        // keep decision as 0.0/1.0, bitwise-equal to the batch
        // Perplexity.Gate.keep column (the stored logps round-trip
        // IEEE-exact, thresholds are 4 dp literals)
        val g = ModelStore.perplexityGateOf(b)
        Built("perplexity_gate", Seq("source", "text"),
          g.keep(col("source"), col("text")).cast("double"))
      case "forest" =>
        // majority-vote count (0..trees), the forest's native decision
        // value — bit-identical to the batch Forest.votesDeep chain
        // (and, through FTree.deep, to the depth-2 Forest.votes form)
        val f = ModelStore.forestOf(b)
        Built("forest",
          f.flatMap(_.model.splits.values.map(_.feature)).distinct.sorted,
          graft.scoring.Forest.votesDeep(f).cast("double"))
      case "bm25_query" =>
        // a standing retrieval query served like any promoted model: the
        // prospective-search / alerting pattern — score = the frozen
        // query's BM25 over the row's text, a pure O(topTerms) fold per
        // row (deterministic sorted-term summation), no index, no join
        val m = ModelStore.bm25QueryOf(b)
        Built("bm25_query", Seq("text"), m.score(col("text")))
      case "lang_nb" =>
        // the frozen lang tagger served like any promoted model: score =
        // the predicted class's INDEX in the lex-sorted class list (the
        // argmax's native decision value), NULL for trigram-less docs —
        // bit-identical to LangNb.predict's label through the shared fold
        val m = ModelStore.langNbOf(b)
        Built("lang_nb", Seq("text"), m.predictIndex(col("text")))
      case "nb_platt" =>
        // the q241 served pair: NB log-odds -> 4 dp rounding (the grain
        // the calibrator was FIT on) -> standardized Platt sigmoid, all
        // in the exact operation order of the streaming scorer
        // (`StreamingFeatures.nbCalibratedScoredFeatures`) so the served
        // probability is bit-identical; emitted at the 4 dp serving
        // grain, the q241 contract
        val (nb, cal) = ModelStore.nbPlattOf(b)
        val d4 = graft.queries.r6(nb.delta)
        val margin = lit(cal.intercept) +
          ((d4 - lit(cal.means.head)) / lit(cal.stds.head)) * lit(cal.weights.head)
        Built("nb_platt", nb.features,
          graft.queries.r6(lit(1.0) / (lit(1.0) + exp(-margin))))
      case k => throw new IllegalArgumentException(
        s"ServedModel: unknown stored model kind '$k'")
    }
  }
}

/** Micro-batch model hot-swap — the engine twin of the reference
  * retrainer's save-then-RELOAD lifecycle (`feedback/feedback_system.py:
  * 308-388` retrains, joblib-dumps, and the serving process picks the
  * new estimator up without a restart). The stateless scorers in
  * [[StreamingFeatures]] bake the model literals in at plan-build; this
  * wrapper instead re-resolves the latest version of `modelId` in the
  * versioned [[graft.scoring.ModelStore]] parquet table at every
  * micro-batch, rebuilds it via [[ServedModel.of]] (kind-dispatched —
  * the promoted version may be a different family than the one
  * serving), and stamps every scored row with the version AND kind that
  * produced it. A version promoted BETWEEN batches starts scoring at the
  * next batch boundary — the foreachBatch body is the swap point.
  *
  * Cost model: one 1-row max over the model table per micro-batch
  * (O(model parts) rows of narrow parquet — never fact-table sized),
  * plus one model-sized collect only when the version moves; steady
  * state is a footer read.
  *
  * Usage:
  * {{{
  *   val swap = new HotSwapScorer(storePath, "fraud_lr")
  *   features.writeStream.foreachBatch { (b: DataFrame, _: Long) =>
  *     sink(swap.scoreBatch(b))
  *   }
  * }}}
  */
final class HotSwapScorer(storePath: String, modelId: String)
    extends Serializable {

  @transient @volatile private var cached: (Long, ServedModel.Built) = _
  @volatile private var pinned: Option[Long] = None
  @volatile private var failStreak: Int = 0

  def currentVersion: Option[Long] = Option(cached).map(_._1)
  def currentKind: Option[String] = Option(cached).map(_._2.kind)

  /** Consecutive resolve failures absorbed by the cached model — 0 in
    * steady state; a growing streak distinguishes a persistently broken
    * store (or a pin to a version that does not exist) from a transient
    * torn read.
    */
  def consecutiveFailures: Int = failStreak

  /** Pin serving to one stored version (the rollback lever: a bad
    * promotion is undone by pinning the last good version — no store
    * rewrite, next batch serves it). `unpin()` resumes latest-wins.
    */
  def pin(version: Long): Unit = { pinned = Some(version) }
  def unpin(): Unit = { pinned = None }

  /** Resolve pinned-or-latest → serving form, with the torn-read
    * fallback: any read/rebuild failure (including a manifest-count
    * mismatch from a half-visible append) keeps the cached version
    * serving this batch.
    */
  def resolve(spark: SparkSession): (Long, ServedModel.Built) = {
    val c = cached
    try {
      val store = spark.read.parquet(storePath)
      val want = pinned.getOrElse(
        ModelStore.latestVersion(store, modelId).getOrElse(
          throw new IllegalStateException(
            s"HotSwapScorer: no versions of '$modelId' in $storePath")))
      if (c == null || c._1 != want)
        cached = (want, ServedModel.of(ModelStore.rowsOf(store, modelId, want)))
      failStreak = 0
      cached
    } catch {
      case NonFatal(e) if c != null =>
        failStreak += 1
        ModelSwap.log.warn(
          s"HotSwapScorer($modelId): resolve failed ($failStreak " +
            s"consecutive${pinned.fold("")(v => s", pinned to $v")}); " +
            s"serving cached version ${c._1} (${c._2.kind})", e)
        c
    }
  }

  /** foreachBatch body: score with the latest resolvable version.
    * Feature presence re-checks on every batch — a promotion may change
    * the feature set (or the family, and with it the columns read).
    */
  def scoreBatch(batch: DataFrame): DataFrame = {
    val (ver, m) = resolve(batch.sparkSession)
    val missing = m.features.filterNot(batch.columns.contains)
    require(missing.isEmpty,
      s"HotSwapScorer: version $ver (${m.kind}) features absent from the batch: $missing")
    batch.withColumn("model_version", lit(ver))
      .withColumn("model_kind", lit(m.kind))
      .withColumn("model_score", m.score)
  }
}

/** slf4j logger for the hot-swap wrapper (slf4j ships on
  * Spark's classpath; the wrapper logs through it so suppressed resolve
  * failures land in the same sink as the engine's own warnings).
  */
private[streaming] object ModelSwap {
  val log: org.slf4j.Logger =
    org.slf4j.LoggerFactory.getLogger("graft.streaming.ModelSwap")
}
