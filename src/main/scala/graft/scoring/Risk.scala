package graft.scoring

import graft.functions.{RiskExplanation, RiskScore}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge

/** The reference's weighted-linear risk model (reference
  * `api/main.py:82-209`): clamp-normalize each feature, weighted sum, rule
  * boosts, clamp to [0,1], classify, explain. The tables below are the
  * model; [[graft.functions.RiskKernel]] is its one implementation, which
  * the [[score]] and [[explanation]] columns call as native expressions
  * ([[graft.functions.RiskScore]], [[graft.functions.RiskExplanation]]).
  * Both generate Java, so a projection that scores or explains stays
  * inside whole-stage codegen: scoring a 100 TB feature table is a single
  * narrow map stage.
  */
object Risk {
  /** feature -> (weight, normalizer); `api/main.py:82-97,147-173`. */
  val model: Seq[(String, Double, Double)] = Seq(
    ("txn_amount_sum_60s", 0.15, 10000.0),
    ("txn_amount_sum_5m", 0.12, 25000.0),
    ("txn_amount_sum_1h", 0.10, 50000.0),
    ("txn_count_60s", 0.08, 10.0),
    ("txn_count_5m", 0.07, 20.0),
    ("txn_count_10m", 0.06, 30.0),
    ("txn_count_1h", 0.05, 50.0),
    ("unique_ips_1h", 0.20, 5.0),
    ("unique_merchants_1h", 0.05, 10.0),
    ("velocity_score_1h", 0.12, 2.0),
    ("amount_deviation_score_1h", 0.08, 5000.0),
    ("night_txn_count_24h", 0.06, 5.0),
    ("weekend_txn_count_7d", 0.03, 10.0),
    ("avg_txn_amount_1h", 0.03, 5000.0))

  /** Rule boosts (`api/main.py:175-200`). The current txn's amount earns
    * the boost of the first cut it exceeds.
    */
  val amountTiers: Seq[(Double, Double)] = Seq((10000.0, 0.3), (5000.0, 0.15))

  /** feature -> (cut, boost) when the feature exceeds the cut, added in
    * this order after the amount's boost.
    */
  val rules: Seq[(String, Double, Double)] = Seq(
    ("unique_ips_1h", 3.0, 0.25),
    ("velocity_score_1h", 1.5, 0.2),
    ("amount_deviation_score_1h", 3000.0, 0.15),
    ("night_txn_count_24h", 3.0, 0.1))

  private def features(feature: String => Column): Seq[Expression] =
    model.map { case (f, _, _) => ColumnBridge.expression(feature(f).cast("double")) }

  /** Clamped final score (`api/main.py:119-132,141`); `amount` is the
    * current txn. Never NULL: a NULL feature counts as saturated, a NULL
    * amount earns no boost.
    */
  def score(amount: Column): Column = score(amount, col(_))

  /** [[score]] over `feature(name)` instead of the column `name`. */
  def score(amount: Column, feature: String => Column): Column =
    ColumnBridge.column(
      RiskScore(features(feature) :+ ColumnBridge.expression(amount.cast("double"))))

  /** LOW <= 0.3 < MEDIUM <= 0.6 < HIGH (`api/main.py:202-209`). */
  def level(score: Column): Column =
    when(score <= 0.3, "LOW").when(score <= 0.6, "MEDIUM").otherwise("HIGH")

  /** Top-3 explanation factors (reference `api/main.py:211-241`): feature
    * names of the 3 largest weight contributions, kept only above the 0.05
    * significance floor. Ties (equal contributions) break by feature name;
    * the reference inherits Python dict order instead, so the tie rule here
    * is the engine's canonical choice, mirrored in the oracle.
    */
  def explanation: Column = explanation(col(_))

  /** [[explanation]] over `feature(name)` instead of the column `name`. */
  def explanation(feature: String => Column): Column =
    ColumnBridge.column(RiskExplanation(features(feature)))

  /** Attach risk_score + risk_level to a feature frame. */
  def scored(features: DataFrame, amount: Column): DataFrame = {
    val s = score(amount)
    features.select(col("*"), s.as("risk_score"), level(s).as("risk_level"))
  }
}
