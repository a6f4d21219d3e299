package graft.schema

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.WindowSpec
import org.apache.spark.sql.functions._
import graft.ops.{CoreFeatures, Trailing}

/** The engine's FeatureView registry (SURVEY §1.1): the reference declares
  * feature schemas as Feast FeatureViews (`feature_repo/definitions.py`)
  * and generates feature names in loops over (agg, window) pairs
  * (`flink_job/real_time_processor.py:157-176`, notebook cell-6).
  *
  * Here a feature IS a named (kind, window) pair that can render itself
  * both as a Spark `Column` over the canonical trailing window spec and
  * as the equivalent ANSI-SQL expression — one definition, two backends,
  * which is what keeps the oracle honest as views grow.
  *
  * All kinds for one entity share ONE partitionBy+orderBy, so a view with
  * 12 kinds x 6 windows still plans a single Exchange + Sort.
  */
object FeatureViews {

  /** The notebook's window inventory (cell-6). */
  val windows6: Seq[(String, Long)] = Seq(
    "1m" -> 60L, "5m" -> 300L, "15m" -> 900L,
    "1h" -> 3600L, "6h" -> 21600L, "24h" -> 86400L)

  /** Per-window feature kinds of the extended customer view
    * (notebook cell-6; names per FIXTURES A2). `double` marks features
    * whose values need rounding for hash-compare.
    */
  case class Kind(name: String, double: Boolean) {
    def featureName(w: String): String = name.format(w)
  }

  val kinds: Seq[Kind] = Seq(
    Kind("txn_count_%s", double = false),
    Kind("txn_amount_sum_%s", double = true),
    Kind("avg_txn_amount_%s", double = true),
    Kind("max_txn_amount_%s", double = true),
    Kind("min_txn_amount_%s", double = true),
    Kind("std_txn_amount_%s", double = true),
    Kind("unique_merchants_%s", double = false),
    Kind("unique_ips_%s", double = false),
    Kind("velocity_score_%s", double = true),
    Kind("night_txn_ratio_%s", double = true),
    Kind("weekend_txn_ratio_%s", double = true),
    Kind("business_hours_ratio_%s", double = true))

  /** Spark column for (kind, window length) over the canonical spec.
    * `exact = false` swaps sketch-based twins in where they exist
    * (SURVEY §7.4 #6: HLL distincts) — the 100 TB configuration; the
    * exact form is the oracle-checked default.
    */
  def column(kind: Kind, w: WindowSpec, secs: Long, exact: Boolean = true): Column = {
    val ts = col("event_timestamp")
    if (!exact) kind.name match {
      case "unique_merchants_%s" => return CoreFeatures.approxDistinctOver(col("merchant_id"), w, secs)
      case "unique_ips_%s" => return CoreFeatures.approxDistinctOver(col("ip_address"), w, secs)
      case _ => ()
    }
    kind.name match {
      case "txn_count_%s" => CoreFeatures.txnCount(w, secs)
      case "txn_amount_sum_%s" => CoreFeatures.amountSum(col("amount"), w, secs)
      case "avg_txn_amount_%s" => CoreFeatures.amountAvg(col("amount"), w, secs)
      case "max_txn_amount_%s" => CoreFeatures.amountMax(col("amount"), w, secs)
      case "min_txn_amount_%s" => CoreFeatures.amountMin(col("amount"), w, secs)
      case "std_txn_amount_%s" => CoreFeatures.amountStdPop(col("amount"), w, secs)
      case "unique_merchants_%s" => CoreFeatures.distinctOver(col("merchant_id"), w, secs)
      case "unique_ips_%s" => CoreFeatures.distinctOver(col("ip_address"), w, secs)
      case "velocity_score_%s" => CoreFeatures.velocity(w, secs)
      case "night_txn_ratio_%s" => CoreFeatures.condRatio(CoreFeatures.isNight(ts), w, secs)
      case "weekend_txn_ratio_%s" => CoreFeatures.condRatio(CoreFeatures.isWeekend(ts), w, secs)
      case "business_hours_ratio_%s" => CoreFeatures.condRatio(CoreFeatures.isBusinessHours(ts), w, secs)
    }
  }

  /** The full 12-kind × 6-window view as ONE window-function plan (no
    * rounding): the reference form that [[graft.ops.MultiWindow]], the
    * path every caller runs, is checked against (MultiWindowSpec,
    * `tools.Soak`).
    */
  def windowView(tx: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Trailing.spec(col("customer_id"), col("event_timestamp"))
    val cols = for {
      (wName, secs) <- windows6
      kind <- kinds
    } yield column(kind, w, secs).as(kind.featureName(wName))
    tx.select(col("transaction_id") +: col("customer_id") +: cols: _*)
  }

  /** DuckDB-SQL expression for (kind, window alias) — mirrors [[column]]
    * term for term over the `events` table's native columns.
    */
  def sqlExpr(kind: Kind, wAlias: String, secs: Long): String = kind.name match {
    case "txn_count_%s" => s"count(*) OVER $wAlias"
    case "txn_amount_sum_%s" => s"sum(value) OVER $wAlias"
    case "avg_txn_amount_%s" => s"avg(value) OVER $wAlias"
    case "max_txn_amount_%s" => s"max(value) OVER $wAlias"
    case "min_txn_amount_%s" => s"min(value) OVER $wAlias"
    case "std_txn_amount_%s" => s"coalesce(stddev_pop(value) OVER $wAlias, 0.0)"
    case "unique_merchants_%s" => s"count(DISTINCT event_type) OVER $wAlias"
    case "unique_ips_%s" => s"count(DISTINCT props->>'$$.k') OVER $wAlias"
    case "velocity_score_%s" => s"(count(*) OVER $wAlias) / ${secs / 60.0}"
    case "night_txn_ratio_%s" =>
      s"avg(CASE WHEN hour(ts) < 6 OR hour(ts) > 22 THEN 1.0 ELSE 0.0 END) OVER $wAlias"
    case "weekend_txn_ratio_%s" =>
      s"avg(CASE WHEN isodow(ts) >= 6 THEN 1.0 ELSE 0.0 END) OVER $wAlias"
    case "business_hours_ratio_%s" =>
      s"avg(CASE WHEN hour(ts) BETWEEN 9 AND 17 THEN 1.0 ELSE 0.0 END) OVER $wAlias"
  }
}
