package graft.pit

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Trailing

/** Point-in-time (as-of) training-set construction (SURVEY J2).
  *
  * The reference loops per label row filtering the whole event table to
  * `event_timestamp <= t` — O(N·M) (reference
  * `feature_engineering/advanced_features.py:403-432`, notebook cell-6).
  * Here: when the label rows are decoupled from events, union-tag the
  * probes into the event stream, run the SAME canonical trailing windows
  * over the union (events carry the measure, probes carry null so
  * count/sum ignore them), and keep the probe rows. One shuffle on the
  * entity key, no leakage: a probe at time t sees exactly events with
  * ts <= t.
  */
object PointInTime {

  /** `events`: (key, ts_micros, amount). `probes`: (probe_id, key,
    * ts_micros). Returns one row per probe with trailing count/sum per
    * window, zero-defaulted.
    */
  def asOfFeatures(events: DataFrame, probes: DataFrame,
                   windows: Seq[(String, Long)]): DataFrame = {
    val u = events.select(col("key"), col("ts_micros"), col("amount"),
        lit(null).cast("long").as("probe_id"))
      .unionByName(probes.select(col("key"), col("ts_micros"),
        lit(null).cast("double").as("amount"), col("probe_id")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("key")).orderBy(col("ts_micros"))
    val featCols = windows.flatMap { case (name, secs) =>
      val frame = Trailing.lastSeconds(w, secs)
      Seq(
        count(col("amount")).over(frame).as(s"txn_count_$name"),
        coalesce(sum(col("amount")).over(frame), lit(0.0)).as(s"txn_amount_sum_$name"))
    }
    u.select(col("probe_id") +: col("key") +: featCols: _*)
      .where(col("probe_id").isNotNull)
  }
}
