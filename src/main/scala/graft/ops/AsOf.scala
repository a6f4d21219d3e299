package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** As-of join: for each probe row, the key's latest event row with
  * `event.tm <= probe.tm` (reference `advanced_features.py:410-414` does
  * this as a per-row Python filter loop; SURVEY J2/P2 is the aggregate
  * form — this is the row-returning form, e.g. "state as the model saw it
  * at decision time").
  *
  * Spark has no ASOF JOIN operator; the idiomatic scale shape is the
  * union-tag trick: tag events 0 / probes 1, union, and carry the last
  * non-null event payload forward with one `last(_, ignoreNulls)` range
  * window — a single Exchange on the key, no per-probe rescan of the
  * event table, no range-join quadratic blowup. Ordering (tm, tag) makes
  * the boundary inclusive (an event exactly at the probe instant wins),
  * matching DuckDB `ASOF JOIN ... ON p.tm >= e.tm` semantics.
  */
object AsOf {

  /** Join `probes(probe_id, key, tm)` to the latest row of
    * `events(key, tm, payload...)` at-or-before each probe's `tm`.
    * Output: probe_id, key, tm, and the matched payload columns
    * (null when the key has no event at-or-before the probe).
    */
  def lastEventAsOf(events: DataFrame, probes: DataFrame, payload: Seq[String]): DataFrame =
    carry(events, probes, payload.map(col), "matched")
      .select(col("probe_id") +: col("key") +: col("tm") +:
        payload.map(c => col(s"matched.$c").as(c)): _*)

  /** Tolerance-bounded as-of join (pandas `merge_asof(tolerance=...)`):
    * like [[lastEventAsOf]], but a match older than `tolerance` time
    * units before the probe is discarded — "the last reading, unless it
    * has gone stale". Same single-exchange union-tag plan; the staleness
    * cut is a post-window filter on the carried event time, so the
    * tolerance adds zero shuffles. Payload columns AND the matched event
    * time are nulled when the only candidate is stale.
    */
  def lastEventAsOfTol(events: DataFrame, probes: DataFrame,
                       payload: Seq[String], tolerance: Long): DataFrame =
    carry(events, probes, col("tm").as("__evtm") +: payload.map(col), "m")
      .withColumn("fresh", col("m").isNotNull &&
        col("m.__evtm") >= col("tm") - tolerance)
      .select(col("probe_id") +: col("key") +: col("tm") +:
        when(col("fresh"), col("m.__evtm")).as("matched_tm") +:
        payload.map(c => when(col("fresh"), col(s"m.$c")).as(c)): _*)

  /** The union-tag body of both joins: events (tag 0) carry `fields` as
    * one struct, probes (tag 1) a null of its type, and one
    * `last(_, ignoreNulls)` window on the key carries the latest event
    * struct forward as column `carried`. Returns the probe rows.
    */
  private def carry(events: DataFrame, probes: DataFrame, fields: Seq[Column],
                    carried: String): DataFrame = {
    val ev = events.select(
      col("key"), col("tm"), lit(0).as("tag"), lit(null).cast("long").as("probe_id"),
      struct(fields: _*).as("payload"))
    val payloadType = ev.schema("payload").dataType
    val pr = probes.select(
      col("key"), col("tm"), lit(1).as("tag"), col("probe_id"),
      lit(null).cast(payloadType).as("payload"))
    val w = Window.partitionBy(col("key"))
      .orderBy(col("tm"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(pr)
      .withColumn(carried, last(col("payload"), ignoreNulls = true).over(w))
      .where(col("tag") === 1)
  }
}
