package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** Per-event trailing event-time windows — the reference engine's core
  * operator (reference `flink_job/aml_stream_processor.py:140-163`,
  * `flink_job/real_time_processor.py:41-48,157-176`): at each event,
  * aggregate that key's preceding W seconds.
  *
  * Semantics pinned to the reference (SURVEY §4.3):
  *   - frame is strict-open on the left: (t - W, t]  — the reference keeps
  *     records with `timestamp > cutoff` (`aml_stream_processor.py:98,149`).
  *     On epoch-microseconds that is `rangeBetween(-(W*1e6 - 1), 0)`.
  *   - the current event is always included (state append happens before
  *     feature calculation, `aml_stream_processor.py:90-112`).
  *
  * Scale posture: all features for one entity share ONE canonical
  * `partitionBy(key).orderBy(unix_micros(ts))` spec, so Catalyst plans a
  * single Exchange + single Sort for any number of window lengths and
  * aggregates — 10 windows cost one shuffle. At 100 TB the shuffle is on
  * the entity key (same key the online pipeline partitions by). A hot key
  * stays in one task: AQE splits skewed partitions of joins only, not of
  * window or aggregate stages.
  */
object Trailing {
  /** Canonical window spec for one entity key ordered by event time. */
  def spec(key: Column, ts: Column): WindowSpec =
    Window.partitionBy(key).orderBy(unix_micros(ts))

  /** Strict (t-W, t] frame over the canonical spec, W in seconds. */
  def lastSeconds(w: WindowSpec, seconds: Long): WindowSpec =
    w.rangeBetween(-(seconds * 1000000L - 1), 0)

  /** Unbounded-preceding frame (full history as-of the event). */
  def asOf(w: WindowSpec): WindowSpec =
    w.rangeBetween(Window.unboundedPreceding, Window.currentRow)

  /** The reference's window inventory, name suffix -> seconds.
    * Job 1 (`aml_stream_processor.py:140-145`): 60s, 5m, 10m, 1h.
    * Job 2 / notebook (`real_time_processor.py:41-48`): +15m, 6h, 24h;
    * behavioral views add 7d (`feature_repo/definitions.py:72`).
    */
  val refWindows: Seq[(String, Long)] = Seq(
    "60s" -> 60L, "5m" -> 300L, "10m" -> 600L, "15m" -> 900L,
    "1h" -> 3600L, "6h" -> 21600L, "24h" -> 86400L, "7d" -> 604800L)

  def seconds(suffix: String): Long =
    refWindows.toMap.getOrElse(suffix, sys.error(s"unknown window $suffix"))
}
