package graft.online

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Online-store semantics as relational operators (SURVEY S6/S7/J1;
  * reference Redis hash-per-key with 24 h TTL,
  * `flink_job/aml_stream_processor.py:203-221`, `api/main.py:327-363`).
  *
  * The "store" is simply the latest feature row per entity key — a
  * dedup-by-max-timestamp. Point lookup becomes a broadcast left join of
  * the (small) request batch against the snapshot, with the reference's
  * zero-default cold-start vector supplied via coalesce.
  */
object Snapshot {

  /** Latest row per key (deterministic: ties broken by `tie` desc). */
  def latest(df: DataFrame, key: Column, ts: Column, tie: Column): DataFrame = {
    val w = Window.partitionBy(key).orderBy(ts.desc, tie.desc)
    df.withColumn("__rn", row_number().over(w))
      .where(col("__rn") === 1)
      .drop("__rn")
  }

  /** TTL filter: keep snapshot rows fresher than `ttlSeconds` relative to
    * `now` (the reference's Redis EXPIRE 86400).
    */
  def withTtl(snapshot: DataFrame, ts: Column, now: Column, ttlSeconds: Long): DataFrame =
    snapshot.where(unix_micros(ts) > unix_micros(now) - ttlSeconds * 1000000L)

  /** Feature lookup join: left join requests -> snapshot on `key`, then
    * one projection that keeps every column in place and fills each
    * `defaults` column with [[filled]] (`api/main.py:343-363`). Broadcast
    * chosen by Catalyst/AQE when the snapshot is small; at 100 TB both
    * sides hash-partition on the key.
    */
  def lookup(requests: DataFrame, snapshot: DataFrame, key: String,
             defaults: Map[String, Column]): DataFrame = {
    val joined = requests.join(snapshot, Seq(key), "left")
    val missing = defaults.keySet -- joined.columns
    require(missing.isEmpty, s"lookup: no column ${missing.mkString(", ")} to default")
    joined.select(joined.columns.toSeq.map(c => filled(defaults)(c).as(c)): _*)
  }

  /** Column `name` of a lookup join with its cold-start default, if it has
    * one, in place of NULL (a key the snapshot lacks). A caller that
    * computes over the join reads its columns through this to keep the
    * lookup and its own expressions in one projection.
    */
  def filled(defaults: Map[String, Column])(name: String): Column =
    defaults.get(name).fold(col(name))(coalesce(col(name), _))
}
