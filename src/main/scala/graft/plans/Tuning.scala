package graft.plans

import org.apache.spark.sql.SparkSession

/** Documented cluster-tuning profiles: the session-conf deltas this
  * engine relies on at different scales, applied as one call instead of
  * scattered notebook snippets. Every key is a standard Spark conf —
  * the profile just encodes WHICH runtime behaviors the 100 TB plan
  * shapes assume (AQE re-planning, skew-join splitting, runtime bloom
  * filters pruning shuffle-join probe sides).
  */
object Tuning {

  /** Large-cluster batch profile. Partition count should be sized to
    * ~128-256MB of shuffle data per task; AQE coalesces down from it.
    */
  def cluster(spark: SparkSession, shufflePartitions: Int = 2000): Unit = {
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // runtime bloom filters: build a filter from the selective (dim)
    // side of a shuffle join and push it into the fact scan — the
    // shuffle-join analogue of dynamic partition pruning
    spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
  }

  /** Temporarily apply conf overrides, restoring previous values after
    * `f` (the session is shared; leaked confs change other plans).
    */
  def withConf[A](spark: SparkSession, kv: (String, String)*)(f: => A): A = {
    val prev = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
