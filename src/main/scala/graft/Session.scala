package graft

import org.apache.spark.sql.SparkSession

/** The one session configuration every driver, tool and test suite runs
  * under, so the oracle gate, the bench and the tests execute the same
  * plans.
  */
object Session {

  /** Local cores: `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(cpus: Int = defaultCpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // AQE coalescing floor (Spark default 1m serializes compute-dense
      // small shuffles: the 72-column q37 feature pass ran on 2
      // post-shuffle partitions; q38/q98 read 3.4x/1.3x worse at 1m).
      // 64k (round 16) over-fragmented token-explode shuffles — the
      // BM25/text cluster (q268/q270/q271/q286) ran 2-3x slower than at
      // 256k, which keeps the q37/q38/q98 wins (r17 three-way bisect,
      // OPTIMIZATION_r17.md). Scale-neutral: with parallelismFirst
      // (default on) the coalescing target is max(bytes/parallelism,
      // FLOOR), so the floor only binds when a shuffle is smaller than
      // parallelism×256k — at production scale the bytes/parallelism
      // term dominates and this setting is inert.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      // Janino compiled-class cache (static conf, default 100 entries):
      // the suite's queries generate ~50-300 whole-stage/codegen units
      // EACH, so the default LRU evicts everything long before a shape
      // repeats — every rep of every query re-pays full source codegen +
      // janino compile (measured: q202 warm rep 14.7 s -> 7.8 s, q194
      // 12.9 s -> 8.2 s once compiled classes are reused; the Profile
      // counter reads ~0 compilations on warm reps with the larger
      // cache). This is compiled-CODE caching — what any long-running
      // production driver amortizes — never result or data caching:
      // every execution still scans parquet and computes every row.
      .config("spark.sql.codegen.cache.maxEntries", "100000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // transformWithState (AmlFeatureStore.streamingCustomerFeatures)
      // needs RocksDB; the batch queries run no stateful operator, so
      // for them the setting is inert
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
