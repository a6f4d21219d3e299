package graft

import graft.plans.Tuning
import graft.sources.Bucketing
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed co-located joins: pay the entity-key shuffle once at write
  * time, then every entity-keyed join plans with zero Exchange.
  */
class BucketingSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  /** Force the non-broadcast strategy only within `f` — the session is
    * shared across suites, so a builder-level conf would leak and break
    * the broadcast-asserting PlanSpec tests.
    */
  private def withNoBroadcast[A](f: => A): A =
    Tuning.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1")(f)

  /** The in-memory catalog forgets managed tables between JVM runs but
    * their warehouse directories survive — saveAsTable then fails with
    * LOCATION_ALREADY_EXISTS. Drop both the entry and the directory.
    */
  private def resetTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val wh = new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath
    val dir = java.nio.file.Paths.get(wh, name)
    if (java.nio.file.Files.exists(dir)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(dir).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.delete)
    }
  }

  test("joins between co-bucketed tables plan no exchange") { withNoBroadcast {
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val feats = tx.groupBy(col("customer_id"))
      .agg(count(lit(1)).as("txn_count"), sum(col("amount")).as("amount_sum"))
    Seq("tx_bucketed", "feats_bucketed", "tx_b8").foreach(resetTable)
    Bucketing.writeBucketed(tx.select("customer_id", "transaction_id", "amount"),
      "tx_bucketed", "customer_id", buckets = 4)
    Bucketing.writeBucketed(feats, "feats_bucketed", "customer_id", buckets = 4)

    val joined = Bucketing.colocatedJoin(spark, "tx_bucketed", "feats_bucketed", "customer_id")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!plan.contains("Exchange"), s"co-bucketed join must not shuffle:\n$plan")
    assert(plan.contains("SortMergeJoin"), plan)

    // correctness: same result as the plain (shuffling) join
    val expected = tx.select("customer_id", "transaction_id", "amount")
      .join(feats, "customer_id").count()
    assert(joined.count() == expected)
  } }

  test("bucket-count mismatch reintroduces a shuffle (the trap the scale doc warns about)") { withNoBroadcast {
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    Bucketing.writeBucketed(tx.select("customer_id", "amount"),
      "tx_b8", "customer_id", buckets = 8)
    val joined = Bucketing.colocatedJoin(spark, "tx_bucketed", "tx_b8", "customer_id")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(plan.contains("Exchange"), plan)
  } }
}
