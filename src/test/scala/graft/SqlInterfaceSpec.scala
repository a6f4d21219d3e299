package graft

import graft.functions.GraftFunctions
import graft.schema.FeatureViews
import graft.ops.Trailing
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The engine is also reachable through plain `spark.sql` — temp views +
  * registered native functions — and the approx FeatureView configuration
  * tracks the exact one.
  */
class SqlInterfaceSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("spark.sql over temp views with the native aggregate matches the DataFrame API") {
    GraftFunctions.register(spark)
    Tables.transactions(spark, "/root/testdata/sf0.001").createOrReplaceTempView("tx")
    val sql = spark.sql(
      """SELECT transaction_id,
        |  count(*) OVER (PARTITION BY customer_id ORDER BY unix_micros(event_timestamp)
        |    RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS c1h,
        |  exact_distinct(merchant_id) OVER (PARTITION BY customer_id ORDER BY unix_micros(event_timestamp)
        |    RANGE BETWEEN 3599999999 PRECEDING AND CURRENT ROW) AS u1h
        |FROM tx""".stripMargin)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val w = Trailing.spec(col("customer_id"), col("event_timestamp"))
    val api = Tables.transactions(spark, "/root/testdata/sf0.001")
      .select(col("transaction_id"),
        graft.ops.CoreFeatures.txnCount(w, 3600).as("c1h"),
        graft.ops.CoreFeatures.distinctOver(col("merchant_id"), w, 3600).as("u1h"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(sql == api)
  }

  test("gram_agg via spark.sql matches the Column API Gram row") {
    GraftFunctions.register(spark)
    Tables.embeddings(spark, "/root/testdata/sf0.001")
      .createOrReplaceTempView("emb")
    val sql = spark.sql("SELECT gram_agg(embedding) AS g FROM emb")
      .head.getSeq[Double](0)
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val api = Tables.embeddings(spark, "/root/testdata/sf0.001")
      .agg(column(graft.functions.GramAgg(expression(col("embedding")))
        .toAggregateExpression()).as("g"))
      .head.getSeq[Double](0)
    assert(sql.length == api.length && sql.take(2) == api.take(2))
    // sums may differ in partition merge order only below 1e-9 relative
    sql.zip(api).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b)))
    }
  }

  test("gram_agg fails loudly on mixed embedding dimensions across partitions") {
    GraftFunctions.register(spark)
    // one 2-dim and one 3-dim vector, forced into separate partitions so
    // the MERGE path sees the mismatch: silently keeping one side would be
    // partition-order-dependent output
    val ragged = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(Seq(1.0, 2.0)),
        org.apache.spark.sql.Row(Seq(1.0, 2.0, 3.0))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType)))))
      .repartition(2)
    ragged.createOrReplaceTempView("ragged_emb")
    val ex = intercept[Throwable] {
      spark.sql("SELECT gram_agg(embedding) FROM ragged_emb").collect()
    }
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: causes(t.getCause)
    assert(causes(ex).exists(_.getMessage != null) &&
      causes(ex).exists(c => c.getMessage != null &&
        c.getMessage.contains("mixed embedding dimensions")), ex.toString)
  }

  test("approx FeatureView config tracks exact within HLL tolerance") {
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val w = Trailing.spec(col("customer_id"), col("event_timestamp"))
    val kind = FeatureViews.kinds.find(_.name == "unique_ips_%s").get
    val cmp = tx.select(
        FeatureViews.column(kind, w, 86400).cast("double").as("exact"),
        FeatureViews.column(kind, w, 86400, exact = false).cast("double").as("approx"))
      .collect()
    // HLL deviates more on small cardinalities; bound by max(5 absolute, 20%)
    assert(cmp.forall { r =>
      math.abs(r.getDouble(0) - r.getDouble(1)) <= math.max(5.0, 0.2 * r.getDouble(0))
    })
  }

  test("percentile_approx (quantile-sketch twin of W10) tracks exact within rank tolerance") {
    // the 100 TB path for q42-style summaries: a mergeable sketch instead
    // of an exact sort — accuracy parameter 1000 => rank error <= 0.1%,
    // checked here against the exact per-percentile values
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
    val r = ev.select(
        expr("percentile(value, array(0.5, 0.95, 0.99))").as("exact"),
        expr("percentile_approx(value, array(0.5, 0.95, 0.99), 1000)").as("approx"),
        expr("approx_count_distinct(value)").as("acd"),
        expr("count(distinct value)").as("cd"))
      .head()
    val exact = r.getSeq[Double](0)
    val approx = r.getSeq[Double](1)
    // compare by rank: the approx value's true rank must be within 0.5%
    // of the target percentile's rank
    val values = ev.select(col("value")).collect().map(_.getDouble(0)).sorted
    val n = values.length.toDouble
    for (((p, a), e) <- Seq(0.5, 0.95, 0.99).zip(approx).zip(exact)) {
      val rank = values.count(_ <= a) / n
      assert(math.abs(rank - p) <= 0.005, s"p$p: approx $a (rank $rank) vs exact $e")
    }
    assert(math.abs(r.getLong(2).toDouble - r.getLong(3)) <= 0.05 * r.getLong(3))
  }

  test("simhash64 via spark.sql matches the Dedup.simhash64 kernel column") {
    GraftFunctions.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    docs.createOrReplaceTempView("docs_sql")
    val sql = spark.sql(
      "SELECT doc_id, simhash64(text) AS fp FROM docs_sql WHERE simhash64(text) IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val api = graft.scale.Dedup.simhash64(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sql.nonEmpty && sql == api)
    // top 32 bits == the 32-bit kernel by construction
    val fp32 = spark.sql("SELECT doc_id, simhash32(text) AS fp FROM docs_sql WHERE simhash32(text) IS NOT NULL")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    sql.foreach { case (id, fp) => assert((fp >>> 32) == fp32(id), s"doc $id") }
  }

  test("top_k via spark.sql matches sort_array + slice and the TopK.byGroup ranks") {
    GraftFunctions.register(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    tx.createOrReplaceTempView("tx_sql")
    val sql = spark.sql(
      """SELECT customer_id,
        |  top_k(struct(amount, transaction_id), 5) AS tk,
        |  slice(sort_array(collect_list(struct(amount, transaction_id))), 1, 5) AS truth
        |FROM tx_sql GROUP BY customer_id""".stripMargin)
      .collect()
    assert(sql.nonEmpty)
    sql.foreach { r =>
      assert(r.getSeq[Any](1) == r.getSeq[Any](2), s"customer ${r.get(0)}")
    }
  }
}
