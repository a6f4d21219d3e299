package graft

import graft.ops.GlobalOrder
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The distributed global-order primitives must be bit-identical to the
  * single-sort window forms they replace, stay identical across separate
  * physical executions (round 3's q155 bug: range-partitioner sampling is
  * seeded per execution, so a plan that consumes the bucketed child twice
  * silently mis-ranked when AQE didn't reuse the stage), and never plan a
  * partition-less WindowExec.
  */
class GlobalOrderSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)
  import spark.implicits._

  // skewed doubles with heavy ties + a unique tie-break id
  private def data: DataFrame =
    spark.range(5000).select(col("id"),
      (pmod(col("id") * 2654435761L, lit(97)) % 13).cast("double").as("v"))

  private def collectWindows(p: SparkPlan): Seq[WindowExec] = {
    val self = p match {
      case a: AdaptiveSparkPlanExec => collectWindows(a.executedPlan)
      case w: WindowExec => Seq(w)
      case _ => Nil
    }
    self ++ p.children.flatMap(collectWindows) ++
      p.subqueries.flatMap(collectWindows)
  }

  test("withRowNumber matches the single-sort row_number exactly (asc and desc)") {
    for (ord <- Seq(Seq(col("v").asc, col("id").asc), Seq(col("v").desc, col("id").asc))) {
      val got = GlobalOrder.withRowNumber(data, ord, "rn", total = Some("n"))
      val want = data.withColumn("trn", row_number().over(Window.orderBy(ord: _*)))
      val bad = got.join(want.select(col("id"), col("trn")), "id")
        .where(col("rn") =!= col("trn") || col("n") =!= 5000)
      assert(bad.count() == 0)
    }
  }

  test("withCumSumsBy matches per-partition withCumSums and the partitioned window") {
    // 3 partitions with very different key distributions (continuous,
    // 13-value categorical, constant) sharing one bucket layout
    val df = spark.range(6000).select(col("id"),
      (col("id") % 3).cast("string").as("g"),
      when(col("id") % 3 === 0, (col("id") * 2654435761L % 9973).cast("double"))
        .when(col("id") % 3 === 1, (col("id") % 13).cast("double"))
        .otherwise(lit(5.0)).as("v"))
    val got = GlobalOrder.withCumSumsBy(df, Seq("g"),
      Seq(col("v").asc, col("id").asc), Seq((col("id"), "cs"), (lit(1L), "rk")))
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.select(col("id"), sum(col("id")).over(w).as("tcs"),
      count(lit(1)).over(w).as("trk"))
    assert(got.join(want, "id")
      .where(col("cs") =!= col("tcs") || col("rk") =!= col("trk")).count() == 0)
    // and bit-identical to running the single-partition machinery per slice
    for (g <- Seq("0", "1", "2")) {
      val solo = GlobalOrder.withCumSums(df.where(col("g") === g),
        Seq(col("v").asc, col("id").asc), Seq((col("id"), "cs2")))
      assert(got.where(col("g") === g)
        .join(solo.select(col("id"), col("cs2")), "id")
        .where(col("cs") =!= col("cs2")).count() == 0, s"slice $g")
    }
  }

  test("withCumSumsBy keeps NULL partition-key rows as their own group") {
    // a nullable partition key must not silently lose rows (the joins
    // are null-safe): NULL forms one group, like window PARTITION BY
    val df = spark.range(300).select(col("id"),
      when(col("id") % 3 === 0, col("id") % 2).cast("string").as("g"),
      col("id").as("v"))
    val got = GlobalOrder.withCumSumsBy(df, Seq("g"),
      Seq(col("v").asc), Seq((lit(1L), "rk")), sampleMod = 8)
    assert(got.count() == 300, "rows with NULL keys were dropped")
    val w = Window.partitionBy(col("g")).orderBy(col("v").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.select(col("id"), count(lit(1)).over(w).as("trk"))
    assert(got.join(want, "id").where(col("rk") =!= col("trk")).count() == 0)
  }

  test("withCumSums matches the single-sort running sum exactly") {
    val got = GlobalOrder.withCumSums(data,
      Seq(col("v").asc, col("id").asc), Seq((col("id"), "cs"), (lit(1L), "rk")))
    val w = Window.orderBy(col("v").asc, col("id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = data.select(col("id"), sum(col("id")).over(w).as("tcs"),
      count(lit(1)).over(w).as("trk"))
    val bad = got.join(want, "id")
      .where(col("cs") =!= col("tcs") || col("rk") =!= col("trk"))
    assert(bad.count() == 0)
  }

  test("ranks survive a multi-consumer plan through the write path (execution-deterministic)") {
    // the round-3 failure mode: broadcast offsets side and probe side
    // execute the bucketing independently; with sampled range boundaries
    // the two disagreed. Deterministic percentile buckets must agree.
    val out = s"/tmp/graft-gospec-${System.nanoTime()}"
    val ranked = GlobalOrder.withRowNumber(data,
      Seq(col("v").desc, col("id").asc), "rn", total = Some("n"))
      .withColumn("decile", GlobalOrder.ntileOf(col("rn"), col("n"), 10))
    ranked.groupBy(col("decile")).agg(count(lit(1)).as("c"))
      .coalesce(1).write.mode("overwrite").parquet(out)
    val sizes = spark.read.parquet(out).orderBy("decile")
      .select(col("c")).as[Long].collect().toSeq
    assert(sizes == Seq.fill(10)(500L), sizes)
  }

  test("ntileOf reproduces SQL NTILE for ragged counts") {
    val df = spark.range(1, 104).toDF("id") // 103 rows, k=10: 3 buckets of 11
    val got = GlobalOrder.withRowNumber(df, Seq(col("id").asc), "rn", Some("n"))
      .select(col("id"), GlobalOrder.ntileOf(col("rn"), col("n"), 10).as("nt"))
    val want = df.select(col("id"), ntile(10).over(Window.orderBy(col("id"))).as("tnt"))
    assert(got.join(want, "id").where(col("nt") =!= col("tnt")).count() == 0)
  }

  test("no partition-less WindowExec anywhere in the physical plan") {
    val df = GlobalOrder.withCumSums(
      GlobalOrder.withRowNumber(data, Seq(col("v").asc, col("id").asc), "rn", Some("n")),
      Seq(col("v").asc, col("id").asc), Seq((col("id"), "cs")))
    df.collect()
    val empty = collectWindows(df.queryExecution.executedPlan).filter(_.partitionSpec.isEmpty)
    assert(empty.isEmpty, empty.map(_.simpleStringWithNodeId()).mkString("\n"))
  }

  // ~1/7 null keys: nulls must bucket to the extreme matching the
  // EFFECTIVE null ordering (asc→NULLS FIRST, desc→NULLS LAST, and the
  // explicit variants), not unconditionally to bucket 0
  private def nullKeyed: DataFrame =
    spark.range(5000).select(col("id"),
      when(pmod(col("id"), lit(7)) === 0, lit(null).cast("double"))
        .otherwise((pmod(col("id") * 2654435761L, lit(97)) % 13).cast("double"))
        .as("v"))

  test("null order keys match single-sort under every asc/desc × nulls variant") {
    val variants = Seq(
      col("v").asc, col("v").desc,
      col("v").asc_nulls_last, col("v").desc_nulls_first)
    for (v <- variants) {
      val ord = Seq(v, col("id").asc)
      val got = GlobalOrder.withRowNumber(nullKeyed, ord, "rn", total = Some("n"))
      val want = nullKeyed.withColumn("trn", row_number().over(Window.orderBy(ord: _*)))
      val bad = got.join(want.select(col("id"), col("trn")), "id")
        .where(col("rn") =!= col("trn") || col("n") =!= 5000)
      assert(bad.count() == 0, s"variant $v")
    }
  }

  test("nullable sum columns: all-null bucket prefixes still carry earlier buckets' sum") {
    // sparse non-nulls (1/50) force buckets whose local prefix sum is null;
    // the merged result must equal the single-sort running sum, which is
    // null ONLY while the whole global prefix is null
    val df = nullKeyed.withColumn("s",
      when(pmod(col("id"), lit(50)) === 0, col("id")))
    val ord = Seq(col("v").asc, col("id").asc)
    val got = GlobalOrder.withCumSums(df, ord, Seq((col("s"), "cs")))
    val w = Window.orderBy(ord: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val want = df.select(col("id"), sum(col("s")).over(w).as("tcs"))
    val bad = got.join(want, "id")
      .where(not(col("cs") <=> col("tcs")))
    assert(bad.count() == 0)
  }

  test("withCumSums rejects float/double sum columns (cross-bucket re-association)") {
    val e = intercept[IllegalArgumentException] {
      GlobalOrder.withCumSums(data, Seq(col("v").asc, col("id").asc),
        Seq((col("v"), "cs")))
    }
    assert(e.getMessage.contains("re-associate"))
  }

  test("empty input yields empty output, no phantom rows") {
    val e = data.where(lit(false))
    assert(GlobalOrder.withRowNumber(e, Seq(col("v").asc), "rn", Some("n")).count() == 0)
    assert(GlobalOrder.withCumSums(e, Seq(col("v").asc), Seq((col("id"), "cs"))).count() == 0)
  }
}
