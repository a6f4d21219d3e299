package graft

import graft.ops.Sketches
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class SketchSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("hll distinct estimates stay within the lgK=12 error envelope") {
    // 4 entities with known distinct cardinalities 100..100k
    val df = Seq(100, 1000, 10000, 100000).zipWithIndex.flatMap { case (n, e) =>
      (0 until n).map(i => (e, s"v$i"))
    }.toDF("entity", "value")
    val out = Sketches.hllDistinct(df, col("entity"), col("value"))
      .collect().map(r => r.getInt(0) -> r.getDouble(3)).toMap
    // lgK=12 -> rsd ~ 1.04/sqrt(4096) ~ 1.6%; allow 3 sigma
    out.foreach { case (e, err) => assert(err < 0.05, s"entity $e err $err") }
  }

  test("merged per-group sketches equal the single-shot estimate (mergeability)") {
    val df = (0 until 50000).map(i => (i % 7, s"u${i % 9000}")).toDF("g", "value")
    val merged = Sketches.hllMergedDistinct(df, col("g"), col("value"))
      .head().getLong(0)
    val single = df.agg(
      hll_sketch_estimate(hll_sketch_agg(col("value"), lit(12)))).head().getLong(0)
    assert(merged == single, s"merged=$merged single=$single")
    assert(math.abs(merged - 9000) / 9000.0 < 0.05)
  }

  test("count-min estimates are one-sided and tight for heavy hitters") {
    // zipf-ish: value k appears ~ N/k times
    val rows = (1 to 200).flatMap(k => Seq.fill(2000 / k)(s"key$k"))
    val df = rows.map(Tuple1(_)).toDF("value")
    val est = Sketches.cmsCounts(df, col("value"),
      Seq("key1", "key2", "key10", "keyMissing"), eps = 0.001).toMap
    val exact = rows.groupBy(identity).view.mapValues(_.size).toMap
    assert(est("key1") >= exact("key1"))
    assert(est("key2") >= exact("key2"))
    // overshoot bounded by eps * N
    val n = rows.size
    Seq("key1", "key2", "key10").foreach { k =>
      assert(est(k) - exact(k) <= math.ceil(0.001 * 2.718 * n).toLong, k)
    }
    assert(est("keyMissing") <= math.ceil(0.001 * 2.718 * n).toLong)
  }

  test("sketch aggregation plans map-side partial merge (one exchange)") {
    val df = (0 until 10000).map(i => (i % 5, s"v$i")).toDF("entity", "value")
    val qe = Sketches.hllDistinct(df, col("entity"), col("value"))
    qe.collect()
    val p = qe.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange hashpartitioning".r.findAllIn(p).length <= 2, p)
    assert(p.contains("partial"), p)
  }

  test("approxPercentileGate: exact percentiles pin; sketch ranks inside envelope") {
    // uniform 1..1000 plus a heavy-tailed group: rank-space gate must
    // hold in both; exact p50 of the uniform group interpolates to 500.5
    val rows = (1 to 1000).map(v => ("u", v.toDouble)) ++
      (1 to 1000).map(v => ("z", math.pow(1.01, v)))
    val out = Sketches.approxPercentileGate(rows.toDF("g", "v"),
        col("g"), col("v"), Seq(0.5, 0.9, 0.99))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("u").getDouble(1) == 500.5)   // exact_p50
    assert(out("u").getDouble(2) == 900.1)   // exact_p90 = 1 + 0.9*999
    assert(out("u").getDouble(3) == 990.01)  // exact_p99
    for (g <- Seq("u", "z"); i <- 4 to 6)
      assert(out(g).getBoolean(i), s"envelope failed: $g col $i")
  }
}
