package graft

import graft.queries.OlapQueries
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape + fixture checks for the OLAP pack (q60–q66). Value
  * correctness is the driver's DuckDB gate; here we pin the properties
  * that matter at 100 TB: pivot planning one aggregation (no
  * distinct-discovery job), subtotal operators costing one scan+Expand,
  * and the interval join planning as an equi sort-merge join with the
  * band predicate as a post-condition — not a nested-loop product.
  */
class OlapSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("pivot with explicit values plans a single aggregation pass (no distinct job)") {
    val df = OlapQueries.defs("q60_pivot")(spark, sf)
    val p = plan(df)
    // two shuffles — (key, pivot col) pre-agg then pivotfirst on key —
    // and NO distinct-discovery pass: the explicit value list shows up as
    // pivotfirst literals instead of a third collect-and-scan job
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2, s"expected 2 exchanges, got $exchanges:\n$p")
    assert(p.contains("pivotfirst(event_type"), p)
    assert(df.columns.toSeq ==
      Seq("customer_id", "amt_click", "amt_error", "amt_purchase", "amt_signup", "amt_view"))
  }

  test("cube and grouping sets expand in one scan (Expand operator, single agg tree)") {
    for (q <- Seq("q61_cube", "q62_grouping_sets")) {
      val p = plan(OlapQueries.defs(q)(spark, sf))
      assert(p.contains("Expand"), s"$q should plan an Expand:\n$p")
      // a UNION-of-aggregations formulation would scan the fact table
      // 3-4x; Expand reads it once
      val scans = "Scan parquet".r.findAllIn(p).length
      assert(scans <= 2, s"$q should not multi-scan the fact side, got $scans:\n$p")
    }
  }

  test("grouping sets gid matches grouping() bit semantics") {
    // grand-total row: both dims rolled up -> gid 3; marginals -> 1 or 2
    val rows = OlapQueries.defs("q62_grouping_sets")(spark, sf)
      .select("l_returnflag", "l_linestatus", "gid").collect()
    val byGid = rows.groupBy(_.getAs[Number](2).longValue)
    assert(byGid(3).length == 1 && byGid(3).head.getString(0) == "ALL")
    assert(byGid(1).forall(r => r.getString(0) != "ALL" && r.getString(1) == "ALL"))
    assert(byGid(2).forall(r => r.getString(0) == "ALL" && r.getString(1) != "ALL"))
    assert(!byGid.contains(0)) // no cross cells in these grouping sets
  }

  test("interval join plans as equi join on the key, not a nested-loop product") {
    val p = plan(OlapQueries.defs("q63_interval_join")(spark, sf))
    // at test SF the build side broadcasts; at scale it's a sort-merge on
    // user_id — either way the band predicate rides the EQUI join
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      s"band predicate must ride an equi join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("unpivot is narrow: no exchange before the metric aggregation's own shuffle") {
    val p = plan(OlapQueries.defs("q66_unpivot")(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"melt must not shuffle; only the groupBy does:\n$p")
  }

  test("pivot values match manual conditional aggregation") {
    val ev = Tables.events(spark, sf)
    val manual = ev.groupBy(col("user_id"))
      .agg(coalesce(sum(when(col("event_type") === "click", col("value"))), lit(0.0)).as("m"))
      .orderBy("user_id").collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val piv = OlapQueries.defs("q60_pivot")(spark, sf)
      .select(col("customer_id"), col("amt_click"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(piv.keySet == manual.keySet)
    for ((k, v) <- manual) assert(math.abs(piv(k) - v) < 1e-6, s"user $k: ${piv(k)} vs $v")
  }
}
