package graft

import graft.ops.Centrality
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed oracle for Brandes betweenness + closeness on the path
  * graph m1–c1–m2–c2–m3 (networkx-normalized conventions).
  */
class CentralitySpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("path-graph centralities match networkx-normalized values") {
    val tx = Seq(
      (1L, "m1", 10.0), (1L, "m2", 10.0),
      (2L, "m2", 10.0), (2L, "m3", 10.0)
    ).toDF("customer_id", "merchant_id", "amount")
    val got = Centrality.customerCentralities(tx)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // P5 path: customers sit at positions 1 and 3.
    // closeness(c) = (4/7)*(4/4); betweenness(c) = 3/((5-1)(5-2)/2) = 0.5
    assert(math.abs(got(1L)._1 - 4.0 / 7.0) < 1e-9)
    assert(math.abs(got(1L)._2 - 0.5) < 1e-9)
    assert(math.abs(got(2L)._1 - 4.0 / 7.0) < 1e-9)
    assert(math.abs(got(2L)._2 - 0.5) < 1e-9)
  }

  test("auto-landmark guard engages above maxExactSources and equals the explicit sample") {
    val tx = graft.tables.Tables.transactions(spark, "/root/testdata/sf0.001")
    // the graph has more than 5 nodes, so exact mode must auto-switch to
    // the 5-landmark approximation rather than silently run n sweeps
    val auto = Centrality.customerCentralities(tx, maxExactSources = 5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val explicitSample = Centrality.customerCentralities(tx, sampleSources = Some(5))
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(auto == explicitSample)
    val exact = Centrality.customerCentralities(tx)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(auto != exact) // proves the guard actually reduced the source set
  }

  test("edge cap refuses a collect beyond maxDriverEdges instead of OOMing the driver") {
    val tx = graft.tables.Tables.transactions(spark, "/root/testdata/sf0.001")
    val e = intercept[IllegalArgumentException] {
      Centrality.customerCentralities(tx, maxDriverEdges = 3)
    }
    assert(e.getMessage.contains("maxDriverEdges") || e.getMessage.contains("cap"), e.getMessage)
  }

  test("landmark sampling path (100 TB posture) runs and underestimates exact betweenness") {
    val tx = graft.tables.Tables.transactions(spark, "/root/testdata/sf0.001")
    val exact = Centrality.customerCentralities(tx)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val sampled = Centrality.customerCentralities(tx, sampleSources = Some(20))
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    assert(sampled.nonEmpty)
    // per-source contributions are non-negative, so a source subset can
    // only underestimate
    sampled.foreach { case (k, b) => assert(b <= exact.getOrElse(k, 0.0) + 1e-12) }
  }

  test("auto-landmark branch: closeness is EXACT on the sampled sources, zero elsewhere") {
    // the >maxExactSources auto branch takes the first k sorted node ids
    // as sources; a source's closeness comes from its own full BFS, so it
    // must EQUAL the exact run's value bit-for-bit — only non-source
    // nodes degrade (to the 0.0 default). Betweenness stays a lower
    // bound everywhere (non-negative contributions).
    val tx = graft.tables.Tables.transactions(spark, "/root/testdata/sf0.001")
    val k = 7
    val auto = Centrality.customerCentralities(tx, maxExactSources = k)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val exact = Centrality.customerCentralities(tx)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    // reproduce the source choice: first k of the sorted node strings
    // ("c:..." sorts before "m:...", so they are the k smallest customer
    // node STRINGS — string order, not numeric)
    val sources = tx.select("customer_id").distinct()
      .collect().map(r => r.getLong(0))
      .map(id => s"c:$id" -> id).sortBy(_._1).take(k).map(_._2).toSet
    assert(sources.size == k)
    auto.foreach { case (cid, (clo, btw)) =>
      if (sources(cid)) assert(clo == exact(cid)._1, s"source $cid closeness")
      else assert(clo == 0.0, s"non-source $cid should default to 0.0")
      assert(btw <= exact(cid)._2 + 1e-12, s"$cid betweenness bound")
    }
    // the sampled sources really do carry nonzero closeness
    assert(sources.exists(s => auto(s)._1 > 0.0))
  }
}
