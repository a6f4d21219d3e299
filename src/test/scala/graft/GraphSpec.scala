package graft

import graft.ops.GraphOps
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("communities: two disjoint rings resolve to two components with correct sizes") {
    // ring A: customers 1,2 share merchant mA; ring B: customers 3,4,5 share mB
    val tx = Seq(
      (1L, "mA", 10.0), (2L, "mA", 20.0),
      (3L, "mB", 30.0), (4L, "mB", 40.0), (5L, "mB", 50.0)
    ).toDF("customer_id", "merchant_id", "amount")
    val got = GraphOps.communities(tx)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 4L, 5L))
    assert(got(1L)._1 == got(2L)._1 && got(1L)._2 == 2L)
    assert(got(3L)._1 == got(4L)._1 && got(4L)._1 == got(5L)._1 && got(3L)._2 == 3L)
    assert(got(1L)._1 != got(3L)._1)
    // canonical labels: the smallest customer id in each component —
    // independent of the internal vertex-id scheme (hash or dictionary)
    assert(got(1L)._1 == 1L && got(3L)._1 == 3L)
  }

  test("label propagation: bicliques keep their min label; a weak bridge does not merge them") {
    // biclique A: customers 1,2,3 × merchants mA1,mA2; biclique B:
    // customers 10,11,12 × mB1,mB2; customer 3 ALSO touches mB1 (bridge).
    // CC would merge everything into one component; LPA keeps two
    // communities because the plurality at mB1 is B-side (2 vs 1), and
    // ties inside each biclique resolve to the min customer id.
    val tx = (for {
      c <- Seq(1L, 2L, 3L); m <- Seq("mA1", "mA2")
    } yield (c, m, 1.0)) ++ (for {
      c <- Seq(10L, 11L, 12L); m <- Seq("mB1", "mB2")
    } yield (c, m, 1.0)) :+ ((3L, "mB1", 1.0))
    val got = GraphOps.labelPropagation(tx.toDF("customer_id", "merchant_id", "amount"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got.keySet == Set(1L, 2L, 3L, 10L, 11L, 12L))
    // one label per side (labels are identifiers, not membership: the
    // B-side label is 3 — the bridge customer's id won the initial tie
    // at mB1 — while customer 3 itself belongs to A)
    assert(Seq(1L, 2L, 3L).map(got(_)._1).distinct.size == 1, got.toString)
    assert(Seq(10L, 11L, 12L).map(got(_)._1).distinct.size == 1, got.toString)
    assert(got(1L)._1 != got(10L)._1, got.toString)
    assert(got(1L)._2 == 3L && got(10L)._2 == 3L)
    // connected components on the same graph WOULD merge them — the
    // operators answer different questions
    val cc = GraphOps.communities(tx.toDF("customer_id", "merchant_id", "amount"))
      .select("component_id").distinct().count()
    assert(cc == 1L)
  }

  test("distance to flagged: path-graph hops, bound cutoff, disconnected NULL") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // chain a-b-c-d plus isolated pair e-f; flagged = {a}
    val raw = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("e", "f")).toDF("src", "dst")
    val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val nodes = sym.select(col("src").as("node")).distinct()
    val flagged = Seq("a").toDF("node")
    def run(hops: Int) = graft.ops.GraphOps
      .distanceToFlagged(sym, nodes, flagged, hops)
      .collect().map(r => r.getString(0) -> Option(r.get(1)).map(_.asInstanceOf[Long])).toMap
    val d = run(4)
    assert(d("a").contains(0L) && d("b").contains(1L) && d("c").contains(2L) && d("d").contains(3L))
    assert(d("e").isEmpty && d("f").isEmpty) // disconnected component
    val bounded = run(2)
    assert(bounded("c").contains(2L) && bounded("d").isEmpty) // beyond the bound
  }

  test("bounded k-core: pendants peel off, the cycle survives at degree 2, a path empties") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // 4-cycle a-b-c-d with pendant e on a: 2-core = the cycle
    val raw = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"), ("a", "e"))
      .toDF("src", "dst")
    val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val got = GraphOps.boundedKCore(sym, k = 2, rounds = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == Map("a" -> 2L, "b" -> 2L, "c" -> 2L, "d" -> 2L))
    // a pure path has no 2-core: ends peel, then the middle
    val path = Seq(("a", "b"), ("b", "c")).toDF("src", "dst")
    val psym = path.union(path.select(col("dst").as("src"), col("src").as("dst")))
    assert(GraphOps.boundedKCore(psym, k = 2, rounds = 3).count() == 0L)
  }

  test("personalized pagerank: mass flows from the seed; unreachable nodes stay at zero") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // path s - a - b, plus isolated pair x - y (no seed): exposure decays
    // with distance from s and never reaches the disconnected component
    val raw = Seq(("s", "a"), ("a", "b"), ("x", "y")).toDF("src", "dst")
    val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val seeds = Seq("s").toDF("node")
    val pr = graft.ops.PageRank.personalized(sym, seeds, iters = 12)
      .collect().map(r => r.getString(0) -> (r.getBoolean(1), r.getDouble(2))).toMap
    assert(pr("s")._1 && !pr("a")._1)
    // a collects from BOTH neighbors (s fully, b fully) so it may exceed
    // the seed itself; b only sees half of a's mass and must trail it
    assert(pr("a")._2 > pr("b")._2 && pr("b")._2 > 0.0 && pr("s")._2 > pr("b")._2)
    assert(pr("x")._2 == 0.0 && pr("y")._2 == 0.0)
  }

  test("assortativity: a star is perfectly disassortative") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // hub degree 3 joined to leaves of degree 1: endpoint degrees are
    // (3,1)/(1,3) on every edge -> Pearson correlation exactly -1
    val raw = Seq(("h", "a"), ("h", "b"), ("h", "c")).toDF("src", "dst")
    val sym = raw.union(raw.select(col("dst").as("src"), col("src").as("dst")))
    val r = GraphOps.degreeAssortativity(sym).collect().head
    assert(r.getLong(0) == 6L)
    assert(math.abs(r.getDouble(1) - (-1.0)) < 1e-12)
  }
}
