package graft.ops

import org.apache.spark.graphx.{Graph, PartitionStrategy}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fixed-iteration PageRank (the GraphX `staticPageRank` convention:
  * pr₀ = 1, prₜ₊₁ = 0.15 + d·Σ_in pr/odeg, so ranks average 1 instead of
  * summing to 1 — N never appears, which keeps the oracle SQL free of a
  * global count).
  *
  * [[run]] executes on GraphX Pregel: vertices and edges are
  * co-partitioned once and every iteration is a partition-local
  * aggregateMessages — no per-iteration query planning, no lineage
  * growth, the standard engine for iterative graph algorithms at any
  * scale. [[runDataFrame]] is the declarative twin (one join + agg per
  * iteration, lineage truncated by localCheckpoint); it exists to
  * cross-check values and to document why iterating Catalyst plans is
  * NOT the scale path: each iteration either re-plans a growing tower
  * (cache) or loses stats/partitioning (checkpoint).
  */
object PageRank {

  /** `edges` must be symmetrized (both directions present) and distinct
    * per direction — parallel edges would inflate outdegrees. String
    * labels are mapped to dense vertex ids by a deterministic sorted
    * zipWithIndex (exact at any node count, unlike hashing).
    */
  def run(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val ed = edges.select(col("src").cast("string"), col("dst").cast("string"))
    // label map over BOTH endpoints: an asymmetric (directed) input then
    // loses no nodes/edges in the id joins — it just computes directed
    // PageRank with sink nodes instead of silently truncating the graph
    val labels = ed.select(col("src").as("label"))
      .union(ed.select(col("dst").as("label"))).distinct()
      .as[String].rdd.sortBy(identity).zipWithIndex().toDF("label", "vid")
      .localCheckpoint()
    val vedges = ed
      .join(labels.withColumnRenamed("label", "src"), "src")
      .withColumnRenamed("vid", "svid")
      .join(labels.withColumnRenamed("label", "dst"), "dst")
      .select(col("svid"), col("vid").as("dvid"))
      .as[(Long, Long)].rdd
    val graph = Graph.fromEdgeTuples(vedges, 1.0)
      .partitionBy(PartitionStrategy.EdgePartition2D)
    val ranks = graph.staticPageRank(iters, resetProb = 1.0 - damping).vertices
    // Pregel already materialized the ranks; checkpoint the (node-sized)
    // result so it no longer reads the graph's lineage
    ranks.toDF("vid", "pr").join(labels, "vid")
      .select(col("label").as("node"), col("pr"))
      .localCheckpoint()
  }

  /** Catalyst-loop twin of [[run]] — identical values (to summation
    * order). Symmetrized edges mean every node is some edge's dst, so
    * the contribution aggregate covers the whole node set and no
    * outer join against a node table is needed per iteration.
    */
  def runDataFrame(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val withDeg = ed.join(deg, "src").localCheckpoint()

    var ranks = deg.select(col("src").as("node"), lit(1.0).as("pr"))
    for (_ <- 1 to iters) {
      ranks = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("odeg")).as("mass"))
        .select(col("dst").as("node"),
          (lit(1.0 - damping) + lit(damping) * col("mass")).as("pr"))
        .localCheckpoint() // truncate lineage; see class doc
    }
    ranks
  }

  /** Personalized PageRank over a seed SET — risk propagation: teleport
    * mass returns only to the seeds (flagged accounts), so rank measures
    * proximity-weighted exposure to them ("guilt by association"), the
    * graph screen AML teams run from confirmed-SAR seeds. Convention
    * mirrors [[run]] unnormalized: pr₀ = seed, prₜ₊₁ = (1−d)·seed +
    * d·Σ_in pr/odeg. GraphX's built-ins personalize to a single source
    * (or one vector per source), not a set, so this uses the Catalyst
    * loop of [[runDataFrame]] (one join+agg per iteration, lineage cut by
    * localCheckpoint); at Pregel scale the same recurrence drops into an
    * aggregateMessages loop unchanged.
    */
  def personalized(edges: DataFrame, seeds: DataFrame, iters: Int = 10,
                   damping: Double = 0.85): DataFrame = {
    val ed = edges.select(col("src"), col("dst"))
    val deg = ed.groupBy(col("src")).agg(count(lit(1)).as("odeg"))
    val withDeg = ed.join(deg, "src").localCheckpoint()
    // symmetrized edges: every node is some src
    val seedTbl = deg.select(col("src").as("node"))
      .join(seeds.select(col("node")).distinct().withColumn("s", lit(1.0)),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("s"), lit(0.0)).as("seed"))
      .localCheckpoint()
    var ranks = seedTbl.select(col("node"), col("seed").as("pr"))
    for (_ <- 1 to iters) {
      val mass = withDeg
        .join(ranks, withDeg("src") === ranks("node"))
        .groupBy(col("dst"))
        .agg(sum(col("pr") / col("odeg")).as("mass"))
        .select(col("dst").as("node"), col("mass"))
      ranks = seedTbl.join(mass, Seq("node"), "left")
        .select(col("node"), col("seed"),
          (lit(1.0 - damping) * col("seed") +
            lit(damping) * coalesce(col("mass"), lit(0.0))).as("pr"))
        .select(col("node"), col("pr"))
        .localCheckpoint()
    }
    seedTbl.join(ranks, "node")
      .select(col("node"), (col("seed") > 0).as("is_seed"), col("pr"))
  }

  /** Unrolled DuckDB oracle for [[personalized]]. */
  def pprOracleSql(edgesCte: String, seedsCte: String, iters: Int = 10,
      damping: Double = 0.85, round: String => String = identity): String = {
    val base = s"""WITH e AS ($edgesCte),
ed AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
deg AS (SELECT src, count(*) AS odeg FROM ed GROUP BY 1),
sd AS ($seedsCte),
n AS (SELECT DISTINCT src AS node FROM ed),
st AS (SELECT n.node, CASE WHEN sd.node IS NOT NULL THEN 1.0 ELSE 0.0 END AS seed
       FROM n LEFT JOIN (SELECT DISTINCT node FROM sd) sd USING (node)),
r0 AS (SELECT node, seed AS pr FROM st)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
  SELECT st.node, ${1.0 - damping} * st.seed + $damping * coalesce(m.mass, 0) AS pr
  FROM st LEFT JOIN (
    SELECT ed.dst AS node, sum(r${i - 1}.pr / deg.odeg) AS mass
    FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.node
            JOIN deg ON ed.src = deg.src
    GROUP BY 1) m USING (node))"""
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT st.node, st.seed > 0 AS is_seed, ${round(s"r$iters.pr")} AS pr" +
      s"\nFROM st JOIN r$iters USING (node)"
  }

  /** Unrolled DuckDB oracle for [[run]]: one CTE per iteration with the
    * identical formula, so values agree to summation-order noise.
    */
  def oracleSql(edgesCte: String, iters: Int = 10, damping: Double = 0.85,
      round: String => String = identity): String = {
    val base = s"""WITH e AS ($edgesCte),
ed AS (SELECT src, dst FROM e UNION ALL SELECT dst AS src, src AS dst FROM e),
deg AS (SELECT src, count(*) AS odeg FROM ed GROUP BY 1),
n AS (SELECT DISTINCT src AS node FROM ed),
r0 AS (SELECT node, 1.0::DOUBLE AS pr FROM n)"""
    val steps = (1 to iters).map { i =>
      s"""r$i AS (
  SELECT n.node, ${1.0 - damping} + $damping * coalesce(m.mass, 0) AS pr
  FROM n LEFT JOIN (
    SELECT ed.dst AS node, sum(r${i - 1}.pr / deg.odeg) AS mass
    FROM ed JOIN r${i - 1} ON ed.src = r${i - 1}.node
            JOIN deg ON ed.src = deg.src
    GROUP BY 1) m USING (node))"""
    }
    (base +: steps).mkString(",\n") +
      s"\nSELECT node, ${round(s"pr")} AS pr FROM r$iters"
  }
}
