package graft.scoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Fixed-iteration Lloyd k-means as DataFrame aggregations — the
  * clustering member of the reference's model layer (its DBSCAN twin for
  * outliers is `ops/Clustering.scala`; this is the centroid-quantizer the
  * reference notebook uses for segment discovery).
  *
  * Distributed shape: the points NEVER move. Each iteration scores the
  * checkpointed point table against k centroid LITERALS (zero shuffle — the
  * assignment is a `least(struct(dist, cid))` expression inside
  * whole-stage codegen) and reduces to k avg rows; only those k rows
  * reach the driver. At 10⁹ points an iteration is one map + one
  * k-group aggregate.
  *
  * Determinism contract (what makes the DuckDB oracle reproduce the run
  * bit-for-bit): the caller pre-rounds point coordinates to the output
  * quantum, every recomputed centroid coordinate is re-rounded through
  * the same half-away-from-zero quantum before it re-enters the distance
  * arithmetic, init is the deterministic order-statistic spread (the
  * (2i+1)·n/(2k)-th point under a total order — no RNG), and distance
  * ties break on the smallest centroid id. Identical decimal inputs +
  * identical expression order ⇒ identical IEEE-754 doubles on both
  * engines.
  */
object KMeansOps {

  /** Half-away-from-zero rounding to 4 dp with the engine's standard
    * midpoint nudge — the driver-side twin of `queries.r6`.
    */
  def r6d(x: Double): Double = {
    val c = x + 5e-11
    (if (c >= 0) math.floor(c * 1e4 + 0.5) else -math.floor(-c * 1e4 + 0.5)) / 1e4
  }

  /** Run `iters` Lloyd iterations over `points` (an id column + `feats`
    * numeric columns, coordinates already rounded by the caller) and
    * return per-cluster summaries: cluster id (the init rank, stable
    * across iterations), member count, and the final rounded centroid
    * coordinates.
    */
  def lloydSummary(points: DataFrame, id: Column, feats: Seq[String],
      k: Int, iters: Int): DataFrame = {
    require(k >= 1 && iters >= 1, s"lloydSummary: need k>=1, iters>=1; got k=$k iters=$iters")
    import org.apache.spark.sql.graftbridge.ColumnBridge.intDiv
    // one materialization; every iteration and the final summary re-read
    // the narrow (id, d coords) projection
    val pts = points.select(id.as("__id") +: feats.map(col): _*).localCheckpoint()

    // deterministic spread init: the ((2i+1)·n div 2k)-th point under
    // (first coordinate, id) — an order statistic, not a sample
    val ranked = graft.ops.GlobalOrder.withRowNumber(pts,
      Seq(col(feats.head), col("__id")), "__rn", total = Some("__n"))
    val picks = (0 until k).map(i =>
      greatest(intDiv(lit((2L * i + 1)) * col("__n"), lit(2L * k)), lit(1L)))
    var centroids: Seq[(Int, Seq[Double])] =
      ranked.where(picks.foldLeft(lit(false))((acc, p) => acc || col("__rn") === p))
        .orderBy(col("__rn"))
        .collect().toSeq.zipWithIndex.map { case (row, i) =>
          (i, feats.indices.map(j => r6d(row.getDouble(row.fieldIndex(feats(j))))))
        }

    def assigned: DataFrame = {
      val cands = centroids.map { case (cid, cs) =>
        val d = feats.zipWithIndex.map { case (f, j) =>
          (col(f) - lit(cs(j))) * (col(f) - lit(cs(j))) }.reduce(_ + _)
        struct(d.as("dist"), lit(cid).as("cid"))
      }
      val best = if (cands.size == 1) cands.head else least(cands: _*)
      pts.withColumn("__cid", best.getField("cid"))
    }

    // iters ASSIGNMENT passes with centroid updates between them: the
    // final summary reports the last pass's membership (and its implied
    // next-step centroids, as the rounded avg) — exactly the CTE chain
    // the oracle unrolls, with no trailing extra assignment
    for (_ <- 1 until iters) {
      val next = assigned.groupBy(col("__cid"))
        .agg(feats.map(f => avg(col(f)).as(f)).head,
          feats.map(f => avg(col(f)).as(f)).tail: _*)
        .collect().toSeq.map { row =>
          (row.getInt(row.fieldIndex("__cid")),
            feats.indices.map(j => r6d(row.getDouble(row.fieldIndex(feats(j))))))
        }.sortBy(_._1)
      centroids = next
    }

    val outAggs = count(lit(1)).as("n") +:
      feats.map(f => avg(col(f)).as(s"c_$f"))
    assigned.groupBy(col("__cid").as("cluster_id"))
      .agg(outAggs.head, outAggs.tail: _*)
  }
}
