package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.scale.Similarity

/** One embedding on the wire (the semantic gate's stream row shape). */
case class EmbDoc(vec_id: Long, embedding: Array[Float])

/** Streaming SEMANTIC near-dup gate — the embedding-space member of the
  * live gate battery (text exact → [[DedupProcessor]], text simhash →
  * [[NearDupGate]], semantic → here), serving the q265 incremental-
  * SemDeDup semantics on an embedding stream:
  *
  *   - the rounded-Lloyd quantizer freezes to LITERALS (k × dim doubles
  *     — model-sized, broadcast with the plan), so cluster placement is
  *     a pure per-row fold, no join;
  *   - yesterday's corpus, pre-assigned and GROUPED per cluster, is ONE
  *     stream-static 1:1 equi-join on the cluster id;
  *   - the within-cluster scan is a per-row fold over that cluster's
  *     member structs (best rounded cosine, lowest id on ties) —
  *     Σ|cluster| work per incoming vector, never corpus-wide.
  *
  * Output is bitwise-identical to [[graft.scale.Similarity.semDedupDelta]]
  * on the same split (the StreamingSpec gate): same seed quantizer, same
  * rounded centroid matrix, same 4 dp cosines, same tie rules.
  */
object SemanticGate {

  /** The frozen coarse quantizer: (cid, coordinates) literals. */
  final case class Quantizer(centroids: Seq[(Int, Seq[Double])]) {
    require(centroids.nonEmpty, "SemanticGate.Quantizer: no centroids")

    /** Nearest-centroid id as a pure projection (ties → lowest cid,
      * the assignment window's order).
      */
    def cid(embedding: Column): Column = {
      val ordered = centroids.sortBy(_._1)
      ordered.tail.foldLeft(
        struct(Similarity.sqDist(embedding, typedLit(ordered.head._2)).as("d"),
          lit(ordered.head._1).as("c"))) { case (acc, (id, ce)) =>
        val d = Similarity.sqDist(embedding, typedLit(ce))
        when(d < acc.getField("d"), struct(d.as("d"), lit(id).as("c")))
          .otherwise(acc)
      }.getField("c")
    }
  }

  /** Freeze the quantizer (bounded collect — k rows) and build the
    * per-cluster member index over yesterday's corpus: one row per
    * cluster carrying its (id, embedding) structs. The centroids are
    * checkpointed, so the Lloyd chain runs once for the collect and the
    * member index; the member index itself stays lazy.
    *
    * Each cluster's member list is ONE row (the Σ|cluster| fold's input),
    * so `k` must scale with the corpus to keep rows task-sized.
    * `maxClusterSize` makes that contract LOUD: when set, the fit runs
    * one extra aggregation over the index and refuses a member list
    * above the bound instead of shipping a row a task cannot hold
    * (opt-in — the extra pass re-runs the assignment and grouping, so
    * the default stays lazy).
    */
  def fit(index: DataFrame, k: Int, iters: Int,
      maxClusterSize: Option[Int] = None): (Quantizer, DataFrame) = {
    val cent = Similarity.lloydCentroidsRounded(index, k, iters)
      .localCheckpoint()
    val q = Quantizer(cent.collect().map(r =>
      r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq)
    val members = Similarity.assignTo(index, cent)
      .groupBy(col("cid"))
      .agg(collect_list(struct(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("e"))).as("cands"))
    maxClusterSize.foreach { bound =>
      // max() over an EMPTY member index is NULL — treat as worst = 0
      // (an empty embeddings frame is a legal, trivially-bounded index)
      val row = members.select(max(size(col("cands"))).as("m")).head
      val worst = if (row.isNullAt(0)) 0 else row.getInt(0)
      require(worst <= bound,
        s"SemanticGate.fit: largest cluster holds $worst members " +
          s"(> $bound) — raise k so per-cluster rows stay task-sized")
    }
    (q, members)
  }

  /** Flag an embedding stream against the frozen index: per vector its
    * cluster, index-mate count, above-`tau` dup count, the best match
    * (highest 4 dp cosine, lowest id on ties; NULL without mates), and
    * the keep decision. Works identically on a batch frame.
    */
  def flagged(docs: Dataset[EmbDoc], q: Quantizer, members: DataFrame,
              tau: Double): DataFrame = {
    val cur = docs.toDF()
      .withColumn("cluster_id", q.cid(col("embedding")).cast("long"))
      .join(members.select(col("cid").cast("long").as("cluster_id"),
        col("cands")), Seq("cluster_id"), "left")
    val cands = coalesce(col("cands"),
      array().cast("array<struct<id:bigint,e:array<double>>>"))
    // hoist the cosine metric: ONE kernel evaluation per candidate into a
    // (s, i) struct — the raw fold evaluated the dot/norm chain 2–3× per
    // candidate (condition + both struct branches), the VERDICT-r13
    // constant-factor note. n_dups filters the same pairs array.
    val pairs = transform(cands, c => struct(
      graft.queries.r6(Similarity.cosine(col("embedding"), c.getField("e"))).as("s"),
      c.getField("id").as("i")))
    // fold to (best rounded cosine, lowest id at it); cosine ≥ -1 so the
    // -2 seed never survives a nonempty candidate list
    val best = aggregate(pairs,
      struct(lit(-2.0).as("s"), lit(Long.MaxValue).as("i")),
      (acc, c) => when(
        c.getField("s") > acc.getField("s") ||
          (c.getField("s") === acc.getField("s") &&
            c.getField("i") < acc.getField("i")),
        c).otherwise(acc))
    val nDups = size(filter(pairs, c => c.getField("s") >= tau)).cast("long")
    cur.select(col("vec_id"), col("cluster_id"),
        size(cands).cast("long").as("n_index_mates"),
        nDups.as("n_dups"), best.as("b"))
      .select(col("vec_id"), col("cluster_id"), col("n_index_mates"),
        col("n_dups"),
        when(col("n_index_mates") > 0, col("b.s")).as("best_cos"),
        when(col("n_index_mates") > 0, col("b.i")).as("best_match_id"),
        (col("n_dups") === 0L).as("kept"))
  }
}
