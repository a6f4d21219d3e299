package graft.scoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Exact greedy depth-2 CART — the engine's multi-level-tree slot next to
  * the boosted stumps in [[Boosting]] (the reference's forest/boosting
  * members train depth-6/10 trees, `models/advanced_models.py:228-231`;
  * depth 2 is the smallest tree that captures a feature INTERACTION, the
  * qualitative gap between a stump ensemble and a real tree).
  *
  * Fit = three exact stump fits: the root over the whole table
  * ([[Models.stumpCandidates]]), then BOTH children in one fused pass
  * ([[Models.stumpCandidatesSided]] — one distinct-value groupBy + one
  * multi-column GlobalOrder cumsum per feature carries the two sides'
  * counts in parallel). Argmins are deterministic under (4dp-rounded
  * gini, feature, threshold) on both engines, and thresholds re-enter the
  * side filter as driver literals bit-identical to the values the oracle
  * derives — so a DuckDB replay of the same greedy chain lands on the
  * same tree. Driver state is three split rows; the data never moves.
  */
object Trees {

  /** One chosen split with its exact class counts. */
  final case class Split(feature: String, threshold: Double, gini: Double,
      nLeft: Long, posLeft: Long, nRight: Long, posRight: Long) {
    /** Rows the majority-class leaves of this split classify correctly. */
    def correct: Long =
      math.max(posLeft, nLeft - posLeft) + math.max(posRight, nRight - posRight)
    def n: Long = nLeft + nRight
  }

  /** Fitted depth-2 tree: root split + one split per root side. */
  final case class Depth2(root: Split, left: Split, right: Split) {
    /** Training accuracy of the four majority-class leaves. */
    def trainAccuracy: Double =
      KMeansOps.r6d((left.correct + right.correct).toDouble / root.n)
  }

  /** Fit on numeric `features` and a 0/1 `label`. The caller should
    * checkpoint `df` (it is scanned once per feature for the root
    * and once per feature for the fused child pass). Preconditions: both
    * root sides must admit a split (≥ 2 distinct values of some feature
    * on each side) — guaranteed for any non-degenerate fact table;
    * `require`d so a violation fails loudly rather than silently
    * dropping a child.
    */
  def fitDepth2(df: DataFrame, features: Seq[String], label: Column): Depth2 = {
    val root = argmin(Models.stumpCandidates(df, features, label))
    val side = when(col(root.feature).cast("double") <= root.threshold, 0)
      .otherwise(1)
    val kids = Models.stumpCandidatesSided(df, features, label, side)
      .groupBy(col("side")).agg(min(struct(
        graft.queries.r6(col("gini")).as("gini"), col("feature"),
        col("threshold"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"))).as("b"))
      .select(col("side"), col("b.*")).collect()
      .map(r => r.getInt(0) -> Split(r.getString(2), r.getDouble(3),
        r.getDouble(1), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    require(kids.contains(0) && kids.contains(1),
      s"fitDepth2: a root side admits no split (sides fitted: ${kids.keys})")
    Depth2(root, kids(0), kids(1))
  }

  /** Fitted depth-3 tree: the depth-2 greedy chain plus one split per
    * depth-2 leaf (ll/lr under the left child, rl/rr under the right).
    */
  final case class Depth3(root: Split, left: Split, right: Split,
      ll: Split, lr: Split, rl: Split, rr: Split) {
    /** Training accuracy of the eight majority-class leaves. */
    def trainAccuracy: Double =
      KMeansOps.r6d((ll.correct + lr.correct + rl.correct + rr.correct)
        .toDouble / root.n)
  }

  /** Second application of the fused sided-pass recipe: the [[fitDepth2]]
    * chain (2 table passes per feature), then ALL FOUR grandchildren in
    * one 4-group [[Models.stumpCandidatesGrouped]] pass keyed by depth-2
    * leaf membership — 3 candidate passes total for 7 exact greedy
    * splits, vs 7 filtered fits done naively. Same determinism contract
    * as depth 2 (thresholds re-enter as driver literals, argmins ordered
    * by rounded gini/feature/threshold), so a DuckDB replay of the chain
    * lands on the same tree. Preconditions: every depth-2 leaf must admit
    * a split (≥2 distinct feature values on it) — `require`d loudly.
    * Matches the reference's deeper-tree model family
    * (`models/advanced_models.py:228-231`) one greedy level closer.
    */
  def fitDepth3(df: DataFrame, features: Seq[String], label: Column): Depth3 = {
    val d2 = fitDepth2(df, features, label)
    val leaf = leafIndex(d2)
    val grands = Models.stumpCandidatesGrouped(df, features, label,
        groups = 4, g => leaf === g, "leaf")
      .groupBy(col("leaf")).agg(min(struct(
        graft.queries.r6(col("gini")).as("gini"), col("feature"),
        col("threshold"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"))).as("b"))
      .select(col("leaf"), col("b.*")).collect()
      .map(r => r.getInt(0) -> Split(r.getString(2), r.getDouble(3),
        r.getDouble(1), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap
    require((0 to 3).forall(grands.contains),
      s"fitDepth3: a depth-2 leaf admits no split (leaves fitted: ${grands.keys})")
    Depth3(d2.root, d2.left, d2.right,
      grands(0), grands(1), grands(2), grands(3))
  }

  /** Fitted depth-N tree grown level-wise. `splits` is keyed by node
    * path — "" for the root, then 'l'/'r' per level ("lr" = the right
    * child of the root's left child). A path absent from the map is a
    * terminal leaf; its class counts live on its parent's split row.
    */
  final case class DeepTree(maxDepth: Int, n: Long, pos: Long,
      splits: Map[String, Split]) {
    /** Terminal leaves as (path, n, pos): every side of a split node
      * that did not itself split.
      */
    def leaves: Seq[(String, Long, Long)] = splits.toSeq.flatMap { case (p, s) =>
      Seq((p + "l", s.nLeft, s.posLeft), (p + "r", s.nRight, s.posRight))
    }.filterNot { case (p, _, _) => splits.contains(p) }.sortBy(_._1)
    /** Training accuracy of the majority-class terminal leaves. */
    def trainAccuracy: Double =
      KMeansOps.r6d(leaves.map { case (_, ln, lp) =>
        math.max(lp, ln - lp) }.sum.toDouble / n)
  }

  /** Level-wise exact greedy CART of arbitrary depth — the PLANET recipe
    * (Panda et al., VLDB'09) on the fused grouped candidate pass: ONE
    * [[Models.stumpCandidatesGrouped]] pass fits EVERY live node of a
    * level (the fact table is scanned `maxDepth × |features|` times
    * total, independent of node count), closing the remaining gap to the
    * reference's depth-6/10 forest members (`models/advanced_models.py:
    * 228-231`). Deterministic stopping, replayable by the SQL oracle:
    * a node stops when it is pure (pos = 0 or pos = n — both engines
    * read that off the parent's split row) or when no feature admits a
    * candidate on its rows (< 2 distinct values — the empty-argmin
    * case); gain-0 splits of impure nodes are kept, as in the depth-2/3
    * fits. Argmins are (4dp gini, feature, threshold)-ordered and
    * thresholds re-enter as driver literals, so a DuckDB replay of the
    * chain lands on the identical tree. Driver state: ≤ 2^maxDepth − 1
    * split rows.
    */
  def fitDepth(df: DataFrame, features: Seq[String], label: Column,
      maxDepth: Int): DeepTree = {
    require(maxDepth >= 2 && maxDepth <= 10,
      s"fitDepth: maxDepth must be in [2, 10], got $maxDepth")
    val root = argmin(Models.stumpCandidates(df, features, label))
    var splits = Map("" -> root)
    def pathPred(path: String): Column =
      path.indices.map { i =>
        val s = splits(path.take(i))
        if (path(i) == 'l') col(s.feature).cast("double") <= lit(s.threshold)
        else col(s.feature).cast("double") > lit(s.threshold)
      }.reduce(_ && _)
    def impureKids(p: String, s: Split): Seq[(String, Long, Long)] =
      Seq((p + "l", s.nLeft, s.posLeft), (p + "r", s.nRight, s.posRight))
        .filter { case (_, kn, kp) => kp > 0 && kp < kn }
    var frontier = impureKids("", root)
    var level = 1
    while (level < maxDepth && frontier.nonEmpty) {
      val paths = frontier.map(_._1)
      val found: Map[String, Split] =
        if (paths.size == 1)
          argminOpt(Models.stumpCandidates(df.where(pathPred(paths.head)),
            features, label)).map(paths.head -> _).toMap
        else
          argminPerGroup(Models.stumpCandidatesGrouped(df, features, label,
            paths.size, g => pathPred(paths(g)), "node"), "node")
            .map { case (g, s) => paths(g) -> s }
      splits ++= found
      frontier = found.toSeq.sortBy(_._1).flatMap { case (p, s) => impureKids(p, s) }
      level += 1
    }
    DeepTree(maxDepth, root.n, root.posLeft + root.posRight, splits)
  }

  /** Best-first (leaf-wise) fit result: the tree (reusing [[DeepTree]] —
    * every path-keyed accessor, predictor and leaf enumeration applies
    * unchanged), the expansion order ("" first), and each expanded
    * node's root-weighted impurity decrease.
    */
  final case class BestFirstTree(tree: DeepTree, order: Seq[String],
      gains: Map[String, Double])

  /** Best-first (leaf-wise, max_leaves-bounded) exact greedy CART — the
    * LightGBM growth strategy (`models/advanced_models.py:35` trains the
    * `lgb` zoo member next to the level-wise forests): instead of
    * splitting every node of a level, repeatedly split the SINGLE leaf
    * whose best candidate buys the largest root-weighted impurity
    * decrease, until the tree has `maxLeaves` leaves (or no leaf admits
    * a split). At equal leaf budget this concentrates depth where the
    * impurity is, which is the whole point of the leaf-wise family.
    *
    * Determinism/replayability contract (same as [[fitDepth]]): within a
    * node the argmin is (4dp gini, feature, threshold)-ordered; ACROSS
    * leaves the expansion picks the highest 4dp-rounded gain
    * gain(p) = n_p/N · (g(p) − Σ_side n_side/n_p · g(side)) with
    * path-ascending tie-break — every term recomputed from the exact
    * split counts (the q203 importance formula), so a DuckDB replay of
    * the full candidate lattice + the same selection rule lands on the
    * identical tree. Gain-0 splits of impure leaves stay eligible (they
    * expand last), mirroring the level-wise family's stopping.
    *
    * A key best-first property makes the SQL replay tractable: a node's
    * candidate split depends only on its own row subset (fixed by its
    * PATH, not by expansion order), so the oracle can materialize the
    * full depth-capped greedy lattice once and replay only the
    * selection. `maxDepth` bounds that lattice (LightGBM's max_depth
    * guard); candidates are fitted lazily — the two children of each
    * expansion in one fused grouped pass, ≤ 2·(maxLeaves−1) node fits
    * total regardless of lattice size. Driver state: ≤ maxLeaves−1
    * split rows.
    */
  def fitBestFirst(df: DataFrame, features: Seq[String], label: Column,
      maxLeaves: Int, maxDepth: Int): BestFirstTree = {
    require(maxLeaves >= 2 && maxLeaves <= 64,
      s"fitBestFirst: maxLeaves must be in [2, 64], got $maxLeaves")
    require(maxDepth >= 2 && maxDepth <= 6,
      s"fitBestFirst: maxDepth must be in [2, 6], got $maxDepth")
    def g2(pos: Long, n: Long): Double = {
      val q = pos.toDouble / n; 1.0 - q * q - (1.0 - q) * (1.0 - q)
    }
    val root = argmin(Models.stumpCandidates(df, features, label))
    val bigN = root.n
    var splits = Map("" -> root)
    var order = Vector("")
    var gains = Map("" -> KMeansOps.r6d(
      (g2(root.posLeft + root.posRight, bigN) -
        (g2(root.posLeft, root.nLeft) * root.nLeft / bigN +
          g2(root.posRight, root.nRight) * root.nRight / bigN))))
    def pathPred(path: String): Column =
      path.indices.map { i =>
        val s = splits(path.take(i))
        if (path(i) == 'l') col(s.feature).cast("double") <= lit(s.threshold)
        else col(s.feature).cast("double") > lit(s.threshold)
      }.reduce(_ && _)
    def kidStats(p: String): (Long, Long) = {
      val s = splits(p.init)
      if (p.last == 'l') (s.nLeft, s.posLeft) else (s.nRight, s.posRight)
    }
    def gainOf(p: String, s: Split): Double = {
      val (nn, np) = kidStats(p)
      KMeansOps.r6d((nn.toDouble / bigN) * (g2(np, nn) -
        (g2(s.posLeft, s.nLeft) * s.nLeft / nn +
          g2(s.posRight, s.nRight) * s.nRight / nn)))
    }
    // candidate splits of current unexpanded leaves, keyed by path
    var pending = Map.empty[String, Split]
    def evaluate(paths: Seq[String]): Unit = {
      val found: Map[String, Split] =
        if (paths.isEmpty) Map.empty
        else if (paths.size == 1)
          argminOpt(Models.stumpCandidates(df.where(pathPred(paths.head)),
            features, label)).map(paths.head -> _).toMap
        else
          Models.stumpCandidatesGrouped(df, features, label, paths.size,
            g => pathPred(paths(g)), "node")
            .groupBy(col("node")).agg(min(struct(
              graft.queries.r6(col("gini")).as("gini"), col("feature"),
              col("threshold"), col("n_left"), col("pos_left"),
              col("n_right"), col("pos_right"))).as("b"))
            .select(col("node"), col("b.*")).collect()
            .map(r => paths(r.getInt(0)) -> Split(r.getString(2),
              r.getDouble(3), r.getDouble(1), r.getLong(4), r.getLong(5),
              r.getLong(6), r.getLong(7))).toMap
      pending ++= found
    }
    def eligibleKids(p: String, s: Split): Seq[String] =
      Seq((p + "l", s.nLeft, s.posLeft), (p + "r", s.nRight, s.posRight))
        .collect { case (kp, kn, kpn)
          if kpn > 0 && kpn < kn && kp.length < maxDepth => kp }
    evaluate(eligibleKids("", root))
    while (splits.size + 1 < maxLeaves && pending.nonEmpty) {
      val (p, s) = pending.toSeq
        .minBy { case (p0, s0) => (-gainOf(p0, s0), p0) }
      splits += p -> s
      order :+= p
      gains += p -> gainOf(p, s)
      pending -= p
      evaluate(eligibleKids(p, s))
    }
    BestFirstTree(DeepTree(maxDepth, bigN, root.posLeft + root.posRight,
      splits), order, gains)
  }

  /** Majority-class prediction of a fitted depth-N tree — a literal CASE
    * chain over the raw feature columns, pure whole-stage-codegen
    * projection (the online serving form, like the depth-2/3 twins).
    */
  def predict(m: DeepTree): Column = {
    def go(path: String, n: Long, pos: Long): Column = m.splits.get(path) match {
      case Some(s) =>
        when(col(s.feature).cast("double") <= lit(s.threshold),
          go(path + "l", s.nLeft, s.posLeft))
          .otherwise(go(path + "r", s.nRight, s.posRight))
      case None => lit(if (pos * 2 > n) 1L else 0L)
    }
    go("", m.n, m.pos)
  }

  /** Terminal-leaf path of a row under the fitted tree — the same CASE
    * chain emitting the leaf's path string instead of its class.
    */
  def leafPath(m: DeepTree): Column = {
    def go(path: String): Column = m.splits.get(path) match {
      case Some(s) =>
        when(col(s.feature).cast("double") <= lit(s.threshold), go(path + "l"))
          .otherwise(go(path + "r"))
      case None => lit(path)
    }
    go("")
  }

  /** Best split per group of a grouped candidate table, deterministic
    * under (4dp gini, feature, threshold) struct-min ordering. Groups
    * with no real candidate are absent from the result.
    */
  private def argminPerGroup(cands: DataFrame, grp: String): Map[Int, Split] =
    cands.groupBy(col(grp)).agg(min(struct(
        graft.queries.r6(col("gini")).as("gini"), col("feature"),
        col("threshold"), col("n_left"), col("pos_left"),
        col("n_right"), col("pos_right"))).as("b"))
      .select(col(grp), col("b.*")).collect()
      .map(r => r.getInt(0) -> Split(r.getString(2), r.getDouble(3),
        r.getDouble(1), r.getLong(4), r.getLong(5), r.getLong(6),
        r.getLong(7))).toMap

  /** [[argmin]] tolerating an empty candidate table (a node whose rows
    * admit no split) — None marks the node terminal.
    */
  private[scoring] def argminOpt(cands: DataFrame): Option[Split] =
    cands.select(col("feature"), col("threshold"),
        graft.queries.r6(col("gini")).as("gini"), col("n_left"),
        col("pos_left"), col("n_right"), col("pos_right"))
      .orderBy(col("gini"), col("feature"), col("threshold")).limit(1)
      .collect().headOption
      .map(r => Split(r.getString(0), r.getDouble(1), r.getDouble(2),
        r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))

  /** Depth-2 leaf index (0..3) of a row under the fitted chain: left
    * children first (root-left/child-left = 0), literal thresholds.
    */
  def leafIndex(m: Depth2): Column = {
    def side(s: Split, lo: Int, hi: Int): Column =
      when(col(s.feature).cast("double") <= lit(s.threshold), lit(lo))
        .otherwise(lit(hi))
    when(col(m.root.feature).cast("double") <= lit(m.root.threshold),
      side(m.left, 0, 1)).otherwise(side(m.right, 2, 3))
  }

  /** Deterministic best split of a candidate table: min by (rounded
    * gini, feature, threshold) via TakeOrdered — no global sort
    * materializes.
    */
  private def argmin(cands: DataFrame): Split = {
    val r = cands.select(col("feature"), col("threshold"),
        graft.queries.r6(col("gini")).as("gini"), col("n_left"),
        col("pos_left"), col("n_right"), col("pos_right"))
      .orderBy(col("gini"), col("feature"), col("threshold")).limit(1).head()
    Split(r.getString(0), r.getDouble(1), r.getDouble(2), r.getLong(3),
      r.getLong(4), r.getLong(5), r.getLong(6))
  }

  /** Majority-class prediction of the fitted tree over the raw feature
    * columns — a literal CASE chain, pure whole-stage-codegen projection.
    */
  def predict(m: Depth2): Column = {
    when(col(m.root.feature).cast("double") <= lit(m.root.threshold),
      leafPred(m.left)).otherwise(leafPred(m.right))
  }

  /** Majority-class prediction of a fitted depth-3 tree — the same
    * literal CASE chain one level deeper.
    */
  def predict(m: Depth3): Column = {
    def kid(s: Split, lo: Split, hi: Split): Column =
      when(col(s.feature).cast("double") <= lit(s.threshold),
        leafPred(lo)).otherwise(leafPred(hi))
    when(col(m.root.feature).cast("double") <= lit(m.root.threshold),
      kid(m.left, m.ll, m.lr)).otherwise(kid(m.right, m.rl, m.rr))
  }

  private def leafPred(s: Split): Column =
    when(col(s.feature).cast("double") <= lit(s.threshold),
      lit(if (s.posLeft * 2 > s.nLeft) 1L else 0L))
      .otherwise(lit(if (s.posRight * 2 > s.nRight) 1L else 0L))
}
