package graft.scoring

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Gradient-boosted decision stumps with squared loss — the engine's
  * boosted-ensemble slot (the reference trains GradientBoosting /
  * XGBoost-style models at `models/advanced_models.py:228-231`; this is
  * the closed-form, aggregation-only twin that scales the same way the
  * exact stump does).
  *
  * Each round fits a regression stump to the RUNNING RESIDUAL
  * r = y − F(x) and adds `rate · leaf-mean` to the model. The trick that
  * keeps every pass integer-exact (and therefore bit-reproducible in the
  * DuckDB oracle): after t rounds the model F takes one value per
  * combination of prior leaf memberships, so the residual sum over any
  * candidate's left side decomposes into INTEGER cumulative counts —
  * Σ_L r = Σ_L y − n_L·F0 − Σ_j [vl_j·|L∩left_j| + vr_j·(n_L−|L∩left_j|)]
  * — with the prior leaf values entering as 4dp-rounded literals
  * (identical binary64 on both engines, the q170/q172 recipe). The
  * cumulative machinery is [[graft.ops.GlobalOrder.withCumSums]] over
  * 2+(t−1) integral columns per feature: no single-partition window, no
  * float cumsum, at any distinct-value cardinality.
  *
  * Split criterion: squared-error reduction. Minimizing left+right SSE
  * with optimal constants equals maximizing S_L²/n_L + S_R²/n_R (S =
  * residual sum), so the argmax needs only the integer cumsums and the
  * literals. Ties break on (rounded gain desc, feature, threshold) —
  * deterministic across engines.
  *
  * Driver state is O(rounds): one argmax row collects per round (the
  * same bounded shape as Lloyd's k centroids in [[KMeansOps]]).
  */
object Boosting {

  /** One fitted round: split + SHRUNKEN leaf values (rate already
    * applied, rounded to the engine quantum before re-entering).
    */
  final case class Stump(feature: String, threshold: Double, vl: Double, vr: Double)

  /** Fitted additive model F(x) = f0 + Σ_t (vl_t | vr_t). */
  final case class Model(f0: Double, rate: Double, rounds: Seq[Stump])

  /** Fit `rounds` boosted stumps on `df` (numeric `features`, 0/1
    * `label`). The caller should checkpoint `df`: each round reads
    * it once per feature for the distinct-value aggregate.
    */
  def fit(df: DataFrame, features: Seq[String], label: Column,
      rounds: Int, rate: Double): Model = {
    require(rounds >= 1, s"Boosting.fit: rounds must be >= 1, got $rounds")
    val y = label.cast("long")
    val base = df.agg(count(lit(1)).as("__n"), sum(y).as("__sy")).head()
    // F0 = mean(y), rounded to the quantum before entering residual math
    val f0 = KMeansOps.r6d(base.getLong(1).toDouble / base.getLong(0))

    var fitted = List.empty[Stump] // reverse fit order
    for (_ <- 1 to rounds) {
      val prior = fitted.reverse
      // ONE melted (feature, value) scan + ONE partitioned cumsum
      // pipeline per round (the Models.meltedPer recipe): prior-round
      // left-membership flags evaluate on the original row BEFORE the
      // explode, counts stay integers, so candidates are bit-identical
      // to the per-feature form the oracle replays.
      val melted = df.select(
        (y.as("__y") +: prior.zipWithIndex.map { case (st, j) =>
          (col(st.feature).cast("double") <= st.threshold).as(s"__pf$j")
        }) :+ explode(array(features.map(f =>
          struct(lit(f).as("f"), col(f).cast("double").as("t"))): _*)).as("__e"): _*)
      val aggs = Seq(count(lit(1)).as("__cn"), sum(col("__y")).as("__csy")) ++
        prior.indices.map(j =>
          sum(when(col(s"__pf$j"), 1L).otherwise(0L)).as(s"__cc$j"))
      val per = melted
        .select(col("__e.f").as("__feat") +: col("__e.t").as("threshold") +:
          col("__y") +: prior.indices.map(j => col(s"__pf$j")): _*)
        .groupBy(col("__feat"), col("threshold"))
        .agg(aggs.head, aggs.tail: _*)
        .localCheckpoint() // cumsum + totals re-read the value table
      // per-feature grand totals ride the cumsum pipeline (grandTotals)
      // — no second aggregate/broadcast over the value table (§2.4)
      val cum = graft.ops.GlobalOrder.withCumSumsBy(per, Seq("__feat"),
        Seq(col("threshold")),
        Seq(col("__cn") -> "nl", col("__csy") -> "syl") ++
          prior.indices.map(j => col(s"__cc$j") -> s"cll$j"),
        grandTotals = true)
        .withColumnRenamed("__tot_nl", "tn")
        .withColumnRenamed("__tot_syl", "tsy")
      val cumT = prior.indices.foldLeft(cum)((d, j) =>
        d.withColumnRenamed(s"__tot_cll$j", s"tcl$j"))
      // residual sum over a side from its integer counts + rounded
      // literals — the oracle writes the same expression in the same
      // associativity
      def residSum(sy: Column, n: Column, cl: Int => Column): Column =
        prior.zipWithIndex.foldLeft(sy - n * lit(f0)) { case (acc, (st, j)) =>
          acc - (lit(st.vl) * cl(j) + lit(st.vr) * (n - cl(j)))
        }
      val cands = cumT
        .select(col("__feat").as("feature"), col("threshold"), col("nl"), col("tn"),
          residSum(col("syl"), col("nl"), j => col(s"cll$j")).as("sl"),
          residSum(col("tsy"), col("tn"), j => col(s"tcl$j")).as("stot"))
        .where(col("nl") < col("tn")) // right side non-empty
        .select(col("feature"), col("threshold"), col("nl"),
          (col("tn") - col("nl")).as("nr"),
          col("sl"), (col("stot") - col("sl")).as("sr"))

      val best = cands.select(col("feature"), col("threshold"),
          graft.queries.r6(col("sl") * col("sl") / col("nl") +
            col("sr") * col("sr") / col("nr")).as("gain"),
          graft.queries.r6(lit(rate) * (col("sl") / col("nl"))).as("vl"),
          graft.queries.r6(lit(rate) * (col("sr") / col("nr"))).as("vr"))
        .orderBy(col("gain").desc, col("feature"), col("threshold"))
        .limit(1).head()
      fitted = Stump(best.getString(0), best.getDouble(1),
        best.getAs[Double]("vl"), best.getAs[Double]("vr")) :: fitted
    }
    Model(f0, rate, fitted.reverse)
  }

  /** F(x) over the raw feature columns — a literal CASE chain, pure
    * projection (no join, whole-stage codegen).
    */
  def score(m: Model): Column =
    m.rounds.foldLeft(lit(m.f0)) { (acc, st) =>
      acc + when(col(st.feature).cast("double") <= lit(st.threshold),
        lit(st.vl)).otherwise(lit(st.vr))
    }

  // ---------------------------------------------------------------------
  // Boosted DEPTH-2 TREES — the reference's actual GradientBoosting/XGB
  // member shape (4-leaf trees per round, `models/advanced_models.py:
  // 228-231`), one level beyond the stump chain above. Same determinism
  // recipe: after t rounds the model takes one value per combination of
  // prior LEAF memberships, so every residual sum over a candidate side
  // still decomposes into INTEGER cumulative counts (3 leaf-membership
  // columns per prior round; the 4th leaf is n minus the others) plus
  // 4dp-rounded leaf-value literals. Each round = TWO candidate passes
  // (root, then both children fused per side) — the fitDepth2 recipe on
  // the running residual.
  // ---------------------------------------------------------------------

  /** One fitted tree round: root split, per-side child splits, and the
    * four SHRUNKEN leaf values (rate applied, rounded) in leaf order
    * (root-left/child-left, root-left/child-right, root-right/child-left,
    * root-right/child-right).
    */
  final case class TreeRound(rootFeature: String, rootThreshold: Double,
      leftFeature: String, leftThreshold: Double,
      rightFeature: String, rightThreshold: Double,
      v0: Double, v1: Double, v2: Double, v3: Double) {
    def leafValues: Seq[Double] = Seq(v0, v1, v2, v3)
  }

  /** Fitted additive tree model F(x) = f0 + Σ_t leaf value of round t. */
  final case class TreeModel(f0: Double, rate: Double, rounds: Seq[TreeRound])

  /** Leaf index (0..3) of a row under round `tr` — literal thresholds. */
  private def leafIndex(tr: TreeRound): Column = {
    def side(f: String, t: Double, lo: Int, hi: Int): Column =
      when(col(f).cast("double") <= lit(t), lit(lo)).otherwise(lit(hi))
    when(col(tr.rootFeature).cast("double") <= lit(tr.rootThreshold),
      side(tr.leftFeature, tr.leftThreshold, 0, 1))
      .otherwise(side(tr.rightFeature, tr.rightThreshold, 2, 3))
  }

  /** Fit `rounds` boosted depth-2 trees. The caller should checkpoint
    * `df`: each round reads it twice per feature (root +
    * fused child pass). Every root side must admit a child split
    * (`require`d loudly, as in Trees.fitDepth2).
    */
  def fitTrees(df: DataFrame, features: Seq[String], label: Column,
      rounds: Int, rate: Double): TreeModel =
    // one-rate slice of the grid fitter: the chains are bit-identical
    // (ModelsSpec pinned the two implementations equal for a round
    // before the solo body was retired — round-11 ADVICE: any future
    // rounding/tie-break/associativity fix must land in ONE place),
    // and the pass count is the same (2 melted fact scans per round)
    fitTreesGrid(df, features, label, rounds, Seq(rate)).head

  /** (rounds × rate) hyperparameter grid over [[fitTrees]] with the
    * FACT-TABLE passes shared across every rate cell — the engine twin
    * of the reference's GridSearchCV/optuna sweep over XGBoost's
    * n_estimators/learning_rate (`models/advanced_models.py:309-361`).
    * The rounds dimension is free by construction (boosting is greedy:
    * a T-round chain's first t rounds ARE the t-round fit, so staged
    * prefixes evaluate every rounds cell); the rate dimension changes
    * the residuals, so each rate needs its own chain — but the chains
    * advance in LOCKSTEP, and each level's two melted scans (root +
    * fused children) carry every rate's prior-leaf/side conditional
    * sums at once. Total fact-table passes: 2 × rounds for the WHOLE
    * grid, exactly a single [[fitTrees]]'s count; the per-rate cumsum
    * pipelines and argmaxes read the checkpointed distinct-value table,
    * not the fact table. Per-rate models are bit-identical to separate
    * [[fitTrees]] calls (same integer counts through the same candidate
    * expressions — ModelsSpec pins row equality).
    */
  def fitTreesGrid(df: DataFrame, features: Seq[String], label: Column,
      rounds: Int, rates: Seq[Double]): Seq[TreeModel] = {
    require(rounds >= 1, s"Boosting.fitTreesGrid: rounds must be >= 1, got $rounds")
    require(rates.nonEmpty && rates.distinct.size == rates.size,
      s"Boosting.fitTreesGrid: rates must be non-empty and distinct, got $rates")
    val y = label.cast("long")
    val base = df.agg(count(lit(1)).as("__n"), sum(y).as("__sy")).head()
    val f0 = KMeansOps.r6d(base.getLong(1).toDouble / base.getLong(0))
    val rs = rates.indices

    def meltedCounts(flags: Seq[Column], aggs: Seq[Column],
        flagNames: Seq[String]): DataFrame =
      df.select((y.as("__y") +: flags) :+ explode(array(features.map(f =>
          struct(lit(f).as("f"), col(f).cast("double").as("t"))): _*)).as("__e"): _*)
        .select(col("__e.f").as("__feat") +: col("__e.t").as("threshold") +:
          col("__y") +: flagNames.map(col): _*)
        .groupBy(col("__feat"), col("threshold"))
        .agg(aggs.head, aggs.tail: _*)
        .localCheckpoint() // every rate's cumsum/argmax re-reads this

    // ONE GlobalOrder cumsum pipeline + ONE per-feature totals aggregate
    // for ALL branches of a pass (guide §2.4 — the per-branch form ran a
    // full bucket-shuffle/offset-join pipeline per (rate[, side]) slice,
    // 3·|rates| pipelines per round, over the SAME checkpointed value
    // table; the cumsum machinery is multi-column, and integral cumsums
    // are per-column independent, so fusing every branch's count columns
    // into one pipeline is bit-identical per branch while collapsing the
    // pass to a single bucket shuffle + offset join at any scale).
    // `cols` = every count column any branch of this pass consumes; the
    // returned frame carries, per source column c, the cumulative
    // `__cum_c` next to the per-feature total `__tot_c`.
    // grand totals ride the cumsum pipeline's offset pairing
    // (grandTotals = one shuffle + one broadcast for cums AND totals);
    // rename __tot___cum_<c> back to the __tot_<c> contract candsOf reads
    def cumAndTotals(perAll: DataFrame, cols: Seq[String]): DataFrame = {
      val cum = graft.ops.GlobalOrder.withCumSumsBy(perAll, Seq("__feat"),
        Seq(col("threshold")), cols.map(c => col(c) -> s"__cum_$c"),
        grandTotals = true)
      cols.foldLeft(cum)((d, c) =>
        d.withColumnRenamed(s"__tot___cum_$c", s"__tot_$c"))
    }

    // one branch's candidate table from the fused frame — the same
    // expressions (same associativity) the per-branch pipeline produced,
    // reading its own count columns: `cn`/`csy` the branch's row-count /
    // label-sum columns, `cl(r, l)` its prior-round leaf-count columns
    def candsOf(all: DataFrame, cn: String, csy: String,
        cl: (Int, Int) => String,
        residSum: (Column, Column, (Int, Int) => Column) => Column): DataFrame =
      all.select(col("__feat").as("feature"), col("threshold"),
          col(s"__cum_$cn").as("nl"), col(s"__tot_$cn").as("tn"),
          residSum(col(s"__cum_$csy"), col(s"__cum_$cn"),
            (r, l) => col(s"__cum_${cl(r, l)}")).as("sl"),
          residSum(col(s"__tot_$csy"), col(s"__tot_$cn"),
            (r, l) => col(s"__tot_${cl(r, l)}")).as("stot"))
        .where(col("nl") > 0 && col("nl") < col("tn"))
        .select(col("feature"), col("threshold"), col("nl"),
          (col("tn") - col("nl")).as("nr"),
          col("sl"), (col("stot") - col("sl")).as("sr"))

    // ONE action for ALL branches' argmaxes: each branch's candidate
    // pipeline is tagged and unioned, and the per-branch best split is
    // a min(struct(-gain, feature, threshold, …)) aggregate — the same
    // comparator as a per-branch TakeOrdered (gain desc, then feature,
    // then threshold; doubles through the same Spark ordering, and the
    // (feature, threshold) tail is unique per branch so the struct min
    // is total) — bit-identical picks while the grid's 3·|rates| argmax
    // jobs per round collapse to TWO (one root, one children).
    case class Best(feature: String, threshold: Double, vl: Double, vr: Double)
    def bestMany(branches: Seq[(Int, DataFrame, Double)]): Map[Int, Best] = {
      val tagged = branches.map { case (tag, cands, rate) =>
        cands.select(lit(tag).as("__tag"), col("feature"), col("threshold"),
          graft.queries.r6(col("sl") * col("sl") / col("nl") +
            col("sr") * col("sr") / col("nr")).as("gain"),
          graft.queries.r6(lit(rate) * (col("sl") / col("nl"))).as("vl"),
          graft.queries.r6(lit(rate) * (col("sr") / col("nr"))).as("vr"))
      }.reduce(_.unionByName(_))
      tagged.groupBy(col("__tag"))
        .agg(min(struct(negate(col("gain")).as("ng"), col("feature"),
          col("threshold"), col("vl"), col("vr"))).as("m"))
        .collect().map { r =>
          val m = r.getStruct(1)
          r.getInt(0) -> Best(m.getString(1), m.getDouble(2),
            m.getDouble(3), m.getDouble(4))
        }.toMap
    }

    val fitted = Array.fill(rates.size)(List.empty[TreeRound])
    for (_ <- 1 to rounds) {
      val priors = fitted.map(_.reverse).toSeq
      val nPrior = priors.head.size
      def residSumOf(k: Int)(sy: Column, n: Column,
          c: (Int, Int) => Column): Column =
        priors(k).zipWithIndex.foldLeft(sy - n * lit(f0)) { case (acc, (tr, r)) =>
          acc - (lit(tr.v0) * c(r, 0) + lit(tr.v1) * c(r, 1) +
            lit(tr.v2) * c(r, 2) +
            lit(tr.v3) * (n - c(r, 0) - c(r, 1) - c(r, 2)))
        }
      val leafFlags = rs.flatMap(k => priors(k).zipWithIndex.flatMap {
        case (tr, r) =>
          (0 to 2).map(l => (leafIndex(tr) === l).as(s"__lf${k}_${r}_$l"))
      })
      val leafFlagNames = rs.flatMap(k => priors(k).indices.flatMap(r =>
        (0 to 2).map(l => s"__lf${k}_${r}_$l")))

      // pass 1 (the round's FIRST shared fact scan): every rate's root
      // candidates from one melted count table
      val rootAggs = Seq(count(lit(1)).as("__cn"), sum(col("__y")).as("__csy")) ++
        rs.flatMap(k => (0 until nPrior).flatMap(r => (0 to 2).map(l =>
          sum(when(col(s"__lf${k}_${r}_$l"), 1L).otherwise(0L))
            .as(s"__c${k}_${r}_$l"))))
      val perRoot = meltedCounts(leafFlags, rootAggs, leafFlagNames)
      // every rate's cumsums/totals from ONE fused pipeline over perRoot
      val rootAll = cumAndTotals(perRoot,
        Seq("__cn", "__csy") ++ rs.flatMap(k =>
          (0 until nPrior).flatMap(r => (0 to 2).map(l => s"__c${k}_${r}_$l"))))
        .localCheckpoint() // each rate's argmax slice re-reads it
      val rootBests = bestMany(rs.map(k => (k,
        candsOf(rootAll, "__cn", "__csy", (r, l) => s"__c${k}_${r}_$l",
          residSumOf(k)), rates(k))))
      val sides = rs.map { k =>
        when(col(rootBests(k).feature).cast("double") <=
          lit(rootBests(k).threshold), 0).otherwise(1)
      }

      // pass 2 (the round's SECOND shared fact scan): both children of
      // every rate's root, all sides' conditional sums fused
      val sideFlags = rs.flatMap(k =>
        (0 to 1).map(s => (sides(k) === s).as(s"__sd${k}_$s")))
      val childAggs = rs.flatMap { k =>
        (0 to 1).flatMap { s =>
          Seq(sum(when(col(s"__sd${k}_$s"), 1L).otherwise(0L)).as(s"__cn${k}_$s"),
            sum(when(col(s"__sd${k}_$s"), col("__y")).otherwise(lit(0L)))
              .as(s"__csy${k}_$s")) ++
            (0 until nPrior).flatMap(r => (0 to 2).map(l =>
              sum(when(col(s"__sd${k}_$s") && col(s"__lf${k}_${r}_$l"), 1L)
                .otherwise(0L)).as(s"__c${k}_${r}_${l}_$s")))
        }
      }
      val perC = meltedCounts(leafFlags ++ sideFlags, childAggs,
        leafFlagNames ++ rs.flatMap(k => Seq(s"__sd${k}_0", s"__sd${k}_1")))
      // both children of every rate from ONE fused pipeline over perC
      val childAll = cumAndTotals(perC, rs.flatMap(k => (0 to 1).flatMap(s =>
          Seq(s"__cn${k}_$s", s"__csy${k}_$s") ++
            (0 until nPrior).flatMap(r => (0 to 2).map(l =>
              s"__c${k}_${r}_${l}_$s")))))
        .localCheckpoint() // each (rate, side) argmax slice re-reads it
      val childBests = bestMany(rs.flatMap(k => (0 to 1).map(s =>
        (k * 2 + s, candsOf(childAll, s"__cn${k}_$s", s"__csy${k}_$s",
          (r, l) => s"__c${k}_${r}_${l}_$s", residSumOf(k)), rates(k)))))
      rs.foreach { k =>
        val lb = childBests(k * 2)
        val rb = childBests(k * 2 + 1)
        fitted(k) = TreeRound(rootBests(k).feature, rootBests(k).threshold,
          lb.feature, lb.threshold, rb.feature, rb.threshold,
          lb.vl, lb.vr, rb.vl, rb.vr) :: fitted(k)
      }
    }
    rates.indices.map(k => TreeModel(f0, rates(k), fitted(k).reverse))
  }

  /** F(x) of the tree model — nested literal CASE chains, pure
    * projection.
    */
  def scoreTrees(m: TreeModel): Column =
    m.rounds.foldLeft(lit(m.f0)) { (acc, tr) =>
      def side(f: String, t: Double, lo: Double, hi: Double): Column =
        when(col(f).cast("double") <= lit(t), lit(lo)).otherwise(lit(hi))
      acc + when(col(tr.rootFeature).cast("double") <= lit(tr.rootThreshold),
        side(tr.leftFeature, tr.leftThreshold, tr.v0, tr.v1))
        .otherwise(side(tr.rightFeature, tr.rightThreshold, tr.v2, tr.v3))
    }
}
