package graft.scoring

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** In-engine trainable model: full-batch logistic regression by
  * DataFrame-expressed gradient descent — the engine twin of the
  * reference's supervised layer (`models/advanced_models.py:1-533`,
  * notebook cell-10), built the way distributed LR actually trains at
  * scale (Spark MLlib's own LBFGS/OWLQN does the same reduction): each
  * iteration is ONE partial-aggregated pass computing the (d+1)-gradient
  * vector; only that tiny vector ever reaches the driver. The data never
  * collects, never reshuffles after the initial projection, and the
  * per-iteration cost is a map + combine over the checkpointed
  * standardized frame — at 100 TB with 1000 executors each step is a
  * single tree-aggregate.
  *
  * Determinism: weights start at 0, steps are fixed-rate full-batch
  * (no sampling, no RNG anywhere); float summation-order noise across
  * partitions stays at ulp scale and is absorbed by the caller's output
  * rounding — the same contract every aggregate query in the engine
  * already relies on.
  */
object Trainer {

  /** Fitted model: per-feature standardization (population moments) and
    * the weights/intercept in STANDARDIZED space.
    */
  final case class LogisticModel(
      features: Seq[String], means: Seq[Double], stds: Seq[Double],
      weights: Seq[Double], intercept: Double, iters: Int, lr: Double)

  /** The frame every single-mask linear trainer iterates over. ONE stats
    * pass over `train` computes each feature's population mean and
    * stddev (a constant column gets stddev 1, so it contributes only to
    * the intercept), with any `extra` aggregates fused in after them;
    * the stats row is returned for those. The projection (__y, __x0 ..
    * __x{d-1}), d+1 doubles per row, is checkpointed: every GD pass
    * re-reads it instead of re-running the projection.
    */
  private def standardized(train: DataFrame, features: Seq[String],
      label: Column, extra: Seq[Column] = Nil)
      : (Seq[Double], Seq[Double], Row, DataFrame) = {
    val statAggs = features.flatMap { f =>
      Seq(avg(col(f).cast("double")).as(s"m_$f"),
        stddev_pop(col(f).cast("double")).as(s"s_$f"))
    } ++ extra
    val st = train.agg(statAggs.head, statAggs.tail: _*).head()
    val means = features.indices.map(i => Option(st.get(2 * i))
      .map(_.asInstanceOf[Double]).getOrElse(0.0))
    val stds = features.indices.map { i =>
      val s = Option(st.get(2 * i + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      if (s > 0.0) s else 1.0
    }
    val xs = features.zipWithIndex.map { case (f, i) =>
      ((col(f).cast("double") - lit(means(i))) / lit(stds(i))).as(s"__x$i")
    }
    val data = train.select(label.cast("double").as("__y") +: xs: _*)
      .localCheckpoint()
    (means, stds, st, data)
  }

  /** Fit on `train` (must carry `features` numeric columns); `label`
    * must evaluate to 0.0/1.0. Full-batch GD on the standardized
    * features: w ← w − lr · (1/n) Σ x·(σ(w·x+b) − y).
    */
  def fitLogistic(train: DataFrame, features: Seq[String], label: Column,
      iters: Int = 20, lr: Double = 0.5): LogisticModel = {
    require(iters >= 1, s"fitLogistic: iters must be >= 1, got $iters")
    val d = features.size
    val (means, stds, _, data) = standardized(train, features, label)
    val w = Array.fill(d)(0.0)
    var b = 0.0
    for (_ <- 1 to iters) {
      val margin = (0 until d).map(i => col(s"__x$i") * lit(w(i)))
        .foldLeft(lit(b))(_ + _)
      val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y")
      val gAggs = (0 until d).map(i => avg(err * col(s"__x$i")).as(s"g$i")) :+
        avg(err).as("gb")
      val g = data.agg(gAggs.head, gAggs.tail: _*).head()
      for (i <- 0 until d) w(i) -= lr * g.getDouble(i)
      b -= lr * g.getDouble(d)
    }
    LogisticModel(features, means, stds, w.toSeq, b, iters, lr)
  }

  /** Leave-one-fold-out CV twin of [[fitLogistic]]: fits `folds` models
    * in the SAME number of passes as one fit — every GD step is ONE
    * aggregate computing all folds' gradients as conditional averages
    * (`avg(when(fold =!= f, g))`), and the standardization stats job is
    * fused the same way. At 100 TB this is the difference between k and
    * 1 scans per step; per-fold math equals filtering first up to ~1 ulp
    * (the plan shape perturbs double summation order — TrainerSpec pins
    * agreement at 1e-12; the 4dp oracle gates absorb it).
    *
    * Returns one model per fold f, each trained on rows with
    * `foldCol =!= f` and standardized by that training subset's moments.
    */
  def fitLogisticCV(train: DataFrame, features: Seq[String], label: Column,
      foldCol: Column, folds: Int, iters: Int = 20, lr: Double = 0.5)
      : Seq[LogisticModel] = {
    require(folds >= 2, s"fitLogisticCV: folds must be >= 2, got $folds")
    fitLogisticMasked(train, features, label,
      (0 until folds).map(f => foldCol =!= f), iters, lr)
  }

  /** The general masked-subset kernel behind [[fitLogisticCV]]: fits one
    * model per row MASK in the passes of ONE fit — every GD step is ONE
    * aggregate computing all masks' gradients as conditional averages,
    * and the standardization stats job is fused the same way. Per-mask
    * math equals filtering first up to ~1 ulp (a NULL mask excludes the
    * row; TrainerSpec pins 1e-12 agreement). CV is the
    * `fold =!= f` instance; sklearn's learning_curve (nested train
    * sizes) is the `bucket < t` instance. At 100 TB: k masks cost the
    * scans of one fit.
    */
  def fitLogisticMasked(train: DataFrame, features: Seq[String], label: Column,
      masks: Seq[Column], iters: Int = 20, lr: Double = 0.5)
      : Seq[LogisticModel] = {
    require(masks.nonEmpty, "fitLogisticMasked: masks must be non-empty")
    require(iters >= 1, s"fitLogisticMasked: iters must be >= 1, got $iters")
    val d = features.size
    val k = masks.size
    // fused per-mask standardization moments: one pass, masks × 2d aggs
    val statAggs = masks.zipWithIndex.flatMap { case (mk, j) =>
      features.flatMap { c =>
        Seq(avg(when(mk, col(c).cast("double"))).as(s"m_${j}_$c"),
          stddev_pop(when(mk, col(c).cast("double"))).as(s"s_${j}_$c"))
      }
    }
    val st = train.agg(statAggs.head, statAggs.tail: _*).head()
    val means = Array.tabulate(k, d) { (j, i) =>
      Option(st.get(2 * (j * d + i))).map(_.asInstanceOf[Double]).getOrElse(0.0) }
    val stds = Array.tabulate(k, d) { (j, i) =>
      val s = Option(st.get(2 * (j * d + i) + 1)).map(_.asInstanceOf[Double]).getOrElse(0.0)
      if (s > 0.0) s else 1.0
    }
    // one checkpointed projection carries every mask's standardized view:
    // the raw doubles + the mask booleans (masks × d pre-standardized
    // columns would also work but widen it; standardize in the aggregate)
    val data = train.select(
      label.cast("double").as("__y") +:
        (masks.zipWithIndex.map { case (mk, j) => mk.as(s"__m$j") } ++
          features.zipWithIndex.map { case (c, i) =>
            col(c).cast("double").as(s"__r$i") }): _*)
      .localCheckpoint()
    val w = Array.fill(k, d)(0.0)
    val b = Array.fill(k)(0.0)
    for (_ <- 1 to iters) {
      val gAggs = (0 until k).flatMap { j =>
        def x(i: Int) = (col(s"__r$i") - lit(means(j)(i))) / lit(stds(j)(i))
        val margin = (0 until d).map(i => x(i) * lit(w(j)(i)))
          .foldLeft(lit(b(j)))(_ + _)
        val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y")
        (0 until d).map(i =>
          avg(when(col(s"__m$j"), err * x(i))).as(s"g_${j}_$i")) :+
          avg(when(col(s"__m$j"), err)).as(s"gb_$j")
      }
      val g = data.agg(gAggs.head, gAggs.tail: _*).head()
      for (j <- 0 until k) {
        for (i <- 0 until d) w(j)(i) -= lr * g.getDouble(j * (d + 1) + i)
        b(j) -= lr * g.getDouble(j * (d + 1) + d)
      }
    }
    (0 until k).map(j => LogisticModel(features,
      means(j).toSeq, stds(j).toSeq, w(j).toSeq, b(j), iters, lr))
  }

  /** Closed-form hyperparameter-grid twin of [[fitLogistic]]: trains one
    * weight vector per learning rate SIMULTANEOUSLY — each GD step is ONE
    * aggregate computing every rate's (d+1)-gradient as parallel columns
    * (the q172 fusion, without fold conditionals since every cell trains
    * on the full set) — and snapshots each rate's weights at every
    * checkpoint iteration. The (rates × checkpoints) grid costs
    * max(checkpoints) passes total instead of Σ iters: the engine's
    * answer to the reference's hyperparameter-search surface
    * (`models/advanced_models.py:309-339`) without RNG or a tuner
    * dependency. Standardization moments are shared (same train set).
    *
    * Returns (rate, checkpointIters) -> model, for every combination.
    */
  def fitLogisticGrid(train: DataFrame, features: Seq[String], label: Column,
      rates: Seq[Double], checkpoints: Seq[Int]): Map[(Double, Int), LogisticModel] = {
    require(rates.nonEmpty && checkpoints.nonEmpty && checkpoints.forall(_ >= 1),
      s"fitLogisticGrid: need rates and checkpoints >= 1; got $rates, $checkpoints")
    val d = features.size
    val (means, stds, _, data) = standardized(train, features, label)
    val w = Array.fill(rates.size, d)(0.0)
    val b = Array.fill(rates.size)(0.0)
    var out = Map.empty[(Double, Int), LogisticModel]
    for (it <- 1 to checkpoints.max) {
      val gAggs = rates.indices.flatMap { r =>
        val margin = (0 until d).map(i => col(s"__x$i") * lit(w(r)(i)))
          .foldLeft(lit(b(r)))(_ + _)
        val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y")
        (0 until d).map(i => avg(err * col(s"__x$i")).as(s"g_${r}_$i")) :+
          avg(err).as(s"gb_$r")
      }
      val g = data.agg(gAggs.head, gAggs.tail: _*).head()
      for (r <- rates.indices) {
        for (i <- 0 until d) w(r)(i) -= rates(r) * g.getDouble(r * (d + 1) + i)
        b(r) -= rates(r) * g.getDouble(r * (d + 1) + d)
      }
      if (checkpoints.contains(it)) {
        for (r <- rates.indices) {
          out += (rates(r), it) -> LogisticModel(features, means, stds,
            w(r).clone().toSeq, b(r), it, rates(r))
        }
      }
    }
    out
  }

  /** Class-weighted twin of [[fitLogistic]] — the reference trains with
    * `class_weight='balanced'` / `scale_pos_weight=10`
    * (`models/advanced_models.py:228-229`); this is that hyperparameter
    * surface for the engine's logistic trainer. Positive rows' gradient
    * contributions scale by posWeight:
    * `w ← w − lr · Σ c_i·x_i·(σ−y) / Σ c_i`, `c_i = posWeight` when
    * y=1 else 1. ALL weight settings train SIMULTANEOUSLY — one fused
    * aggregate per GD step carries every setting's weighted gradient
    * sums (the [[fitLogisticGrid]] fusion), so a k-point sweep costs the
    * same passes as one fit. Standardization stays class-blind
    * (sklearn's scaler is). The weighted row-count Σc_i is exact when
    * posWeight is integral-valued (sums of exact doubles), keeping the
    * normalizer bit-stable across engines; returns one model per
    * setting, in `posWeights` order.
    */
  def fitLogisticWeighted(train: DataFrame, features: Seq[String],
      label: Column, posWeights: Seq[Double], iters: Int = 20,
      lr: Double = 0.5): Seq[LogisticModel] = {
    require(posWeights.nonEmpty && posWeights.forall(_ > 0.0),
      s"fitLogisticWeighted: posWeights must be positive, got $posWeights")
    require(iters >= 1, s"fitLogisticWeighted: iters must be >= 1, got $iters")
    val d = features.size
    val (means, stds, _, data) = standardized(train, features, label)
    def cw(k: Int): Column =
      when(col("__y") === 1.0, lit(posWeights(k))).otherwise(lit(1.0))
    // per-setting weighted row count — constant across iterations
    val wsAggs = posWeights.indices.map(k => sum(cw(k)).as(s"ws$k"))
    val wsRow = data.agg(wsAggs.head, wsAggs.tail: _*).head()
    val wsum = posWeights.indices.map(wsRow.getDouble)
    val w = Array.fill(posWeights.size, d)(0.0)
    val b = Array.fill(posWeights.size)(0.0)
    for (_ <- 1 to iters) {
      val gAggs = posWeights.indices.flatMap { k =>
        val margin = (0 until d).map(i => col(s"__x$i") * lit(w(k)(i)))
          .foldLeft(lit(b(k)))(_ + _)
        val err = (lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y")) * cw(k)
        (0 until d).map(i =>
          (sum(err * col(s"__x$i")) / lit(wsum(k))).as(s"g_${k}_$i")) :+
          (sum(err) / lit(wsum(k))).as(s"gb_$k")
      }
      val g = data.agg(gAggs.head, gAggs.tail: _*).head()
      for (k <- posWeights.indices) {
        for (i <- 0 until d) w(k)(i) -= lr * g.getDouble(k * (d + 1) + i)
        b(k) -= lr * g.getDouble(k * (d + 1) + d)
      }
    }
    posWeights.indices.map(k => LogisticModel(features, means, stds,
      w(k).clone().toSeq, b(k), iters, lr))
  }

  /** Full-batch subgradient linear SVM (hinge loss + L2) — the engine
    * twin of the reference's stacking-list `SVC` member
    * (`models/advanced_models.py:255`). Kernel SVMs sit outside the
    * engine's determinism contract the way TensorFlow training does; a
    * margin-trained linear separator fills the slot with the same fused
    * reduction shape as [[fitLogistic]] — each step is ONE aggregate of
    * the violator-masked subgradient
    * `w ← w − lr·(λ·w − avg(1[y′·m<1]·y′·x))`, `b ← b + lr·avg(1[...]·y′)`
    * with `y′ = 2y − 1`. Returns a [[LogisticModel]] (same
    * standardization + linear-margin shape, so [[margin]] scores it).
    */
  def fitLinearSvm(train: DataFrame, features: Seq[String], label: Column,
      iters: Int = 6, lr: Double = 0.5, lambda: Double = 0.01): LogisticModel = {
    require(iters >= 1, s"fitLinearSvm: iters must be >= 1, got $iters")
    val d = features.size
    val (means, stds, _, data) = standardized(train, features, label)
    val w = Array.fill(d)(0.0)
    var b = 0.0
    for (_ <- 1 to iters) {
      val margin = (0 until d).map(i => col(s"__x$i") * lit(w(i)))
        .foldLeft(lit(b))(_ + _)
      val yy = col("__y") * 2.0 - 1.0
      val viol = yy * margin < 1.0
      val gAggs = (0 until d).map(i =>
        avg(when(viol, yy * col(s"__x$i")).otherwise(lit(0.0))).as(s"g$i")) :+
        avg(when(viol, yy).otherwise(lit(0.0))).as("gb")
      val g = data.agg(gAggs.head, gAggs.tail: _*).head()
      for (i <- 0 until d) w(i) -= lr * (lambda * w(i) - g.getDouble(i))
      b += lr * g.getDouble(d)
    }
    LogisticModel(features, means, stds, w.toSeq, b, iters, lr)
  }

  /** One member of a linear family trained in [[fitLinearFamily]]'s
    * SHARED scan. Each member's gradient formula is kept literally
    * identical to its solo trainer so the fused fit is bit-equal to
    * fitting the members separately (TrainerSpec asserts case-class
    * equality) — fusing only removes Spark passes, never changes math.
    */
  sealed trait LinearMember
  object LinearMember {
    /** Plain logistic GD — the [[fitLogistic]] member. */
    case object Logistic extends LinearMember
    /** Class-weighted logistic — the [[fitLogisticWeighted]] member. */
    final case class Weighted(posWeight: Double) extends LinearMember
    /** Hinge + L2 linear SVM — the [[fitLinearSvm]] member. */
    final case class Svm(lambda: Double) extends LinearMember
  }

  /** Fit a whole linear-model family — any mix of plain logistic,
    * class-weighted logistic and linear-SVM members — in the passes of
    * ONE fit: a single checkpointed standardized projection (the members
    * share features, so the projection is shared), one fused stats pass that
    * also carries every weighted member's normalizer Σc_i, and ONE
    * aggregate per GD step computing every member's (d+1)-gradient as
    * parallel columns (the [[fitLogisticGrid]]/[[fitLogisticWeighted]]
    * fusion, extended across loss functions). At 100 TB this turns
    * k·(iters+2) full scans into (iters+2): training the reference's
    * model zoo (`models/advanced_models.py` fits LR, weighted LR and an
    * SVM on the same frame) costs the scans of one model.
    *
    * Returns one [[LogisticModel]] per member, in `members` order,
    * bit-identical to that member's solo trainer on the same frame.
    */
  def fitLinearFamily(train: DataFrame, features: Seq[String], label: Column,
      members: Seq[LinearMember], iters: Int = 6, lr: Double = 0.5)
      : Seq[LogisticModel] = {
    require(members.nonEmpty, "fitLinearFamily: members must be non-empty")
    require(iters >= 1, s"fitLinearFamily: iters must be >= 1, got $iters")
    val d = features.size
    // weighted members' normalizers fold into the (class-blind) stats
    // pass: Σc_i over train equals fitLogisticWeighted's Σc_i over its
    // projection (same rows, same order, exact-integral weights)
    val wks = members.zipWithIndex.collect {
      case (LinearMember.Weighted(_), k) => k }
    val (means, stds, st, data) = standardized(train, features, label,
      members.zipWithIndex.collect { case (LinearMember.Weighted(pw), k) =>
        sum(when(label.cast("double") === 1.0, lit(pw)).otherwise(lit(1.0)))
          .as(s"ws$k")
      })
    val wsum: Map[Int, Double] =
      wks.zipWithIndex.map { case (k, j) => k -> st.getDouble(2 * d + j) }.toMap
    val w = Array.fill(members.size, d)(0.0)
    val b = Array.fill(members.size)(0.0)
    for (_ <- 1 to iters) {
      val gAggs = members.zipWithIndex.flatMap { case (mem, k) =>
        val margin = (0 until d).map(i => col(s"__x$i") * lit(w(k)(i)))
          .foldLeft(lit(b(k)))(_ + _)
        mem match {
          case LinearMember.Logistic =>
            val err = lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y")
            (0 until d).map(i =>
              avg(err * col(s"__x$i")).as(s"g_${k}_$i")) :+
              avg(err).as(s"gb_$k")
          case LinearMember.Weighted(pw) =>
            val cw = when(col("__y") === 1.0, lit(pw)).otherwise(lit(1.0))
            val err = (lit(1.0) / (lit(1.0) + exp(-margin)) - col("__y")) * cw
            (0 until d).map(i =>
              (sum(err * col(s"__x$i")) / lit(wsum(k))).as(s"g_${k}_$i")) :+
              (sum(err) / lit(wsum(k))).as(s"gb_$k")
          case LinearMember.Svm(_) =>
            val yy = col("__y") * 2.0 - 1.0
            val viol = yy * margin < 1.0
            (0 until d).map(i =>
              avg(when(viol, yy * col(s"__x$i")).otherwise(lit(0.0)))
                .as(s"g_${k}_$i")) :+
              avg(when(viol, yy).otherwise(lit(0.0))).as(s"gb_$k")
        }
      }
      val g = data.agg(gAggs.head, gAggs.tail: _*).head()
      members.zipWithIndex.foreach {
        case (LinearMember.Svm(lambda), k) =>
          for (i <- 0 until d)
            w(k)(i) -= lr * (lambda * w(k)(i) - g.getDouble(k * (d + 1) + i))
          b(k) += lr * g.getDouble(k * (d + 1) + d)
        case (_, k) =>
          for (i <- 0 until d) w(k)(i) -= lr * g.getDouble(k * (d + 1) + i)
          b(k) -= lr * g.getDouble(k * (d + 1) + d)
      }
    }
    members.indices.map(k => LogisticModel(features, means, stds,
      w(k).clone().toSeq, b(k), iters, lr))
  }

  /** Linear margin w·standardize(x) + b over the RAW feature columns —
    * monotone in the predicted probability, so ranking metrics (AUC) can
    * skip the sigmoid.
    */
  def margin(m: LogisticModel): Column = marginOver(m, col)

  /** [[margin]] with each feature read through `in` (e.g. a permuted
    * column under the feature's name) — same expression, same
    * associativity, so substituted scores are bit-identical to scoring
    * a frame with the columns physically swapped.
    */
  def marginOver(m: LogisticModel, in: String => Column): Column =
    m.features.zipWithIndex.map { case (f, i) =>
      ((in(f).cast("double") - lit(m.means(i))) / lit(m.stds(i))) * lit(m.weights(i))
    }.foldLeft(lit(m.intercept))(_ + _)

  /** Predicted probability σ(margin). */
  def probability(m: LogisticModel): Column =
    lit(1.0) / (lit(1.0) + exp(-margin(m)))
}
