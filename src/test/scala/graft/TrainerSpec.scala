package graft

import graft.scoring.Trainer
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The in-engine logistic trainer must actually LEARN (separable fixture
  * → near-perfect ranking, correct weight signs), be deterministic across
  * runs, and handle degenerate columns without dividing by zero.
  */
class TrainerSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  // y = 1 iff x1 > 0 (deterministic, linearly separable); x2 is an
  // independent deterministic distractor, x3 is constant
  private def fixture = {
    import spark.implicits._
    (1 to 400).map { i =>
      val x1 = (i % 21) - 10.0
      val x2 = ((i * 7) % 13) - 6.0
      (x1, x2, 5.0, if (x1 > 0) 1.0 else 0.0)
    }.toDF("x1", "x2", "x3", "y")
  }

  test("separable fixture: positive weight on the signal, ~0 on the distractor, AUC ~1") {
    val m = Trainer.fitLogistic(fixture, Seq("x1", "x2", "x3"), col("y"),
      iters = 50, lr = 1.0)
    assert(m.weights(0) > 1.0, s"signal weight ${m.weights(0)}")
    assert(math.abs(m.weights(1)) < math.abs(m.weights(0)) / 5,
      s"distractor ${m.weights(1)} vs signal ${m.weights(0)}")
    assert(m.weights(2) == 0.0, "constant column must contribute nothing")
    val auc = graft.feedback.Drift.auc(
      fixture.select(col("y"), Trainer.margin(m).as("s")),
      col("y") === 1.0, col("s")).head().getDouble(0)
    assert(auc > 0.99, s"auc $auc")
  }

  test("training is deterministic: two fits give bit-identical weights") {
    val m1 = Trainer.fitLogistic(fixture, Seq("x1", "x2"), col("y"), iters = 10, lr = 0.5)
    val m2 = Trainer.fitLogistic(fixture, Seq("x1", "x2"), col("y"), iters = 10, lr = 0.5)
    assert(m1.weights == m2.weights && m1.intercept == m2.intercept)
  }

  test("loss decreases monotonically over the first iterations") {
    import spark.implicits._
    def logloss(m: Trainer.LogisticModel): Double =
      fixture.select(
        (-(col("y") * log(Trainer.probability(m)) +
          (lit(1.0) - col("y")) * log(lit(1.0) - Trainer.probability(m)))).as("l"))
        .agg(avg(col("l"))).as[Double].head()
    val losses = Seq(1, 3, 6).map(k =>
      logloss(Trainer.fitLogistic(fixture, Seq("x1", "x2"), col("y"), iters = k, lr = 0.5)))
    assert(losses == losses.sorted.reverse, s"not decreasing: $losses")
  }

  test("iters = 0 is refused") {
    val ex = intercept[IllegalArgumentException] {
      Trainer.fitLogistic(fixture, Seq("x1"), col("y"), iters = 0)
    }
    assert(ex.getMessage.contains("iters"))
  }

  test("fitLinearSvm learns the separable fixture: signal weight positive, margin ranks y, hinge loss falls") {
    import spark.implicits._
    def hinge(m: Trainer.LogisticModel): Double =
      fixture.select(greatest(lit(0.0),
        lit(1.0) - (col("y") * 2.0 - 1.0) * Trainer.margin(m)).as("h"))
        .agg(avg(col("h"))).as[Double].head()
    val m = Trainer.fitLinearSvm(fixture, Seq("x1", "x2", "x3"), col("y"),
      iters = 8, lr = 0.5, lambda = 0.01)
    assert(m.weights.head > 0.5, s"signal weight ${m.weights.head}")
    assert(math.abs(m.weights(1)) < 0.1, s"distractor ${m.weights(1)}")
    // constant column x3: std pinned to 1, zero z -> zero weight
    assert(m.weights(2) == 0.0)
    val auc = graft.feedback.Drift.auc(
      fixture.select(col("y"), Trainer.margin(m).as("s")),
      col("y") === 1.0, col("s")).head().getDouble(0)
    assert(auc > 0.99, s"auc $auc")
    assert(hinge(m) < hinge(Trainer.fitLinearSvm(fixture, Seq("x1", "x2", "x3"),
      col("y"), iters = 1, lr = 0.5, lambda = 0.01)))
  }

  test("fitLogisticWeighted: posWeight=1 reproduces the unweighted fit; upweighting shifts toward the positive class") {
    import spark.implicits._
    // imbalanced fixture: 1 positive per 10 rows, positives at high x1
    val imb = (1 to 400).map { i =>
      val x1 = (i % 21) - 10.0
      (x1, if (i % 10 == 0 && x1 > 3) 1.0 else 0.0)
    }.toDF("x1", "y")
    val Seq(m1, m10) = Trainer.fitLogisticWeighted(imb, Seq("x1"), col("y"),
      Seq(1.0, 10.0), iters = 6, lr = 0.5)
    val base = Trainer.fitLogistic(imb, Seq("x1"), col("y"), iters = 6, lr = 0.5)
    // posWeight = 1: sum(1·g)/sum(1) is arithmetically avg(g) — the
    // weighted path must reproduce the plain fit to summation noise
    m1.weights.zip(base.weights).foreach { case (a, b) =>
      assert(math.abs(a - b) < 1e-12, s"w: $a vs $b")
    }
    assert(math.abs(m1.intercept - base.intercept) < 1e-12)
    // upweighting positives raises the intercept (more rows predicted
    // positive) and cannot weaken the positive signal weight
    assert(m10.intercept > m1.intercept)
    assert(m10.weights.head >= m1.weights.head)
    // both settings train on identical standardization moments
    assert(m10.means == m1.means && m10.stds == m1.stds)
  }

  test("fitLinearFamily: fused trio is bit-identical to the solo fits") {
    import Trainer.LinearMember
    val feats = Seq("x1", "x2", "x3")
    val Seq(lrF, wlrF, svmF) = Trainer.fitLinearFamily(fixture, feats,
      col("y"), Seq(LinearMember.Logistic, LinearMember.Weighted(5.0),
        LinearMember.Svm(0.01)), iters = 6, lr = 0.5)
    val lrS = Trainer.fitLogistic(fixture, feats, col("y"), iters = 6, lr = 0.5)
    val wlrS = Trainer.fitLogisticWeighted(fixture, feats, col("y"),
      Seq(5.0), iters = 6, lr = 0.5).head
    val svmS = Trainer.fitLinearSvm(fixture, feats, col("y"), iters = 6,
      lr = 0.5, lambda = 0.01)
    // case-class equality = exact doubles: the fused scan may remove
    // passes but must never perturb a single bit of any member
    assert(lrF == lrS, s"logistic: $lrF vs $lrS")
    assert(wlrF == wlrS, s"weighted: $wlrF vs $wlrS")
    assert(svmF == svmS, s"svm: $svmF vs $svmS")
  }

  test("fitLinearFamily: empty members and iters = 0 are refused") {
    intercept[IllegalArgumentException] {
      Trainer.fitLinearFamily(fixture, Seq("x1"), col("y"), Seq.empty)
    }
    intercept[IllegalArgumentException] {
      Trainer.fitLinearFamily(fixture, Seq("x1"), col("y"),
        Seq(Trainer.LinearMember.Logistic), iters = 0)
    }
  }

  // conditional (when(mask, ...)) and filtered-frame aggregation agree to
  // ~1 ulp, not bit-exactly (Spark's plan shape perturbs double summation
  // order) — the oracle gate's 4dp rounding absorbs this; the spec pins
  // the same contract at 1e-12
  private def close(a: Trainer.LogisticModel, b: Trainer.LogisticModel): Unit = {
    assert(a.features == b.features && a.iters == b.iters && a.lr == b.lr)
    def eps(x: Double, y: Double) =
      assert(math.abs(x - y) <= 1e-12 * math.max(1.0, math.max(math.abs(x), math.abs(y))),
        s"$x vs $y in\n$a\n$b")
    a.means.zip(b.means).foreach((eps _).tupled)
    a.stds.zip(b.stds).foreach((eps _).tupled)
    a.weights.zip(b.weights).foreach((eps _).tupled)
    eps(a.intercept, b.intercept)
  }

  test("fitLogisticMasked: each mask's model equals the solo fit on the filtered slice (1e-12)") {
    val f = fixture.withColumn("half", (col("x2") > 0).cast("boolean"))
    val masks = Seq(col("half"), lit(true))
    val fused = Trainer.fitLogisticMasked(f, Seq("x1", "x2"), col("y"),
      masks, iters = 8, lr = 0.5)
    close(fused(0), Trainer.fitLogistic(f.where(col("half")), Seq("x1", "x2"),
      col("y"), iters = 8, lr = 0.5))
    close(fused(1), Trainer.fitLogistic(f, Seq("x1", "x2"), col("y"),
      iters = 8, lr = 0.5))
  }

  test("fitLogisticCV delegates to the masked kernel: per-fold models equal solo fits on the complement (1e-12)") {
    val f = fixture.withColumn("fold", (col("x2").cast("int") % 2 + 2) % 2)
    val cv = Trainer.fitLogisticCV(f, Seq("x1", "x2"), col("y"),
      col("fold"), folds = 2, iters = 5, lr = 0.5)
    (0 until 2).foreach { k =>
      close(cv(k), Trainer.fitLogistic(f.where(col("fold") =!= k),
        Seq("x1", "x2"), col("y"), iters = 5, lr = 0.5))
    }
  }

  test("fitLogisticMasked: empty masks are refused") {
    intercept[IllegalArgumentException] {
      Trainer.fitLogisticMasked(fixture, Seq("x1"), col("y"), Seq.empty)
    }
  }
}
