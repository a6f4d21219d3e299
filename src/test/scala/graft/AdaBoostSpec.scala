package graft

import graft.scoring.{AdaBoost, KMeansOps}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused pattern-count SAMME fit vs a naive driver-side AdaBoost:
  * same stumps, same weighted errors, same vote chain.
  */
class AdaBoostSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  // noisy two-feature labels: learnable but not separable, so every
  // round's best weighted error stays inside (0, 0.5)
  private def fixture: Seq[(Double, Double, Long)] =
    (0 until 60).map { i =>
      val f1 = (i % 10).toDouble
      val f2 = ((i * 7) % 13).toDouble
      val clean = f1 >= 5.0
      val y = if (i % 9 == 0) !clean else clean // 1-in-9 label noise
      (f1, f2, if (y) 1L else 0L)
    }

  /** Naive reference fit: materialized per-row weights, every (feature,
    * threshold) candidate scored by brute force, the engine's exact
    * rounding chain (4 dp beta/alpha, r6d argmin key).
    */
  private def naiveFit(rows: Seq[(Double, Double, Long)], rounds: Int):
      Seq[AdaBoost.Round] = {
    val feats = Seq("f1", "f2")
    def fv(r: (Double, Double, Long), f: String) = if (f == "f1") r._1 else r._2
    var fitted = Vector.empty[AdaBoost.Round]
    for (_ <- 1 to rounds) {
      def weight(r: (Double, Double, Long)): Double =
        fitted.foldLeft(1.0) { (w, st) =>
          val pred = if (fv(r, st.feature) <= st.threshold) st.leftLabel else st.rightLabel
          if (pred != r._3) w * st.beta else w
        }
      val cands = for {
        f <- feats
        t <- rows.map(fv(_, f)).distinct.sorted
        if rows.exists(fv(_, f) > t) // right side non-empty
      } yield {
        val (l, r) = rows.partition(fv(_, f) <= t)
        val wlp = l.filter(_._3 == 1L).map(weight).sum
        val wln = l.filter(_._3 == 0L).map(weight).sum
        val wrp = r.filter(_._3 == 1L).map(weight).sum
        val wrn = r.filter(_._3 == 0L).map(weight).sum
        val err = (math.min(wlp, wln) + math.min(wrp, wrn)) / (wlp + wln + wrp + wrn)
        (f, t, wlp, wln, wrp, wrn, err)
      }
      val best = cands.minBy { case (f, t, _, _, _, _, e) => (KMeansOps.r6d(e), f, t) }
      val beta = KMeansOps.r6d((1.0 - best._7) / best._7)
      fitted :+= AdaBoost.Round(best._1, best._2,
        leftLabel = if (best._3 > best._4) 1 else 0,
        rightLabel = if (best._5 > best._6) 1 else 0,
        err = best._7, beta = beta, alpha = KMeansOps.r6d(math.log(beta)))
    }
    fitted
  }

  test("fused pattern-count fit matches the naive materialized-weight fit") {
    import spark.implicits._
    val rows = fixture
    val df = rows.toDF("f1", "f2", "y")
    val m = AdaBoost.fit(df, Seq("f1", "f2"), col("y"), rounds = 3)
    val n = naiveFit(rows, 3)
    assert(m.size == 3)
    m.zip(n).zipWithIndex.foreach { case ((got, exp), i) =>
      assert(got.feature == exp.feature, s"round ${i + 1} feature")
      assert(got.threshold == exp.threshold, s"round ${i + 1} threshold")
      assert(got.leftLabel == exp.leftLabel, s"round ${i + 1} leftLabel")
      assert(got.rightLabel == exp.rightLabel, s"round ${i + 1} rightLabel")
      // the naive sum re-associates, so err is approximate; beta/alpha
      // are 4 dp-rounded and must agree exactly
      assert(math.abs(got.err - exp.err) < 1e-9, s"round ${i + 1} err")
      assert(got.beta == exp.beta, s"round ${i + 1} beta")
      assert(got.alpha == exp.alpha, s"round ${i + 1} alpha")
    }
    // reweighting must actually move the fit: round 2 differs from round 1
    assert((m(0).feature, m(0).threshold) != (m(1).feature, m(1).threshold))
    // every round is a weak learner that boosting can weight: err < 0.5
    m.foreach(r => assert(r.err > 0.0 && r.err < 0.5 && r.alpha > 0.0))
  }

  test("classify matches the driver-side staged vote on every row") {
    import spark.implicits._
    val rows = fixture
    val df = rows.toDF("f1", "f2", "y")
    val m = AdaBoost.fit(df, Seq("f1", "f2"), col("y"), rounds = 3)
    def fv(r: (Double, Double, Long), f: String) = if (f == "f1") r._1 else r._2
    for (t <- 1 to 3) {
      val staged = m.take(t)
      val got = df.select(col("f1"), AdaBoost.classify(staged).as("c"))
        .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      rows.foreach { r =>
        val vote = staged.map { st =>
          val pred = if (fv(r, st.feature) <= st.threshold) st.leftLabel else st.rightLabel
          if (pred == 1) st.alpha else -st.alpha
        }.sum
        val exp = if (vote > 0) 1L else 0L
        assert(got(r._1) == exp, s"stage $t row ${r._1}")
      }
    }
  }

  test("separable data early-stops with the perfect learner kept at weight 1 (sklearn)") {
    import spark.implicits._
    val df = (0 until 20).map(i => (i.toDouble, if (i < 10) 0L else 1L))
      .toDF("f1", "y")
    val m = AdaBoost.fit(df, Seq("f1"), col("y"), rounds = 4)
    // sklearn keeps the err-0 learner with estimator weight 1.0 and
    // breaks the fit loop — the ensemble is exactly that one stump
    assert(m.size == 1)
    val r = m.head
    assert(r.err == 0.0 && r.alpha == 1.0 && r.beta == 1.0)
    assert(r.feature == "f1" && r.threshold == 9.0)
    assert(r.leftLabel == 0 && r.rightLabel == 1)
    // and it classifies the slice perfectly
    assert(df.where(AdaBoost.classify(m) =!= col("y")).count() == 0)
  }

  test("a first round worse than chance still fails loudly (sklearn raises too)") {
    import spark.implicits._
    // perfectly anti-balanced within every candidate threshold is hard
    // to build; a constant label's complement via weights isn't either —
    // instead force it structurally: two points per feature value with
    // opposite labels makes every split's best side exactly half wrong
    val df = (0 until 20).map(i => ((i / 2).toDouble, (i % 2).toLong))
      .toDF("f1", "y")
    val e = intercept[IllegalArgumentException] {
      AdaBoost.fit(df, Seq("f1"), col("y"), rounds = 2)
    }
    assert(e.getMessage.contains(">= 0.5"))
  }
}
