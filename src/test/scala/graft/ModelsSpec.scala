package graft

import graft.scale.Packing
import graft.scoring.{KMeansOps, Lime, Models}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Hand-computed pins for the closed-form model layer: naive-Bayes
  * log-odds, exact stump Gini over cumulative counts, Lloyd k-means
  * convergence/determinism, and concat-and-chunk packing offsets.
  */
class ModelsSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("naiveBayesDelta reproduces the hand-computed smoothed log-odds") {
    import spark.implicits._
    // train: feature a: value 0 → 3 neg 1 pos, value 1 → 1 neg 3 pos
    val train = Seq(
      (0, 0), (0, 0), (0, 0), (0, 1),
      (1, 0), (1, 1), (1, 1), (1, 1)).toDF("a", "y")
    val test = Seq(Tuple1(0), Tuple1(1), Tuple1(2)).toDF("a")
    val out = Models.naiveBayesDelta(train, test, Seq("a"), col("y"))
      .select(col("a"), col("delta")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val (n1, n0, k) = (4.0, 4.0, 2.0)
    def d(c1: Double, c0: Double) =
      math.log(n1 / n0) + math.log((c1 + 1) / (n1 + k)) - math.log((c0 + 1) / (n0 + k))
    assert(math.abs(out(0) - d(1, 3)) < 1e-12)
    assert(math.abs(out(1) - d(3, 1)) < 1e-12)
    // unseen value: pure smoothing terms
    assert(math.abs(out(2) - d(0, 0)) < 1e-12)
    // symmetric priors + symmetric counts ⇒ mirrored deltas
    assert(math.abs(out(0) + out(1)) < 1e-12)
  }

  test("fitNaiveBayes literal chain equals the join-based naiveBayesDelta bitwise") {
    import spark.implicits._
    // two features, one value unseen in training (pure-smoothing cell)
    val train = Seq(
      (0L, 0L, 0), (0L, 1L, 0), (0L, 1L, 1), (1L, 0L, 1),
      (1L, 1L, 1), (2L, 0L, 0), (2L, 1L, 0), (1L, 0L, 1)
    ).toDF("a", "b", "y")
    val test = Seq((0L, 0L), (1L, 1L), (2L, 0L), (9L, 1L), (0L, 7L))
      .toDF("a", "b")
    val m = Models.fitNaiveBayes(train, Seq("a", "b"), col("y"))
    assert(m.tables("a").size == 3 && m.tables("b").size == 2)
    // the literal CASE chain and the broadcast-join scorer are the SAME
    // doubles through the same arithmetic — exact equality, no epsilon
    val joined = Models.naiveBayesDelta(train, test, Seq("a", "b"), col("y"))
      .select(col("a"), col("b"), col("delta"))
    val mismatches = joined.withColumn("lit_delta", m.delta)
      .where(col("delta") =!= col("lit_delta")).count()
    assert(mismatches == 0)
    // cardinality cap: a wide feature is rejected at fit time
    val wide = (1L to 50L).map(i => (i, i % 2)).toDF("a", "y")
    val err = intercept[IllegalArgumentException] {
      Models.fitNaiveBayes(wide, Seq("a"), col("y"), maxCardinality = 10)
    }
    assert(err.getMessage.contains("driver-model cap"))
  }

  test("naiveBayesDeltaOof matches three separate leave-one-fold-out fits bit-for-bit") {
    import spark.implicits._
    // two bucketed features, 3 folds, including a value ("b" = 9) that
    // appears ONLY inside fold 2 — its fold-2 OOF score must hit the
    // unseen-value pure-smoothing path, like the per-fold LEFT JOIN does.
    // Plus an out-of-range fold (feeds every train model, never scored)
    // and a null fold (feeds nothing, never scored) — exactly what the
    // per-fold union does with them.
    val data = (1 to 90).map { i =>
      (i.toLong, i % 5, if (i == 77) 9 else i % 3, if (i % 10 < 4) 1 else 0, i % 3)
    }.toDF("id", "a", "b", "y", "fold")
      .unionByName(Seq((991L, 1, 1, 1, 7)).toDF("id", "a", "b", "y", "fold"))
      .unionByName(spark.range(1).select(lit(992L).as("id"), lit(2).as("a"),
        lit(2).as("b"), lit(0).as("y"), lit(null).cast("int").as("fold")))
    val fused = Models.naiveBayesDeltaOof(data, Seq("a", "b"), col("y"),
        col("fold"), folds = 3)
      .select(col("id"), col("delta")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val perFold = (0 until 3).flatMap { b =>
      Models.naiveBayesDelta(data.where(col("fold") =!= b),
          data.where(col("fold") === b), Seq("a", "b"), col("y"))
        .select(col("id"), col("delta")).collect()
        .map(r => r.getLong(0) -> r.getDouble(1))
    }.toMap
    assert(fused.keySet == perFold.keySet && fused.size == 90)
    assert(!fused.contains(991L) && !fused.contains(992L))
    fused.foreach { case (id, d) =>
      assert(java.lang.Double.doubleToLongBits(d) ==
        java.lang.Double.doubleToLongBits(perFold(id)), s"id $id: $d vs ${perFold(id)}")
    }
  }

  test("stumpCandidates finds the perfect split of a separable feature") {
    import spark.implicits._
    // x <= 4 is pure-negative, x >= 5 pure-positive; z is noise
    val df = (1 to 10).map(i => (i.toDouble, i % 3, if (i <= 4) 0 else 1))
      .toDF("x", "z", "y")
    val cands = Models.stumpCandidates(df, Seq("x", "z"), col("y"))
    val best = cands.orderBy(col("gini"), col("feature"), col("threshold")).head()
    assert(best.getString(0) == "x" && best.getDouble(1) == 4.0)
    assert(best.getDouble(best.fieldIndex("gini")) == 0.0)
    assert(best.getLong(best.fieldIndex("n_left")) == 4 &&
      best.getLong(best.fieldIndex("pos_left")) == 0)
    assert(best.getLong(best.fieldIndex("n_right")) == 6 &&
      best.getLong(best.fieldIndex("pos_right")) == 6)
    // the max value is not a candidate (right side would be empty)
    assert(cands.where(col("feature") === "x" && col("threshold") === 10.0).count() == 0)
    // weighted Gini of a known mixed split: x <= 5 → left 4N+1P, right 5P
    val g5 = cands.where(col("feature") === "x" && col("threshold") === 5.0)
      .head().getDouble(6)
    val pl = 1.0 / 5.0
    val expected = (1.0 - pl * pl - (1 - pl) * (1 - pl)) * 5.0 / 10.0
    assert(math.abs(g5 - expected) < 1e-12, s"$g5 vs $expected")
  }

  test("stumpCandidatesBagged matches the filtered per-bag fit, phantoms excluded") {
    import spark.implicits._
    // value 99 exists ONLY in bag 0 -> it must appear as a candidate for
    // bags 1/2 (they train on it) but never yield a phantom argmin for
    // bag 0 (its cumulative counts tie its predecessor there)
    val df = ((1 to 60).map(i => (i % 10 * 1.0, i % 3, if (i % 10 >= 5) 1 else 0)) :+
      ((99.0, 0, 1))).toDF("x", "bag", "y")
    val fused = Models.stumpCandidatesBagged(df, Seq("x"), col("y"), col("bag"), 3)
    for (b <- 0 until 3) {
      val filt = Models.stumpCandidates(df.where(col("bag") =!= b), Seq("x"), col("y"))
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("n_right"), col("pos_right"), col("gini"))
        .orderBy(col("threshold")).collect().toSeq
      val fus = fused.where(col("bag") === b)
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("n_right"), col("pos_right"), col("gini"))
        .orderBy(col("threshold")).collect().toSeq
      // every filtered candidate appears in the fused set with identical
      // counts and gini; fused may add tie-duplicating phantoms only
      val fusByT = fus.map(r => r.getDouble(0) -> r).toMap
      filt.foreach { r =>
        val m = fusByT(r.getDouble(0))
        assert((1 to 4).forall(i => m.getLong(i) == r.getLong(i)) &&
          m.getDouble(5) == r.getDouble(5), s"bag $b threshold ${r.getDouble(0)}")
      }
      // identical argmin under the (gini, threshold) order
      def arg(rows: Seq[org.apache.spark.sql.Row]) =
        rows.minBy(r => (KMeansOps.r6d(r.getDouble(5)), r.getDouble(0)))
      assert(arg(filt).getDouble(0) == arg(fus).getDouble(0), s"bag $b argmin")
    }
  }

  test("stumpCandidatesSided matches the filtered per-side fit") {
    import spark.implicits._
    // value 99 exists only on side 1 -> must never phantom-argmin side 0
    val df = ((1 to 60).map(i => (i % 10 * 1.0, i % 4, if (i % 10 >= 5) 1 else 0)) :+
      ((99.0, 3, 1))).toDF("x", "z", "y")
    val side = when(col("z") <= 1, 0).otherwise(1)
    val fused = Models.stumpCandidatesSided(df, Seq("x"), col("y"), side)
    for (sd <- 0 until 2) {
      val filt = Models.stumpCandidates(df.where(side === sd), Seq("x"), col("y"))
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("n_right"), col("pos_right"), col("gini"))
        .orderBy(col("threshold")).collect().toSeq
      val fus = fused.where(col("side") === sd)
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("n_right"), col("pos_right"), col("gini"))
        .orderBy(col("threshold")).collect().toSeq
      val fusByT = fus.map(r => r.getDouble(0) -> r).toMap
      filt.foreach { r =>
        val m = fusByT(r.getDouble(0))
        assert((1 to 4).forall(i => m.getLong(i) == r.getLong(i)) &&
          m.getDouble(5) == r.getDouble(5), s"side $sd threshold ${r.getDouble(0)}")
      }
      def arg(rows: Seq[org.apache.spark.sql.Row]) =
        rows.minBy(r => (KMeansOps.r6d(r.getDouble(5)), r.getDouble(0)))
      assert(arg(filt).getDouble(0) == arg(fus).getDouble(0), s"side $sd argmin")
    }
  }

  test("fitDepth2 solves an interaction no stump can separate") {
    import spark.implicits._
    // y = (x <= 4) XOR (z > 5): every depth-1 split is ~50/50, the
    // depth-2 tree is exact. 8 copies so counts are unambiguous.
    val df = (for {
      rep <- 1 to 8; x <- 1 to 8; z <- 1 to 8
    } yield (x.toDouble, z.toDouble,
      if ((x <= 4) ^ (z > 5)) 1 else 0, rep)).toDF("x", "z", "y", "rep")
    val m = graft.scoring.Trees.fitDepth2(df, Seq("x", "z"), col("y"))
    assert(m.trainAccuracy == 1.0, s"expected exact fit, got $m")
    // the two levels split on DIFFERENT features at the true boundaries
    assert(Set(m.root.feature, m.left.feature) == Set("x", "z"))
    assert(m.left.feature == m.right.feature)
    val b = Map("x" -> 4.0, "z" -> 5.0)
    assert(m.root.threshold == b(m.root.feature))
    assert(m.left.threshold == b(m.left.feature) &&
      m.right.threshold == b(m.right.feature))
    // predict column reproduces the label everywhere; trainAccuracy is
    // the same number the counts claim
    val acc = df.select(avg((graft.scoring.Trees.predict(m) === col("y"))
      .cast("double"))).head().getDouble(0)
    assert(acc == 1.0)
    // root counts cover the whole table
    assert(m.root.n == 8L * 64)
  }

  test("fitLogisticCV matches three separate leave-one-fold-out fits") {
    import spark.implicits._
    val df = (1 to 300).map { i =>
      val x1 = (i % 21) - 10.0
      val x2 = ((i * 7) % 13) - 6.0
      (x1, x2, i % 3, if (x1 > 0) 1.0 else 0.0)
    }.toDF("x1", "x2", "fold", "y")
    val cv = graft.scoring.Trainer.fitLogisticCV(
      df, Seq("x1", "x2"), col("y"), col("fold"), folds = 3, iters = 5)
    assert(cv.size == 3)
    for (f <- 0 until 3) {
      val sep = graft.scoring.Trainer.fitLogistic(
        df.where(col("fold") =!= f), Seq("x1", "x2"), col("y"), iters = 5)
      // same math, different partial-aggregation order: agree to float slack
      cv(f).weights.zip(sep.weights).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"fold $f weights $a vs $b") }
      assert(math.abs(cv(f).intercept - sep.intercept) < 1e-9, s"fold $f intercept")
      cv(f).means.zip(sep.means).foreach { case (a, b) =>
        assert(math.abs(a - b) < 1e-9, s"fold $f means") }
    }
  }

  test("lloydSummary separates three obvious clusters and is deterministic") {
    import spark.implicits._
    // 3 tight blobs of 5 points on a line, plus exact repeats
    val pts = (0 until 15).map { i =>
      val c = i / 5
      (s"p$i", c * 10.0 + (i % 5) * 0.1, c * 10.0 - (i % 5) * 0.1)
    }.toDF("id", "z1", "z2")
    def run() = KMeansOps.lloydSummary(pts, col("id"), Seq("z1", "z2"), k = 3, iters = 3)
      .orderBy(col("cluster_id")).collect()
      .map(r => (r.getInt(0), r.getLong(1),
        KMeansOps.r6d(r.getDouble(2)), KMeansOps.r6d(r.getDouble(3))))
    val a = run()
    assert(a.length == 3 && a.forall(_._2 == 5), a.mkString(","))
    val centers1 = a.map(_._3).sorted
    assert(centers1.zip(Seq(0.2, 10.2, 20.2)).forall { case (x, e) => math.abs(x - e) < 1e-9 })
    assert(a.toSeq == run().toSeq, "k-means must be deterministic across runs")
  }

  test("lloydSummary k=1 degenerates to the global mean") {
    import spark.implicits._
    val pts = Seq(("a", 1.0), ("b", 2.0), ("c", 6.0)).toDF("id", "v")
    val r = KMeansOps.lloydSummary(pts, col("id"), Seq("v"), k = 1, iters = 2).head()
    assert(r.getLong(1) == 3 && math.abs(r.getDouble(2) - 3.0) < 1e-12)
  }

  test("packing placements and bin report match hand-layout") {
    import spark.implicits._
    // tokens 3,2,4 into bins of 4: offsets [0,3) [3,5) [5,9)
    val d = Seq((1L, 3L), (2L, 2L), (3L, 4L)).toDF("doc_id", "tok")
    val p = Packing.placements(d, Seq(col("doc_id")), col("tok"), 4L)
      .orderBy(col("doc_id"))
      .select(col("start_off"), col("end_off"), col("first_bin"), col("last_bin"),
        col("spans_boundary"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    assert(p.toSeq == Seq((0L, 3L, 0L, 0L, false), (3L, 5L, 0L, 1L, true), (5L, 9L, 1L, 2L, true)))
    val b = Packing.binReport(d, Seq(col("doc_id")), col("tok"), 4L)
      .orderBy(col("bin"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // bin0: docs 1+2, 4 tokens, doc1 contained, doc2 continues
    // bin1: docs 2+3, 4 tokens, none contained, doc3 continues
    // bin2: doc 3 tail, 1 token
    assert(b.toSeq == Seq((0L, 2L, 4L, 1L, 1L), (1L, 2L, 4L, 0L, 1L), (2L, 1L, 1L, 0L, 0L)))
  }

  test("packing rejects binSize < 1 and bounds the fan-out") {
    import spark.implicits._
    val d = Seq((1L, 10000L)).toDF("doc_id", "tok")
    intercept[IllegalArgumentException] {
      Packing.placements(d, Seq(col("doc_id")), col("tok"), 0L)
    }
    // a 10000-token doc in 2048-bins touches exactly ceil + boundary bins
    val bins = Packing.binReport(d, Seq(col("doc_id")), col("tok"), 2048L).count()
    assert(bins == 5, s"$bins")
  }

  test("stumpCandidatesGrouped(4 leaves) matches the filtered per-leaf fit") {
    import spark.implicits._
    // value 99 exists only in leaf 3 -> must never phantom-argmin leaves 0-2
    val df = ((1 to 80).map(i => (i % 10 * 1.0, i % 4, if (i % 10 >= 5) 1 else 0)) :+
      ((99.0, 3, 1))).toDF("x", "g", "y")
    val fused = Models.stumpCandidatesGrouped(df, Seq("x"), col("y"),
      groups = 4, g => col("g") === g, "leaf")
    for (lf <- 0 until 4) {
      val filt = Models.stumpCandidates(df.where(col("g") === lf), Seq("x"), col("y"))
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("n_right"), col("pos_right"), col("gini"))
        .orderBy(col("threshold")).collect().toSeq
      val fus = fused.where(col("leaf") === lf)
        .select(col("threshold"), col("n_left"), col("pos_left"),
          col("n_right"), col("pos_right"), col("gini"))
        .orderBy(col("threshold")).collect().toSeq
      val fusByT = fus.map(r => r.getDouble(0) -> r).toMap
      filt.foreach { r =>
        val m = fusByT(r.getDouble(0))
        assert((1 to 4).forall(i => m.getLong(i) == r.getLong(i)) &&
          m.getDouble(5) == r.getDouble(5), s"leaf $lf threshold ${r.getDouble(0)}")
      }
      def arg(rows: Seq[org.apache.spark.sql.Row]) =
        rows.minBy(r => (KMeansOps.r6d(r.getDouble(5)), r.getDouble(0)))
      assert(arg(filt).getDouble(0) == arg(fus).getDouble(0), s"leaf $lf argmin")
    }
  }

  test("fitDepth3 solves a 3-conjunct AND that depth 2 cannot") {
    import spark.implicits._
    // y = (x<=4 AND z<=5 AND w<=3) on a uniform 8x8x8 grid: greedy gini
    // peels one conjunct per level, so depth 3 is exact and depth 2 isn't
    val df = (for {
      x <- 1 to 8; z <- 1 to 8; w <- 1 to 8
    } yield (x.toDouble, z.toDouble, w.toDouble,
      if (x <= 4 && z <= 5 && w <= 3) 1 else 0)).toDF("x", "z", "w", "y")
    val feats = Seq("x", "z", "w")
    val d2 = graft.scoring.Trees.fitDepth2(df, feats, col("y"))
    assert(d2.trainAccuracy < 1.0, s"depth 2 unexpectedly exact: $d2")
    val m = graft.scoring.Trees.fitDepth3(df, feats, col("y"))
    assert(m.trainAccuracy == 1.0, s"expected exact fit, got $m")
    // prefix property: the depth-3 chain extends the depth-2 chain
    assert(m.root == d2.root && m.left == d2.left && m.right == d2.right)
    // predict column agrees with the counts' claim everywhere
    val acc = df.select(avg((graft.scoring.Trees.predict(m) === col("y"))
      .cast("double"))).head().getDouble(0)
    assert(acc == 1.0)
    assert(m.root.n == 512L)
  }

  test("fitTrees: one depth-2 round at rate 1 solves XOR exactly; rounds reduce MSE") {
    import spark.implicits._
    // y = (x<=4) XOR (z>5): one 4-leaf tree at rate 1.0 reproduces the
    // label exactly (leaf value = mean residual = y - f0 on a pure leaf)
    val df = (for {
      rep <- 1 to 4; x <- 1 to 8; z <- 1 to 8
    } yield (x.toDouble, z.toDouble,
      if ((x <= 4) ^ (z > 5)) 1 else 0, rep)).toDF("x", "z", "y", "rep")
    val m1 = graft.scoring.Boosting.fitTrees(df, Seq("x", "z"), col("y"),
      rounds = 1, rate = 1.0)
    assert(m1.f0 == 0.5)
    val resid1 = df.select(
      avg(pow(col("y").cast("double") -
        graft.scoring.Boosting.scoreTrees(m1), 2)).as("mse")).head().getDouble(0)
    assert(resid1 == 0.0, s"XOR should fit exactly, mse=$resid1, m=$m1")
    // shrunken rounds: MSE strictly decreases round over round
    val m2a = graft.scoring.Boosting.fitTrees(df, Seq("x", "z"), col("y"),
      rounds = 1, rate = 0.5)
    val m2b = graft.scoring.Boosting.fitTrees(df, Seq("x", "z"), col("y"),
      rounds = 2, rate = 0.5)
    def mse(m: graft.scoring.Boosting.TreeModel) = df.select(
      avg(pow(col("y").cast("double") -
        graft.scoring.Boosting.scoreTrees(m), 2))).head().getDouble(0)
    assert(mse(m2b) < mse(m2a), s"${mse(m2b)} !< ${mse(m2a)}")
    // round 2 of the shrunken chain extends round 1 unchanged
    assert(m2b.rounds.head == m2a.rounds.head)
  }

  test("fitTreesGrid equals separate fitTrees per rate (shared fact passes, identical models)") {
    import spark.implicits._
    val df = (for {
      rep <- 1 to 3; x <- 1 to 8; z <- 1 to 8
    } yield (x.toDouble, z.toDouble,
      if ((x <= 4) ^ (z > 5)) 1 else 0, rep)).toDF("x", "z", "y", "rep")
    val rates = Seq(0.3, 0.5, 1.0)
    val grid = graft.scoring.Boosting.fitTreesGrid(df, Seq("x", "z"), col("y"),
      rounds = 2, rates = rates)
    assert(grid.map(_.rate) == rates)
    rates.zip(grid).foreach { case (rate, gm) =>
      val solo = graft.scoring.Boosting.fitTrees(df, Seq("x", "z"), col("y"),
        rounds = 2, rate = rate)
      assert(gm == solo, s"rate $rate: grid $gm vs solo $solo")
    }
    // duplicate/empty rate guards
    assert(intercept[IllegalArgumentException] {
      graft.scoring.Boosting.fitTreesGrid(df, Seq("x", "z"), col("y"), 1,
        Seq(0.5, 0.5))
    }.getMessage.contains("distinct"))
  }

  test("Forest.fit (two fused passes) matches per-tree fitDepth2 on each subsample") {
    import spark.implicits._
    val df = (for {
      i <- 1 to 240
    } yield (i % 10 * 1.0, i % 8 * 1.0, i % 6 * 1.0,
      if ((i % 10 >= 5) ^ (i % 8 >= 4)) 1 else 0, i % 3)).toDF("x", "z", "w", "y", "b")
    val allF = Seq("x", "z", "w")
    def member(t: Int) = col("b") =!= t
    def featsOf(t: Int) = allF.patch(t % 3, Nil, 1)
    val forest = graft.scoring.Forest.fit(df, allF, col("y"),
      trees = 3, member, featsOf)
    assert(forest.map(_.tree) == Seq(0, 1, 2))
    forest.foreach { t =>
      val solo = graft.scoring.Trees.fitDepth2(
        df.where(member(t.tree)), featsOf(t.tree), col("y"))
      assert(t.root == solo.root && t.left == solo.left && t.right == solo.right,
        s"tree ${t.tree}: fused $t vs solo $solo")
      // the masked argmin never picks the dropped feature
      val dropped = allF(t.tree % 3)
      assert(Seq(t.root, t.left, t.right).forall(_.feature != dropped))
    }
    // votes column: 3 trees -> integer 0..3, majority at >= 2
    val v = df.select(graft.scoring.Forest.votes(forest).as("v"))
      .agg(min(col("v")), max(col("v"))).head()
    assert(v.getLong(0) >= 0L && v.getLong(1) <= 3L)
  }

  test("Forest.fitDeep (one pass per level) matches per-tree fitDepth on each subsample") {
    import spark.implicits._
    val df = (for {
      i <- 1 to 360
    } yield (i % 10 * 1.0, i % 8 * 1.0, i % 6 * 1.0,
      if ((i % 10 >= 5) ^ (i % 8 >= 4)) 1 else 0, i % 3)).toDF("x", "z", "w", "y", "b")
    val allF = Seq("x", "z", "w")
    def member(t: Int) = col("b") =!= t
    def featsOf(t: Int) = allF.patch(t % 3, Nil, 1)
    val forest = graft.scoring.Forest.fitDeep(df, allF, col("y"),
      trees = 3, maxDepth = 3, member, featsOf)
    assert(forest.map(_.tree) == Seq(0, 1, 2))
    forest.foreach { t =>
      val solo = graft.scoring.Trees.fitDepth(
        df.where(member(t.tree)), featsOf(t.tree), col("y"), maxDepth = 3)
      assert(t.model.splits == solo.splits,
        s"tree ${t.tree}: fused ${t.model.splits} vs solo ${solo.splits}")
      assert(t.model.trainAccuracy == solo.trainAccuracy)
      val dropped = allF(t.tree % 3)
      assert(t.model.splits.values.forall(_.feature != dropped))
    }
    // deep votes column stays in 0..trees
    val v = df.select(graft.scoring.Forest.votesDeep(forest).as("v"))
      .agg(min(col("v")), max(col("v"))).head()
    assert(v.getLong(0) >= 0L && v.getLong(1) <= 3L)
  }

  test("fitDepth reproduces the special-cased depth-2/3 chains on impure-everywhere data") {
    import spark.implicits._
    // residue-mix label: every axis-aligned box holds both classes, so
    // no purity stop fires and the level-wise chain must equal the
    // unconditional depth-2/3 fits exactly
    val df = (for {
      x <- 1 to 8; z <- 1 to 8; w <- 1 to 8
    } yield (x.toDouble, z.toDouble, w.toDouble,
      if ((x * 3 + z * 5 + w * 7) % 11 < 4) 1 else 0)).toDF("x", "z", "w", "y")
    val feats = Seq("x", "z", "w")
    val d2 = graft.scoring.Trees.fitDepth2(df, feats, col("y"))
    val g2 = graft.scoring.Trees.fitDepth(df, feats, col("y"), maxDepth = 2)
    assert(g2.splits == Map("" -> d2.root, "l" -> d2.left, "r" -> d2.right))
    val d3 = graft.scoring.Trees.fitDepth3(df, feats, col("y"))
    val g3 = graft.scoring.Trees.fitDepth(df, feats, col("y"), maxDepth = 3)
    assert(g3.splits == Map("" -> d3.root, "l" -> d3.left, "r" -> d3.right,
      "ll" -> d3.ll, "lr" -> d3.lr, "rl" -> d3.rl, "rr" -> d3.rr))
    assert(g3.trainAccuracy == d3.trainAccuracy)
  }

  test("fitDepth stops at pure leaves; leaves partition the table") {
    import spark.implicits._
    // the 3-conjunct AND peels one conjunct per level with a PURE
    // complement side each time: the exact tree is a 3-split chain
    // (root, l, ll), and maxDepth=6 must grow nothing beyond it
    val df = (for {
      x <- 1 to 8; z <- 1 to 8; w <- 1 to 8
    } yield (x.toDouble, z.toDouble, w.toDouble,
      if (x <= 4 && z <= 5 && w <= 3) 1 else 0)).toDF("x", "z", "w", "y")
    val feats = Seq("x", "z", "w")
    val m = graft.scoring.Trees.fitDepth(df, feats, col("y"), maxDepth = 6)
    assert(m.splits.keySet == Set("", "l", "ll"),
      s"expected the 3-split chain, got ${m.splits.keys}")
    assert(m.trainAccuracy == 1.0)
    assert(m.leaves.map(_._2).sum == 512L)
    // predict column agrees with the leaf-count accuracy everywhere
    val acc = df.select(avg((graft.scoring.Trees.predict(m) === col("y"))
      .cast("double"))).head().getDouble(0)
    assert(acc == 1.0)
    // leafPath lands every row on a terminal leaf with matching counts
    val byLeaf = df.groupBy(graft.scoring.Trees.leafPath(m).as("p"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(byLeaf.toSeq == m.leaves, s"$byLeaf vs ${m.leaves}")
  }

  test("fitDepth single-live-node level uses the solo pass and matches a filtered fit") {
    import spark.implicits._
    // root splits x; the right side is all-negative (pure), so level 1
    // has exactly ONE live node -> exercises the frontier-size-1 branch
    val df = (for {
      x <- 1 to 8; z <- 1 to 8
    } yield (x.toDouble, z.toDouble,
      if (x <= 2 && z <= 2) 1 else 0)).toDF("x", "z", "y")
    val m = graft.scoring.Trees.fitDepth(df, Seq("x", "z"), col("y"), maxDepth = 3)
    val root = m.splits("")
    assert(root.feature == "x" && root.threshold == 2.0, s"$root")
    assert(!m.splits.contains("r"), "pure right side must not split")
    val solo = graft.scoring.Trees.fitDepth2(
      df.where(col("x") <= 2.0), Seq("x", "z"), col("y"))
    assert(m.splits("l") == solo.root)
    assert(m.trainAccuracy == 1.0)
  }

  test("fitBestFirst grows leaf-wise: depth chases impurity, budget and order hold") {
    import spark.implicits._
    // the 3-conjunct AND again: ALL impurity lives down the x<=4 branch
    // (each complement side is pure), so best-first must expand the
    // chain root -> l -> ll and stop — identical to the exact tree —
    // while never splitting a pure side
    val and3 = (for {
      x <- 1 to 8; z <- 1 to 8; w <- 1 to 8
    } yield (x.toDouble, z.toDouble, w.toDouble,
      if (x <= 4 && z <= 5 && w <= 3) 1 else 0)).toDF("x", "z", "w", "y")
    val feats = Seq("x", "z", "w")
    val m = graft.scoring.Trees.fitBestFirst(and3, feats, col("y"),
      maxLeaves = 8, maxDepth = 5)
    assert(m.order == Seq("", "l", "ll"), s"expansion order ${m.order}")
    assert(m.tree.trainAccuracy == 1.0)
    // structural invariants: order aligns with splits, every expanded
    // node's parent expanded EARLIER, leaf budget respected
    assert(m.order.toSet == m.tree.splits.keySet)
    m.order.zipWithIndex.foreach { case (p, i) =>
      if (p.nonEmpty) assert(m.order.indexOf(p.init) < i, s"$p before parent")
    }
    assert(m.tree.leaves.size <= 8)
    assert(m.tree.leaves.map(_._2).sum == 512L)
    // gains: the root-weighted impurity decrease of a PURE-children
    // split equals the parent's own impurity share; all gains positive
    assert(m.gains.values.forall(_ > 0), s"${m.gains}")
    // impure-everywhere data: the leaf budget binds below the depth
    // cap, leaves land exactly on maxLeaves, and predict() partitions
    val noisy = (for {
      x <- 1 to 16; z <- 1 to 16
    } yield (x.toDouble, z.toDouble,
      (x * 7 + z * 3) % 5 match { case 0 | 1 => 1; case _ => 0 }))
      .toDF("x", "z", "y")
    val m2 = graft.scoring.Trees.fitBestFirst(noisy, Seq("x", "z"), col("y"),
      maxLeaves = 6, maxDepth = 5)
    assert(m2.tree.leaves.size == 6, s"${m2.tree.leaves}")
    assert(m2.order.size == 5 && m2.order.head == "")
    val byLeaf = noisy.groupBy(graft.scoring.Trees.leafPath(m2.tree).as("p"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(byLeaf.toSeq == m2.tree.leaves, s"$byLeaf vs ${m2.tree.leaves}")
    // the FIRST non-root expansion is the pending node with the larger
    // gain of the root's two children — verify against solo refits
    val root = m2.tree.splits("")
    def g2(pos: Long, n: Long) = {
      val q = pos.toDouble / n; 1.0 - q * q - (1.0 - q) * (1.0 - q)
    }
    def gainOfSolo(p: String): Double = {
      val (nn, np) = if (p == "l") (root.nLeft, root.posLeft)
        else (root.nRight, root.posRight)
      val pred =
        if (p == "l") col(root.feature).cast("double") <= root.threshold
        else col(root.feature).cast("double") > root.threshold
      val r = graft.scoring.Models.stumpCandidates(noisy.where(pred),
          Seq("x", "z"), col("y"))
        .select(col("n_left"), col("pos_left"), col("n_right"),
          col("pos_right"), graft.queries.r6(col("gini")).as("g"),
          col("feature"), col("threshold"))
        .orderBy(col("g"), col("feature"), col("threshold")).limit(1).head()
      val (snl, spl, snr, spr) =
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      graft.scoring.KMeansOps.r6d((nn.toDouble / m2.tree.n) * (g2(np, nn) -
        (g2(spl, snl) * snl / nn + g2(spr, snr) * snr / nn)))
    }
    val firstPick = m2.order(1)
    val other = if (firstPick == "l") "r" else "l"
    assert(gainOfSolo(firstPick) >= gainOfSolo(other),
      s"picked $firstPick: ${gainOfSolo(firstPick)} vs ${gainOfSolo(other)}")
  }

  test("Lime.surrogate is the exact least-squares fit over the factorial") {
    import spark.implicits._
    // synthetic per-row "model scores" over the 2^3 neighborhood:
    // additive part (a·bit0 + c·bit2) + an interaction term (bit0·bit1)
    // whose weight varies per row — deterministic, no RNG
    val df = (1 to 20).map(i => (i.toLong, i * 0.13, i * 0.07, (i % 5) * 0.11))
      .toDF("id", "a", "c", "w")
    def score(p: Int): Column = {
      def b(j: Int) = if (Lime.keeps(p, j)) 1.0 else 0.0
      lit(0.25) + col("a") * b(0) + col("c") * b(2) +
        col("w") * lit(b(0) * b(1))
    }
    val out = Lime.surrogate(df, k = 3, score).collect()
    for (r <- out) {
      val s = (0 until 8).map(p => r.getAs[Double](s"__s$p"))
      val b = r.getAs[Double]("__b")
      val betas = (0 until 3).map(j => r.getAs[Double](s"__b$j"))
      def fit(p: Int) = (0 until 3).foldLeft(b)((acc, j) =>
        acc + (if (Lime.keeps(p, j)) betas(j) else -betas(j)))
      val resid = (0 until 8).map(p => s(p) - fit(p))
      // defining property of least squares on the ±1 design: residuals
      // are orthogonal to the intercept AND every pattern column
      assert(math.abs(resid.sum) < 1e-9, s"Σr=${resid.sum}")
      for (j <- 0 until 3) {
        val dot = (0 until 8).map(p =>
          resid(p) * (if (Lime.keeps(p, j)) 1.0 else -1.0)).sum
        assert(math.abs(dot) < 1e-9, s"Σr·x$j=$dot")
      }
      // optimality: any coordinate perturbation strictly increases SSE
      val sse = r.getAs[Double]("__sse")
      val sst = r.getAs[Double]("__sst")
      for (j <- 0 until 3; eps <- Seq(0.01, -0.01)) {
        val pert = (0 until 8).map { p =>
          val f = fit(p) + (if (Lime.keeps(p, j)) eps else -eps)
          val d = s(p) - f; d * d
        }.sum
        assert(pert > sse, s"perturbed $pert !> $sse")
      }
      assert(sse >= 0 && sse <= sst + 1e-12, s"sse=$sse sst=$sst")
      // the interaction is invisible to the main effects beyond its
      // mean: surrogate misfit equals w²·(8 − 4)/… > 0 whenever w ≠ 0
      val w = r.getAs[Double]("w")
      if (w == 0.0) assert(sse < 1e-18)
      else assert(sse > 1e-6, s"interaction w=$w should leave misfit, sse=$sse")
    }
  }

  test("TreeShap.roundPhis == brute-force slot-Shapley over the empirical joint") {
    import spark.implicits._
    import graft.scoring.{Boosting, TreeShap}
    // deliberately ugly joint distribution (correlated features, ties)
    val rows = (1 to 40).map(i =>
      ((i * 7 % 13).toDouble, (i * 5 % 11).toDouble, (i * 3 % 7).toDouble))
    val df = rows.toDF("x", "z", "w")
    // two rounds: distinct slots, and a DUPLICATED-feature round
    // (left slot reads the root's feature) — the slot game must stay
    // exact in both
    val trees = Seq(
      Boosting.TreeRound("x", 6.0, "z", 4.0, "w", 3.0, 0.1, -0.2, 0.3, -0.4),
      Boosting.TreeRound("x", 5.0, "x", 2.0, "z", 7.0, 0.25, -0.15, 0.05, -0.3))
    def slotVal(r: (Double, Double, Double), f: String): Double =
      f match { case "x" => r._1; case "z" => r._2; case "w" => r._3 }
    def treeEval(tr: Boosting.TreeRound,
        a: Double, b: Double, c: Double): Double =
      if (a <= tr.rootThreshold) { if (b <= tr.leftThreshold) tr.v0 else tr.v1 }
      else { if (c <= tr.rightThreshold) tr.v2 else tr.v3 }
    // brute force: E[S] = mean over background rows of the mixed eval
    def bruteE(tr: Boosting.TreeRound, x: (Double, Double, Double),
        s: Set[Int]): Double =
      rows.map { z =>
        val a = if (s(0)) slotVal(x, tr.rootFeature) else slotVal(z, tr.rootFeature)
        val b = if (s(1)) slotVal(x, tr.leftFeature) else slotVal(z, tr.leftFeature)
        val c = if (s(2)) slotVal(x, tr.rightFeature) else slotVal(z, tr.rightFeature)
        treeEval(tr, a, b, c)
      }.sum / rows.size
    def brutePhi(tr: Boosting.TreeRound, x: (Double, Double, Double),
        i: Int): Double = {
      val others = (0 until 3).filterNot(_ == i)
      val subsets = Seq(Set.empty[Int], Set(others(0)), Set(others(1)),
        others.toSet)
      subsets.map { s =>
        val wgt = s.size match { case 0 => 1.0 / 3; case 1 => 1.0 / 6; case 2 => 1.0 / 3 }
        wgt * (bruteE(tr, x, s + i) - bruteE(tr, x, s))
      }.sum
    }
    for ((tr, ti) <- trees.zipWithIndex) {
      val aggs = TreeShap.countAggs(tr, 1)
      val pop = df.agg((count(lit(1)).as("nn") +: aggs).head,
        (count(lit(1)).as("nn") +: aggs).tail: _*)
      val (pa, pb, pc, e0, fx) = TreeShap.roundPhis(tr, col("naL_1"),
        col("nbL_1"), col("ncL_1"), col("nabLL_1"), col("nacGL_1"), col("nn"))
      val got = df.crossJoin(broadcast(pop))
        .select(col("x"), col("z"), col("w"), pa.as("pa"), pb.as("pb"),
          pc.as("pc"), e0.as("e0"), fx.as("fx")).collect()
      for (r <- got) {
        val x = (r.getDouble(0), r.getDouble(1), r.getDouble(2))
        val (gpa, gpb, gpc) = (r.getDouble(3), r.getDouble(4), r.getDouble(5))
        assert(math.abs(gpa - brutePhi(tr, x, 0)) < 1e-12, s"tree $ti phiA at $x")
        assert(math.abs(gpb - brutePhi(tr, x, 1)) < 1e-12, s"tree $ti phiB at $x")
        assert(math.abs(gpc - brutePhi(tr, x, 2)) < 1e-12, s"tree $ti phiC at $x")
        // efficiency: slot phis sum to prediction minus expectation
        assert(math.abs((gpa + gpb + gpc) - (r.getDouble(7) - r.getDouble(6))) < 1e-12)
        assert(math.abs(r.getDouble(6) - bruteE(tr, x, Set.empty)) < 1e-12)
      }
    }
  }

  test("Lime.surrogate reproduces an exactly additive model with R² = 1") {
    import spark.implicits._
    val df = Seq((1L, 2.0, 3.0), (2L, -1.0, 0.5)).toDF("id", "u", "v")
    // additive in the keep-bits: contributions u (bit 0) and v (bit 1)
    def score(p: Int): Column =
      lit(1.0) + (if (Lime.keeps(p, 0)) col("u") else lit(0.0)) +
        (if (Lime.keeps(p, 1)) col("v") else lit(0.0))
    val out = Lime.surrogate(df, k = 2, score).collect()
    for (r <- out) {
      assert(r.getAs[Double]("__sse") == 0.0)
      // local_pred at the all-keep corner equals the true score
      val full = r.getAs[Double]("__b") +
        r.getAs[Double]("__b0") + r.getAs[Double]("__b1")
      assert(math.abs(full - r.getAs[Double]("__s3")) < 1e-12)
    }
  }

  test("ServedModel.of rebuilds every stored family into a bit-identical serving column") {
    import spark.implicits._
    import graft.scoring.{AdaBoost, Boosting, ModelStore, Trainer, Trees}
    import graft.streaming.ServedModel
    val df = Seq((1.0, 10.0), (2.5, 300.0), (4.0, 900.0), (0.0, 50.0))
      .toDF("f1", "f2")
    def scores(c: Column): Seq[Double] =
      df.select(c.as("s")).collect().toSeq.map(_.getDouble(0))

    val lr = Trainer.LogisticModel(Seq("f1", "f2"), Seq(1.5, 200.0),
      Seq(0.8, 150.0), Seq(0.5, -0.25), 0.1, 6, 0.5)
    val ab = Seq(AdaBoost.Round("f1", 2.0, 0, 1, 0.3, 2.3333, 0.8473))
    val bst = Boosting.Model(0.4, 0.5,
      Seq(Boosting.Stump("f2", 100.0, -0.1, 0.2)))
    val btr = Boosting.TreeModel(0.25, 0.5, Seq(
      Boosting.TreeRound("f1", 2.0, "f2", 100.0, "f2", 500.0,
        0.1, -0.2, 0.3, -0.4)))
    val dt = Trees.DeepTree(2, 4, 2, Map(
      "" -> Trees.Split("f1", 2.0, 0.4, 2, 2, 2, 0),
      "l" -> Trees.Split("f2", 100.0, 0.1, 1, 1, 1, 1)))

    val cases = Seq[(String, Seq[ModelStore.ModelRow], Seq[String], Column)](
      ("logistic", ModelStore.logisticRows("m", 1, lr), Seq("f1", "f2"),
        Trainer.margin(lr)),
      ("adaboost", ModelStore.adaBoostRows("m", 1, ab), Seq("f1"),
        AdaBoost.voteScore(ab)),
      ("boost_stumps", ModelStore.boostingRows("m", 1, bst), Seq("f2"),
        Boosting.score(bst)),
      ("boost_trees", ModelStore.boostedTreesRows("m", 1, btr),
        Seq("f1", "f2"), Boosting.scoreTrees(btr)),
      ("tree", ModelStore.deepTreeRows("m", 1, dt), Seq("f1", "f2"),
        Trees.predict(dt).cast("double")))
    for ((kind, rows, feats, twin) <- cases) {
      // plain slice and manifest-guarded slice both rebuild
      for (slice <- Seq(rows, ModelStore.withManifest(rows))) {
        val built = ServedModel.of(slice)
        assert(built.kind == kind && built.features == feats, kind)
        assert(scores(built.score) == scores(twin), s"$kind score parity")
      }
      // torn slice: manifest count no longer matches -> loud reject
      val torn = ModelStore.withManifest(rows).dropRight(2) :+
        ModelStore.withManifest(rows).last
      val e = intercept[IllegalArgumentException] { ServedModel.of(torn) }
      assert(e.getMessage.contains("torn read"), kind)
    }
    val mixed = ModelStore.logisticRows("m", 1, lr) ++
      ModelStore.adaBoostRows("m", 1, ab)
    assert(intercept[IllegalArgumentException] { ServedModel.of(mixed) }
      .getMessage.contains("mixed kinds"))
  }

  test("ServedModel nb_platt: the stored pair rebuilds and serves the exact q241 probability") {
    import spark.implicits._
    import graft.scoring.{ModelStore, Trainer}
    import graft.streaming.ServedModel
    val df = Seq((1L, 10L), (2L, 300L), (1L, 300L), (4L, 10L))
      .toDF("f1", "f2")
    val nb = Models.NbModel(Seq("f1", "f2"), 6.0, 4.0, Map(
      "f1" -> Seq((1L, 2.0, 1.0), (2L, 4.0, 3.0)),
      "f2" -> Seq((10L, 3.0, 2.0), (300L, 3.0, 2.0))))
    val cal = Trainer.LogisticModel(Seq("d4"), Seq(0.1), Seq(0.9),
      Seq(1.5), -0.2, 6, 0.5)
    val rows = ModelStore.nbPlattRows("m", 1, nb, cal)
    // disk-shape round trip: the rebuilt pair is == the fitted one
    // (feature ORDER included — the delta's summation order depends on it)
    val (nb2, cal2) = ModelStore.nbPlattOf(rows)
    assert(nb2 == nb && cal2 == cal)
    for (slice <- Seq(rows, ModelStore.withManifest(rows))) {
      val built = ServedModel.of(slice)
      assert(built.kind == "nb_platt" && built.features == Seq("f1", "f2"))
      // twin: the nbCalibrated serving chain (d4 column -> Platt sigmoid,
      // both 4 dp) — must be bit-identical
      val twin = df.withColumn("d4", graft.queries.r6(nb.delta))
        .select(graft.queries.r6(Trainer.probability(cal)).as("p"))
        .collect().toSeq.map(_.getDouble(0))
      val got = df.select(built.score.as("p")).collect().toSeq.map(_.getDouble(0))
      assert(got == twin)
    }
  }

  test("ServedModel forest: stored members rebuild and serve the exact vote count") {
    import spark.implicits._
    import graft.scoring.{Forest, ModelStore, Trees}
    import graft.streaming.ServedModel
    val df = Seq((1.0, 10.0), (2.5, 300.0), (4.0, 900.0), (0.0, 50.0))
      .toDF("f1", "f2")
    def scores(c: Column): Seq[Double] =
      df.select(c.cast("double").as("s")).collect().toSeq.map(_.getDouble(0))
    // 2 hand-built members: one full depth-2, one root-only (a pure
    // child pruned the level) — the layout must carry BOTH shapes
    val t0 = Forest.DeepFTree(0, Seq("f1", "f2"), Trees.DeepTree(2, 4, 2, Map(
      "" -> Trees.Split("f1", 2.0, 0.4, 2, 2, 2, 0),
      "l" -> Trees.Split("f2", 100.0, 0.1, 1, 1, 1, 1))))
    val t1 = Forest.DeepFTree(1, Seq("f2"), Trees.DeepTree(2, 4, 1, Map(
      "" -> Trees.Split("f2", 150.0, 0.3, 2, 0, 2, 1))))
    val forest = Seq(t0, t1)
    val rows = ModelStore.forestRows("m", 1, forest)
    // in-memory round trip: rebuilt members == the fitted case classes
    assert(ModelStore.forestOf(rows) == forest)
    for (slice <- Seq(rows, ModelStore.withManifest(rows))) {
      val built = ServedModel.of(slice)
      assert(built.kind == "forest" && built.features == Seq("f1", "f2"))
      assert(scores(built.score) == scores(Forest.votesDeep(forest)),
        "vote parity")
    }
    // depth-2 FTree members persist through .deep bit-identically
    val ft = Forest.FTree(0, Seq("f1", "f2"),
      Trees.Split("f1", 2.0, 0.4, 2, 2, 2, 0),
      Trees.Split("f2", 100.0, 0.1, 1, 1, 1, 1),
      Trees.Split("f2", 500.0, 0.2, 1, 0, 1, 1))
    assert(scores(Trees.predict(ft.deep.model)) ==
      scores(Trees.predict(ft.depth2)), "FTree.deep predict parity")
    // member indices must arrive 0..n-1 in order
    assert(intercept[IllegalArgumentException] {
      ModelStore.forestRows("m", 1, Seq(t1))
    }.getMessage.contains("member indices"))
    // meta/member count mismatch -> loud reject (a torn slice that lost
    // a whole member but kept the manifest-less layout)
    assert(intercept[IllegalArgumentException] {
      ModelStore.forestOf(rows.filterNot(r =>
        r.part == "member" && r.idx == 1L))
    }.getMessage.contains("members"))
  }

  test("perplexity gate store: the frozen LM + thresholds round-trip and serve bitwise") {
    import spark.implicits._
    import graft.functions.TrigramLm
    import graft.scale.Perplexity
    import graft.scoring.ModelStore
    import graft.streaming.ServedModel
    // corpus-fitted gate (real logps, multiple sources)
    val docs = Seq(
      (1L, "web", "abcd abcd abcd"), (2L, "web", "abcxyz"),
      (3L, "web", "zzzz"), (4L, "wiki", "abcd efgh"),
      (5L, "wiki", "qqq"), (6L, "wiki", null.asInstanceOf[String])
    ).toDF("doc_id", "source", "text")
    val g = Perplexity.fitGate(docs)
    val rows = ModelStore.perplexityGateRows("cur", 1, g)
    val g2 = ModelStore.perplexityGateOf(rows)
    // field-exact round trip: logps verbatim, thresholds, keepFrac
    assert(g2.lm.entries == g.lm.entries)
    assert(g2.thresholds == g.thresholds && g2.keepFrac == g.keepFrac)
    // served column == the fitted gate's keep, doc by doc (both slices)
    for (slice <- Seq(rows, ModelStore.withManifest(rows))) {
      val built = ServedModel.of(slice)
      assert(built.kind == "perplexity_gate" &&
        built.features == Seq("source", "text"))
      val bad = docs.select(
          (built.score =!= g.keep(col("source"), col("text")).cast("double"))
            .as("d"))
        .where(col("d")).count()
      assert(bad == 0, "served gate diverges from the fitted one")
    }
    // lost lm row -> loud meta-count reject
    assert(intercept[IllegalArgumentException] {
      ModelStore.perplexityGateOf(rows.filterNot(r =>
        r.part == "lm" && r.idx == 0L))
    }.getMessage.contains("meta declares"))
    // fromLogps rejects corrupt negative keys
    assert(intercept[IllegalArgumentException] {
      TrigramLm.fromLogps(Seq((-1L, -0.5)))
    }.getMessage.contains("negative packed key"))
  }

  test("standing BM25 store: terms + stats round-trip and the served score is the fitted one") {
    import spark.implicits._
    import graft.scale.Retrieval
    import graft.scoring.ModelStore
    import graft.streaming.ServedModel
    val docs = Seq(
      (0L, "apple banana apple cherry kiwi"),
      (1L, "apple cherry cherry mango"),
      (2L, "banana banana durian apple"),
      (3L, "cherry durian banana apple apple plum")
    ).toDF("doc_id", "text")
    val m = Retrieval.fitStanding(docs, col("doc_id"), col("text"),
      col("doc_id") === 0L, topTerms = 3).head
    assert(m.queryId == 0L && m.terms.size == 3)
    // rarest-first pruning: kiwi (df 1) and banana/cherry (df 3) beat
    // apple (df 4)
    assert(m.terms.map(_._1).toSet == Set("kiwi", "banana", "cherry"))
    val rows = ModelStore.bm25QueryRows("standing", 1, m)
    val m2 = ModelStore.bm25QueryOf(rows)
    assert(m2 == m, "field-exact round trip")
    // served column == the fitted scorer, doc by doc, BITWISE (the
    // rebuilt literals are the same doubles)
    for (slice <- Seq(rows, ModelStore.withManifest(rows))) {
      val built = ServedModel.of(slice)
      assert(built.kind == "bm25_query" && built.features == Seq("text"))
      val bad = docs.select(
          (built.score =!= m.score(col("text"))).as("d"))
        .where(col("d")).count()
      assert(bad == 0, "served standing query diverges from the fitted one")
    }
    // parity with the batch inverted-index sum at the engine quantum:
    // the query doc has <= topTerms distinct terms when topTerms is
    // large, so the standing score must equal the batch pair score
    val full = Retrieval.fitStanding(docs, col("doc_id"), col("text"),
      col("doc_id") === 0L, topTerms = 100).head
    val batch = Retrieval.bm25Pairs(docs, col("doc_id"), col("text"),
        col("doc_id") === 0L)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    val servedAll = docs.where(col("doc_id") =!= 0L)
      .select(col("doc_id"), full.score(col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    batch.foreach { case (d, v) =>
      assert(graft.scoring.KMeansOps.r6d(servedAll(d)) ==
        graft.scoring.KMeansOps.r6d(v), s"doc $d")
    }
    // lost term row -> loud meta-count reject
    assert(intercept[IllegalArgumentException] {
      ModelStore.bm25QueryOf(rows.filterNot(r =>
        r.part == "term" && r.idx == 0L))
    }.getMessage.contains("meta declares"))
  }

  test("ModelStore.publish: every family's default write carries the torn-read manifest") {
    import graft.scoring.{AdaBoost, Boosting, Forest, ModelStore, Trainer, Trees}
    import graft.streaming.ServedModel
    val lr = Trainer.LogisticModel(Seq("f1"), Seq(1.5), Seq(0.8),
      Seq(0.5), 0.1, 6, 0.5)
    val ab = Seq(AdaBoost.Round("f1", 2.0, 0, 1, 0.3, 2.3333, 0.8473))
    val bst = Boosting.Model(0.4, 0.5,
      Seq(Boosting.Stump("f2", 100.0, -0.1, 0.2)))
    val btr = Boosting.TreeModel(0.25, 0.5, Seq(
      Boosting.TreeRound("f1", 2.0, "f2", 100.0, "f2", 500.0,
        0.1, -0.2, 0.3, -0.4)))
    val dt = Trees.DeepTree(2, 4, 2, Map(
      "" -> Trees.Split("f1", 2.0, 0.4, 2, 2, 2, 0)))
    val fo = Seq(
      Forest.DeepFTree(0, Seq("f1"), dt),
      Forest.DeepFTree(1, Seq("f1"), dt))
    val pg = graft.scale.Perplexity.Gate(
      graft.functions.TrigramLm.fromCounts(Seq(("abc", 2L), ("bcd", 1L)), 3L),
      Map("web" -> -1.0, "wiki" -> -0.5), 0.7)
    val families = Seq[(String, Seq[ModelStore.ModelRow])](
      ("logistic", ModelStore.logisticRows("m", 1, lr)),
      ("adaboost", ModelStore.adaBoostRows("m", 1, ab)),
      ("boost_stumps", ModelStore.boostingRows("m", 1, bst)),
      ("boost_trees", ModelStore.boostedTreesRows("m", 1, btr)),
      ("tree", ModelStore.deepTreeRows("m", 1, dt)),
      ("forest", ModelStore.forestRows("m", 1, fo)),
      ("perplexity_gate", ModelStore.perplexityGateRows("m", 1, pg)),
      ("bm25_query", ModelStore.bm25QueryRows("m", 1,
        graft.scale.Retrieval.StandingBm25(3L,
          Seq(("apple", 1.2), ("zeta", 0.5)), 10.0, 1.2, 0.75))))
    val dir = java.nio.file.Files.createTempDirectory("pubstore")
    for ((kind, rows) <- families) {
      val store = dir.resolve(kind).toString
      ModelStore.publish(spark, store, rows)
      val back = ModelStore.rowsOf(spark.read.parquet(store), "m", 1L)
      val mans = back.filter(_.kind == "manifest")
      assert(mans.size == 1 && mans.head.c1.contains(rows.size.toLong),
        s"$kind publish must carry exactly one manifest row")
      assert(ServedModel.of(back).kind == kind)
      // a second publish appends the next version cleanly
      val v2 = rows.map(_.copy(version = 2L))
      ModelStore.publish(spark, store, v2)
      assert(ModelStore.latestVersion(
        spark.read.parquet(store), "m").contains(2L), kind)
    }
  }
}
