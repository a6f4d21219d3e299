package graft

import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end through the facade: backfill -> snapshot -> predict, the
  * exact workflow a reference user runs against the HTTP API, as one
  * composed lazy plan.
  */
class FacadeSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("backfill -> snapshot -> predict round trip with cold-start defaults") {
    import spark.implicits._
    val store = new AmlFeatureStore(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")

    val feats = store.customerFeatures(tx)
    val asOf = tx.agg(max(col("event_timestamp"))).head.getTimestamp(0)
    val snap = store.customerSnapshot(feats, lit(asOf), ttlSeconds = 30L * 86400)

    // one known customer + one unknown (cold start)
    val knownId = tx.select("customer_id").head.getLong(0)
    val requests = Seq(
      (1L, knownId, 12000.0),    // boost: amount > 10000
      (2L, -1L, 100.0)           // cold start: base score 0
    ).toDF("request_id", "customer_id", "amount")

    val out = store.predict(requests, snap)
      .collect().map(r => r.getLong(0) ->
        (r.getDouble(3), r.getString(4), r.getSeq[String](5))).toMap

    val (knownScore, knownLevel, _) = out(1L)
    assert(knownScore >= 0.3 && knownScore <= 1.0) // >= the 0.3 amount boost
    assert(Seq("LOW", "MEDIUM", "HIGH").contains(knownLevel))

    val (coldScore, coldLevel, coldExpl) = out(2L)
    assert(coldScore == 0.0 && coldLevel == "LOW" && coldExpl.isEmpty)
  }

  test("predict serves one request from one projection, two jobs and no new classes") {
    import spark.implicits._
    val store = new AmlFeatureStore(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val asOf = tx.agg(max(col("event_timestamp"))).head.getTimestamp(0)
    // a stored snapshot, as a server reads it
    val dir = java.nio.file.Files.createTempDirectory("facade-snap").toString
    store.customerSnapshot(store.customerFeatures(tx), lit(asOf), ttlSeconds = 30L * 86400)
      .write.mode("overwrite").parquet(dir)
    val snap = spark.read.parquet(dir)
    val keys = snap.select("customer_id").as[Long].take(2)
    def request(id: Long, key: Long, amount: Double) =
      store.predict(Seq((id, key, amount)).toDF("request_id", "customer_id", "amount"), snap)

    // the defaults and the whole model sit in one Project above the join
    val plan = request(1L, keys(0), 120.0).queryExecution.optimizedPlan
    def projectsAbove(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Int = p match {
      case _: org.apache.spark.sql.catalyst.plans.logical.Join => 0
      case q: org.apache.spark.sql.catalyst.plans.logical.Project =>
        1 + q.children.map(projectsAbove).sum
      case q => q.children.map(projectsAbove).sum
    }
    assert(projectsAbove(plan) == 1, plan.toString)

    val prof = graft.tools.RunProfile(spark)
    val first = prof.measure(request(1L, keys(0), 120.0).collect())
    assert(first.jobs == 2, first)
    val second = prof.measure(request(2L, keys(1), 15000.0).collect())
    assert(second.jobs == 2 && second.compiles == 0, second)
    new scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("snapshot TTL expires stale customers back to cold start") {
    import spark.implicits._
    val store = new AmlFeatureStore(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val feats = store.customerFeatures(tx)
    // "now" far in the future: every snapshot row is older than the TTL
    val farFuture = lit(java.sql.Timestamp.valueOf("2099-01-01 00:00:00"))
    val snap = store.customerSnapshot(feats, farFuture, ttlSeconds = 86400)
    assert(snap.count() == 0)
    val requests = Seq((1L, tx.select("customer_id").head.getLong(0), 100.0))
      .toDF("request_id", "customer_id", "amount")
    val r = store.predict(requests, snap).head
    assert(r.getDouble(3) == 0.0) // cold-start path
  }

  test("AML screens and graph ranks are reachable through the facade") {
    val store = new AmlFeatureStore(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    assert(store.structuringScreen(tx).columns.toSeq ==
      Seq("customer_id", "band_cnt", "band_sum_cents", "band_share", "flagged"))
    assert(store.benfordTest(tx).count() == 9)
    assert(store.roundAmountBias(tx).count() == 5)
    val e = tx.select(org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("c:"), col("customer_id")).as("src"),
      col("merchant_id").as("dst")).distinct()
    val ranks = store.graphRanks(e.union(e.select(col("dst").as("src"), col("src").as("dst"))))
    assert(ranks.count() == e.select("src").distinct().count() + 5)
  }

  test("model layer and sequence packing are reachable through the facade") {
    import spark.implicits._
    val store = new AmlFeatureStore(spark)
    val df = (1 to 100).map { i =>
      (i.toLong, (i % 10).toDouble, i % 7, if (i % 10 >= 5) 1 else 0)
    }.toDF("id", "x", "z", "y")

    val m = store.trainLogistic(df, Seq("x", "z"), col("y"), iters = 5)
    assert(m.weights.size == 2 && m.weights(0) > 0, m)

    val nb = store.naiveBayesScores(df.where(col("id") <= 80),
      df.where(col("id") > 80), Seq("z"), col("y"))
    assert(nb.count() == 20 && nb.columns.contains("delta"))

    // x <= 4 separates perfectly
    val stump = store.stumpCandidates(df, Seq("x", "z"), col("y"))
      .orderBy(col("gini"), col("feature"), col("threshold")).head()
    assert(stump.getString(0) == "x" && stump.getDouble(1) == 4.0)

    val clusters = store.segmentClusters(
      df.select(col("id").cast("string").as("id"), col("x"), col("y").cast("double").as("w")),
      col("id"), Seq("x", "w"), k = 2, iters = 2)
    assert(clusters.count() == 2)

    val bins = store.packSequences(
      Seq((1L, 3L), (2L, 2L), (3L, 4L)).toDF("doc_id", "tok"),
      Seq(col("doc_id")), col("tok"), binSize = 4L)
    assert(bins.count() == 3)
  }

  test("anomaly detectors are reachable through the facade") {
    import spark.implicits._
    val store = new AmlFeatureStore(spark)

    val gb = store.boostStumps((1 to 100).map { i =>
      ((i % 10).toDouble, if (i % 10 >= 5) 1 else 0)
    }.toDF("x", "y"), Seq("x"), col("y"), rounds = 2)
    assert(gb.rounds.size == 2 && gb.f0 == 0.5)

    // rank-1 fit corpus: on-line points reconstruct to ~0 error, the
    // orthogonal point keeps its full squared norm
    val fit = Seq(-2f, -1f, 0f, 1f, 2f).map(t => Tuple1(Array(3 * t, 4 * t)))
      .toDF("embedding")
    val scored = store.reconstructionAnomaly(fit,
      Seq(Array(3f, 4f), Array(-4f, 3f)).map(Tuple1(_)).toDF("embedding"),
      col("embedding")).collect().map(_.getAs[Double]("recon_error"))
    assert(math.abs(scored(0)) < 1e-9 && math.abs(scored(1) - 25.0) < 1e-9)

    val tx = Seq((1L, 1L, "A"), (1L, 2L, "B"), (1L, 3L, "A"))
      .toDF("customer_id", "transaction_id", "merchant_id")
      .withColumn("event_timestamp", timestamp_micros(col("transaction_id") * 1000000L))
    val seq = store.sequenceAnomaly(tx).head()
    assert(seq.getLong(1) == 2) // A->B, B->A
  }

  test("round-7 tree family and LIME explainer are reachable through the facade") {
    import spark.implicits._
    val store = new AmlFeatureStore(spark)
    // y = (x<=4) XOR (z>5): interactions, so the boosted TREE learns it
    // while a linear surrogate cannot fit it perfectly everywhere
    val df = (for { rep <- 1 to 4; x <- 1 to 8; z <- 1 to 8 }
      yield (((rep * 64) + (x * 8) + z).toLong, x.toDouble, z.toDouble,
        if ((x <= 4) ^ (z > 5)) 1 else 0)).toDF("id", "x", "z", "y")

    val bt = store.boostTrees(df, Seq("x", "z"), col("y"), rounds = 1, rate = 1.0)
    assert(bt.rounds.size == 1 && bt.f0 == 0.5)

    val dt = store.deepTree(df, Seq("x", "z"), col("y"), maxDepth = 3)
    assert(dt.splits.contains("") && dt.splits.size >= 3)

    val forest = store.deepForest(df, col("id"), Seq("x", "z"), col("y"),
      trees = 2, maxDepth = 2)
    assert(forest.size == 2 && forest.forall(_.model.splits.contains("")))

    val explained = store.explainLocal(df, bt, Seq("x", "z"), Seq(4.5, 4.5))
    assert(explained.columns.toSet.intersect(
      Set("lime_pred", "lime_x", "lime_z", "lime_intercept", "lime_r2")).size == 5)
    val r = explained.select(min(col("lime_r2")), max(col("lime_r2")),
      count(when(col("lime_r2") < 0.999999, 1))).head()
    assert(r.getDouble(0) >= 0.0 && r.getDouble(1) <= 1.0)
    // the XOR tree has a genuine interaction: some rows' linear
    // surrogate must be an imperfect fit
    assert(r.getLong(2) > 0, "expected imperfect local fits on XOR")
  }

  test("feature registry locks the ONLINE path: streaming emit schema derives from the catalog") {
    import spark.implicits._
    import java.sql.Timestamp
    val tx = Seq((1L, 7L, "m1", 100.0, "ip1",
      Timestamp.valueOf("2024-01-06 12:00:00")))
      .toDF("transaction_id", "customer_id", "merchant_id", "amount",
        "ip_address", "event_timestamp")
    val cat = graft.schema.FeatureRegistry.catalog(tx)
      .collect().map(r => (r.getString(0), r.getString(3), r.getString(4)))
    val streamSchema = org.apache.spark.sql.Encoders
      .product[graft.streaming.StreamFeatures].schema
    val streamTypes = streamSchema.fields
      .map(f => f.name -> f.dataType.simpleString).toMap
    // every catalog field of the customer views must exist on the
    // streaming emit schema with the SAME dtype — the registry gates
    // the online path, not just batch
    val customerFields = cat.filter(_._1.startsWith("customer_"))
    assert(customerFields.length == 15)
    customerFields.foreach { case (view, field, dtype) =>
      assert(streamTypes.contains(field),
        s"$view.$field missing from StreamFeatures")
      assert(streamTypes(field) == dtype,
        s"$view.$field: stream ${streamTypes(field)} != catalog $dtype")
    }
    // inversely: every emitted non-key feature column is declared in
    // the registry — nothing serves online without a catalog row
    val keys = Set("customer_id", "ts_micros", "amount")
    val declared = customerFields.map(_._2).toSet
    streamSchema.fields.map(_.name).filterNot(keys).foreach { f =>
      assert(declared.contains(f),
        s"StreamFeatures.$f emitted online but undeclared in the registry")
    }
  }

  test("ModelStore disk round-trip: every family rebuilds == and scores identically") {
    import spark.implicits._
    import graft.scoring._
    val df = (for { rep <- 1 to 3; x <- 1 to 8; z <- 1 to 8 }
      yield (((rep * 64) + (x * 8) + z).toLong, x.toDouble, z.toDouble,
        (x * 64 + z * 8 + rep).toDouble % 11,
        if ((x <= 4) ^ (z > 5)) 1 else 0)).toDF("id", "x", "z", "w", "y")
      .localCheckpoint()
    val feats = Seq("x", "z", "w")
    val lrM = Trainer.fitLogistic(df, feats, col("y"), iters = 4, lr = 0.5)
    val wlrM = Trainer.fitLogisticWeighted(df, feats, col("y"), Seq(3.0),
      iters = 4, lr = 0.5).head
    val svmM = Trainer.fitLinearSvm(df, feats, col("y"), iters = 4,
      lr = 0.5, lambda = 0.01)
    val abM = AdaBoost.fit(df, feats, col("y"), rounds = 2)
    val bstM = Boosting.fit(df, feats, col("y"), rounds = 3, rate = 0.5)
    val btrM = Boosting.fitTrees(df, feats, col("y"), rounds = 2, rate = 0.5)
    val dtM = Trees.fitDepth(df, feats, col("y"), maxDepth = 3)
    val bftM = Trees.fitBestFirst(df, feats, col("y"),
      maxLeaves = 4, maxDepth = 3)
    val rows =
      ModelStore.logisticRows("lr", 1, lrM) ++
        ModelStore.logisticRows("wlr", 1, wlrM) ++
        ModelStore.logisticRows("svm", 1, svmM) ++
        ModelStore.adaBoostRows("ab", 1, abM) ++
        ModelStore.boostingRows("bst", 1, bstM) ++
        ModelStore.boostedTreesRows("btr", 1, btrM) ++
        ModelStore.deepTreeRows("dt", 1, dtM) ++
        ModelStore.deepTreeRows("bft", 1, bftM.tree) ++
        // a second logistic version: latestVersion must pick it up
        ModelStore.logisticRows("lr", 2, svmM)
    val dir = java.nio.file.Files.createTempDirectory("graft-modelstore")
      .toString
    ModelStore.table(spark, rows).write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)

    // exact case-class equality after the disk trip (doubles bit-exact)
    assert(ModelStore.logisticOf(ModelStore.rowsOf(back, "lr", 1)) == lrM)
    assert(ModelStore.logisticOf(ModelStore.rowsOf(back, "wlr", 1)) == wlrM)
    assert(ModelStore.logisticOf(ModelStore.rowsOf(back, "svm", 1)) == svmM)
    assert(ModelStore.adaBoostOf(ModelStore.rowsOf(back, "ab", 1)) == abM)
    assert(ModelStore.boostingOf(ModelStore.rowsOf(back, "bst", 1)) == bstM)
    assert(ModelStore.boostedTreesOf(ModelStore.rowsOf(back, "btr", 1)) == btrM)
    assert(ModelStore.deepTreeOf(ModelStore.rowsOf(back, "dt", 1)) == dtM)
    assert(ModelStore.deepTreeOf(ModelStore.rowsOf(back, "bft", 1)) == bftM.tree)

    assert(ModelStore.latestVersion(back, "lr") == Some(2L))
    assert(ModelStore.latestVersion(back, "absent") == None)
    assert(ModelStore.logisticOf(ModelStore.rowsOf(back, "lr", 2)) == svmM)

    // score parity of both paths on the training frame, per family
    val btrR = ModelStore.boostedTreesOf(ModelStore.rowsOf(back, "btr", 1))
    val parity = df.select(
        Trainer.margin(lrM).as("a1"),
        Trainer.margin(ModelStore.logisticOf(ModelStore.rowsOf(back, "lr", 1)))
          .as("b1"),
        Boosting.scoreTrees(btrM).as("a2"), Boosting.scoreTrees(btrR).as("b2"),
        Trees.predict(dtM).cast("double").as("a3"),
        Trees.predict(ModelStore.deepTreeOf(ModelStore.rowsOf(back, "dt", 1)))
          .cast("double").as("a4"))
      .agg(sum((col("a1") =!= col("b1")).cast("long")),
        sum((col("a2") =!= col("b2")).cast("long")),
        sum((col("a3") =!= col("a4")).cast("long"))).head()
    assert((0 to 2).forall(i => parity.getLong(i) == 0L), parity)

    // wrong-kind slice fails with the diagnostic mixed-kinds error
    val e1 = intercept[IllegalArgumentException] {
      ModelStore.adaBoostOf(ModelStore.rowsOf(back, "lr", 1))
    }
    assert(e1.getMessage.contains("expected kind"))
    // comma in a feature name is rejected at export, not corrupted
    val e2 = intercept[IllegalArgumentException] {
      ModelStore.boostedTreesRows("bad", 1, btrM.copy(rounds =
        Seq(btrM.rounds.head.copy(rootFeature = "a,b"))))
    }
    assert(e2.getMessage.contains("comma"))
  }
}
