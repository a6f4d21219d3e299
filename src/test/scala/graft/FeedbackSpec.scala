package graft

import graft.feedback.{Drift, FeedbackStore}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class FeedbackSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("feedback lifecycle: simulate -> persist -> date filter -> accuracy/retrain") {
    val dir = Files.createTempDirectory("graft_fb").toString
    val fb = FeedbackStore.simulated(spark, 2000)
    FeedbackStore.writeTable(fb, s"$dir/feedback")
    val loaded = spark.read.parquet(s"$dir/feedback")
    assert(loaded.count() == 2000)
    val recent = FeedbackStore.recent(loaded,
      java.sql.Timestamp.valueOf("2024-01-31 00:00:00"), 7)
    assert(recent.count() > 0 && recent.count() < 2000)
    val r = FeedbackStore.retrainRecommended(loaded).head()
    // 85% agreement by construction -> accuracy ~0.85, no retrain panic
    assert(math.abs(r.getDouble(0) - 0.85) < 0.05, r.toString)
    FeedbackStore.appendMetricsJson(
      loaded.agg(count(lit(1)).as("n"), avg(col("predicted_score")).as("mean_score")),
      s"$dir/metrics")
    assert(spark.read.json(s"$dir/metrics").count() == 1)
  }

  test("collectBatch: NOT NULL contract rejects, nullable columns never do, report partitions the batch") {
    import spark.implicits._
    val batch = Seq(
      // fully valid
      (Some("t1"), Some("c1"), Some(0.9), Some(1), Some("a1")),
      // nullable analyst missing: still accepted
      (Some("t2"), Some("c2"), Some(0.1), Some(0), None),
      // each required column missing once: all rejected
      (None, Some("c3"), Some(0.5), Some(1), Some("a3")),
      (Some("t4"), None, Some(0.5), Some(0), Some("a4")),
      (Some("t5"), Some("c5"), None, Some(1), Some("a5")),
      (Some("t6"), Some("c6"), Some(0.5), None, Some("a6"))
    ).toDF("transaction_id", "customer_id", "predicted_score",
      "predicted_label", "analyst_id")
    val (accepted, report) = FeedbackStore.collectBatch(batch)
    val ids = accepted.select("transaction_id").collect().map(_.getString(0)).toSet
    assert(ids == Set("t1", "t2"))
    val r = report.head()
    assert(r.getLong(r.fieldIndex("n_batch")) == 6)
    assert(r.getLong(r.fieldIndex("n_accepted")) == 2)
    assert(r.getLong(r.fieldIndex("n_rejected")) == 4)
    assert(r.getLong(r.fieldIndex("n_missing_transaction_id")) == 1)
    assert(r.getLong(r.fieldIndex("n_missing_customer_id")) == 1)
    assert(r.getLong(r.fieldIndex("n_missing_predicted_score")) == 1)
    assert(r.getLong(r.fieldIndex("n_missing_predicted_label")) == 1)
  }

  test("grouped auc: perfect separation 1, inverted 0, single-class NULL") {
    import spark.implicits._
    val df = Seq(
      // group a: score perfectly ranks positives above negatives
      ("a", 1, 0.9), ("a", 1, 0.8), ("a", 0, 0.2), ("a", 0, 0.1),
      // group b: inverted
      ("b", 0, 0.9), ("b", 0, 0.8), ("b", 1, 0.2), ("b", 1, 0.1),
      // group c: single class
      ("c", 1, 0.5), ("c", 1, 0.6)
    ).toDF("g", "y", "s")
    val out = Drift.groupedAuc(df, col("g"), col("y") === 1, col("s"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(out("a").getDouble(3) == 1.0)
    assert(out("b").getDouble(3) == 0.0)
    assert(out("c").isNullAt(3) && out("c").getLong(1) == 2L)
  }

  test("roc curve matches sklearn roc_curve: docs example, ties, drop_intermediate, single-class") {
    import spark.implicits._
    def points(df: org.apache.spark.sql.DataFrame) =
      Drift.rocCurve(df, col("y") === 1, col("s")).collect()
        .map(r => (r.getDouble(0),
          if (r.isNullAt(1)) null else r.getDouble(1),
          if (r.isNullAt(2)) null else r.getDouble(2)))
        .sortBy(t => -t._1).toList
    // sklearn docs example: fpr [0,0,.5,.5,1], tpr [0,.5,.5,1,1],
    // thresholds [inf,.8,.4,.35,.1]
    val docs = Seq((0, 0.1), (0, 0.4), (1, 0.35), (1, 0.8)).toDF("y", "s")
    assert(points(docs) == List(
      (Double.PositiveInfinity, 0.0, 0.0), (0.8, 0.0, 0.5),
      (0.4, 0.5, 0.5), (0.35, 0.5, 1.0), (0.1, 1.0, 1.0)))
    // score ties collapse to one threshold row
    val ties = Seq((1, 0.5), (0, 0.5), (1, 0.3), (0, 0.3), (0, 0.1)).toDF("y", "s")
    assert(points(ties) == List(
      (Double.PositiveInfinity, 0.0, 0.0), (0.5, 1.0 / 3, 0.5),
      (0.3, 2.0 / 3, 1.0), (0.1, 1.0, 1.0)))
    // collinear interior points dropped (sklearn drop_intermediate):
    // monotone negatives leave only the endpoints
    val mono = Seq((0, 0.1), (0, 0.2), (0, 0.3), (1, 0.9)).toDF("y", "s")
    assert(points(mono) == List(
      (Double.PositiveInfinity, 0.0, 0.0), (0.9, 0.0, 1.0), (0.1, 1.0, 1.0)))
    assert(Drift.rocCurve(mono, col("y") === 1, col("s"),
      dropIntermediate = false).count() == 5)
    // single class: undefined axis is NULL (sklearn warns + emits NaN)
    val neg = Seq((0, 0.1), (0, 0.9)).toDF("y", "s")
    assert(points(neg).forall(_._3 == null))
    val pos = Seq((1, 0.1), (1, 0.9)).toDF("y", "s")
    assert(points(pos).forall(_._2 == null))
  }

  test("pr curve matches sklearn precision_recall_curve: docs example + full-recall cut") {
    import spark.implicits._
    val docs = Seq((0, 0.1), (0, 0.4), (1, 0.35), (1, 0.8)).toDF("y", "s")
    val rows = Drift.prCurve(docs, col("y") === 1, col("s")).collect()
      .map(r => (if (r.isNullAt(0)) null else r.getDouble(0),
        r.getDouble(1), r.getDouble(2))).toSet
    // sklearn: precision [2/3, .5, 1, 1], recall [1, .5, .5, 0],
    // thresholds [.35, .4, .8] — the 0.1 row is cut (recall constant 1
    // below the first full-recall threshold), terminal (1, 0) appended
    assert(rows == Set((0.35, 2.0 / 3, 1.0), (0.4, 0.5, 0.5),
      (0.8, 1.0, 0.5), (null, 1.0, 0.0)))
    // AP consistency: the step area of this curve IS averagePrecision
    val ap = Drift.averagePrecision(docs, col("y") === 1, col("s"))
      .head().getDouble(0)
    assert(math.abs(ap - (0.5 * 1.0 + 0.5 * (2.0 / 3))) < 1e-12)
  }

  test("average precision matches the hand-computed sklearn values") {
    import spark.implicits._
    // ranking 1,0,1,0 by score: AP = (1·(1/1) + 1·(2/3)) / 2 = 5/6
    val df = Seq((1, 0.9), (0, 0.8), (1, 0.7), (0, 0.6)).toDF("y", "s")
    val ap = Drift.averagePrecision(df, col("y") === 1, col("s"))
      .head().getDouble(0)
    assert(math.abs(ap - 5.0 / 6.0) < 1e-12, s"got $ap")
    // perfect ranking -> 1; inverted -> base-rate-ish; ties collapse to
    // one threshold step (all 4 rows at one score: AP = pos/n)
    val perfect = Seq((1, 0.9), (1, 0.8), (0, 0.2), (0, 0.1)).toDF("y", "s")
    assert(Drift.averagePrecision(perfect, col("y") === 1, col("s"))
      .head().getDouble(0) == 1.0)
    val tied = Seq((1, 0.5), (0, 0.5), (1, 0.5), (0, 0.5)).toDF("y", "s")
    assert(math.abs(Drift.averagePrecision(tied, col("y") === 1, col("s"))
      .head().getDouble(0) - 0.5) < 1e-12)
    // single class -> NULL
    val single = Seq((1, 0.5), (1, 0.6)).toDF("y", "s")
    assert(Drift.averagePrecision(single, col("y") === 1, col("s"))
      .head().isNullAt(0))
    // grouped twin equals per-group separate calls
    val g = Seq(("a", 1, 0.9), ("a", 0, 0.8), ("a", 1, 0.7), ("a", 0, 0.6),
      ("b", 1, 0.9), ("b", 1, 0.8), ("b", 0, 0.2), ("b", 0, 0.1))
      .toDF("g", "y", "s")
    val grouped = Drift.groupedAveragePrecision(g, col("g"), col("y") === 1, col("s"))
      .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
    assert(math.abs(grouped("a") - 5.0 / 6.0) < 1e-12)
    assert(grouped("b") == 1.0)
  }

  test("jsd: zero for identical samples, approaches ln 2 for disjoint ones") {
    import spark.implicits._
    val same = (1 to 1000).flatMap(i => Seq((i % 100 * 1.0, true), (i % 100 * 1.0, false)))
      .toDF("v", "f")
    val r1 = Drift.jsd(same, col("v"), col("f"), 0, 100).head()
    assert(math.abs(r1.getDouble(0)) < 1e-12 && !r1.getBoolean(1))
    val disjoint = (1 to 1000).flatMap(i =>
      Seq((i % 50 * 1.0, true), (50.0 + i % 50, false))).toDF("v", "f")
    val r2 = Drift.jsd(disjoint, col("v"), col("f"), 0, 100).head()
    assert(math.abs(r2.getDouble(0) - math.log(2.0)) < 1e-12 && r2.getBoolean(1))
  }

  test("ks p-value: tiny D on same distribution ~1, huge D ~0") {
    import spark.implicits._
    val r = Seq((0.01, 5000L, 5000L), (0.5, 5000L, 5000L))
      .toDF("d", "n1", "n2")
      .select(Drift.ksPvalue(col("d"), col("n1"), col("n2")).as("p"))
      .collect().map(_.getDouble(0))
    assert(r(0) > 0.95)
    assert(r(1) < 1e-6)
  }
}
