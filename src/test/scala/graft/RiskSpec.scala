package graft

import graft.functions.{RiskExplanation, RiskScore}
import graft.plans.Tuning
import graft.scoring.Risk
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.execution.{ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The native risk model (`risk_score`, `risk_explanation`) against the
  * Column form it replaced, kept here as the reference: scores equal bit
  * for bit, levels and explanations exactly, with whole-stage codegen and
  * with every codegen path off.
  */
class RiskSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  // ---- the Column form of the model ----
  private def refTerm(f: String, norm: Double): Column =
    least(col(f).cast("double") / lit(norm), lit(1.0))

  private def refScore(amount: Column): Column = {
    val base = Risk.model.map { case (f, wgt, norm) => refTerm(f, norm) * lit(wgt) }
      .reduce(_ + _)
    val boosts =
      when(amount > 10000, 0.3).when(amount > 5000, 0.15).otherwise(0.0) +
        when(col("unique_ips_1h") > 3, 0.25).otherwise(0.0) +
        when(col("velocity_score_1h") > 1.5, 0.2).otherwise(0.0) +
        when(col("amount_deviation_score_1h") > 3000, 0.15).otherwise(0.0) +
        when(col("night_txn_count_24h") > 3, 0.1).otherwise(0.0)
    least(greatest(base + boosts, lit(0.0)), lit(1.0))
  }

  private def refExplanation: Column = {
    val entries = Risk.model.map { case (f, wgt, norm) =>
      struct((-refTerm(f, norm) * lit(wgt)).as("c"), lit(f).as("n"))
    }
    val top3 = slice(array_sort(array(entries: _*)), 1, 3)
    transform(filter(top3, x => x.getField("c") < -0.05), x => x.getField("n"))
  }

  // ---- inputs ----
  private val isCount: Set[String] = Set("txn_count_60s", "txn_count_5m", "txn_count_10m",
    "txn_count_1h", "unique_ips_1h", "unique_merchants_1h", "night_txn_count_24h",
    "weekend_txn_count_7d")
  private val schema = StructType(Risk.model.map { case (f, _, _) =>
    StructField(f, if (isCount(f)) LongType else DoubleType)
  } :+ StructField("amount", DoubleType) :+ StructField("id", LongType, nullable = false))

  private val cuts: Map[String, Double] = Risk.rules.map(r => r._1 -> r._2).toMap

  /** `x` as column `f` holds it. */
  private def num(f: String, x: Double): Any = if (isCount(f)) (x.toLong: Any) else x

  private def rows: Seq[Row] = {
    val rng = new java.util.Random(7)
    val specialD = Seq[Any](null, Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0, -1.0, Double.MinPositiveValue, 1e300, -1e-300)
    val specialL = Seq[Any](null, 0L, 1L, -1L, 3L, 4L, Long.MaxValue, Long.MinValue)
    val amounts = Seq[Any](null, Double.NaN, 5000.0, 10000.0, -250.0, -0.0, 0.0,
      Math.nextUp(5000.0), Math.nextDown(5000.0), Math.nextUp(10000.0),
      Double.PositiveInfinity, Double.NegativeInfinity, 12000.0, 120.5)
    def value(f: String, norm: Double): Any = (rng.nextInt(6), isCount(f)) match {
      case (0, false) => specialD(rng.nextInt(specialD.size))
      case (0, true) => specialL(rng.nextInt(specialL.size))
      case (1, _) => num(f, norm) // exactly at the normaliser
      case (2, _) => num(f, cuts.getOrElse(f, norm * 2)) // exactly at a rule's cut
      case (_, _) => num(f, (rng.nextDouble() * 1.3 - 0.1) * norm)
    }
    def row(id: Long, feats: Seq[Any], amount: Any): Row = Row.fromSeq(feats :+ amount :+ id)
    val zero = Risk.model.map { case (f, _, _) => num(f, 0.0) }
    val saturated = Risk.model.map { case (f, _, norm) => num(f, norm) }
    // equal weights: saturating a pair gives tied contributions, so the
    // name decides their order
    val ties = Risk.model.map(_._2).groupBy(identity).filter(_._2.size > 1).keys.toSeq
    val tied = ties.map(w => Risk.model.map { case (f, wgt, norm) =>
      if (wgt == w) num(f, norm * 2) else num(f, 0.0) })
    val fixed = (Seq(zero, saturated) ++ tied).flatMap(fs => amounts.map(a => (fs, a)))
    val random = Seq.fill(6000)((Risk.model.map { case (f, _, n) => value(f, n) },
      amounts(rng.nextInt(amounts.size))))
    (fixed ++ random).zipWithIndex.map { case ((fs, a), i) => row(i.toLong, fs, a) }
  }

  private def compare(mode: String): Unit = {
    // an RDD-backed frame: a local relation would be folded on the driver
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    val s = Risk.score(col("amount"))
    val r = refScore(col("amount"))
    val out = df.select(col("id"), s, Risk.level(s), Risk.explanation,
      r, Risk.level(r), refExplanation)
    val got = out.collect()
    assert(got.length == df.count())
    def bits(row: Row, i: Int): Long = java.lang.Double.doubleToLongBits(row.getDouble(i))
    val bad = got.filter(row => bits(row, 1) != bits(row, 4) ||
      row.getString(2) != row.getString(5) || row.getSeq[String](3) != row.getSeq[String](6))
    assert(bad.isEmpty, s"$mode: ${bad.length} rows differ, e.g. ${bad.take(3).mkString("; ")}")
    // the fixtures reach every branch: empty and full explanations, ties,
    // every level
    val expl = got.map(_.getSeq[String](3).size).toSet
    assert(expl == Set(0, 1, 2, 3), expl)
    assert(got.map(_.getString(2)).toSet == Set("LOW", "MEDIUM", "HIGH"))
  }

  test("risk_score and risk_explanation equal the Column form in whole-stage codegen") {
    Tuning.withConf(spark, "spark.sql.codegen.wholeStage" -> "true",
        "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
        "spark.sql.codegen.fallback" -> "false") {
      compare("codegen")
      val df = spark.createDataFrame(spark.sparkContext.parallelize(rows.take(10), 2), schema)
      val plan = df.select(Risk.score(col("amount")), Risk.explanation)
        .queryExecution.executedPlan
      val fused = plan.collect { case w: WholeStageCodegenExec => w.child }
        .flatMap(_.collect { case p: ProjectExec => p.projectList })
        .flatten.flatMap(_.collect { case e @ (_: RiskScore | _: RiskExplanation) => e })
      assert(fused.size == 2, plan.toString)
    }
  }

  test("risk_score and risk_explanation equal the Column form with codegen off") {
    Tuning.withConf(spark, "spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      compare("interpreted")
    }
  }

  test("the native nodes reject inputs of the wrong count or type") {
    val df = spark.range(1).select(col("id").cast("double").as("x"))
    val e = intercept[Exception](
      df.select(ColumnBridge.column(RiskScore(Seq(ColumnBridge.expression(col("x"))))))
        .collect())
    assert(e.getMessage.contains("risk_score"), e.getMessage)
  }
}
