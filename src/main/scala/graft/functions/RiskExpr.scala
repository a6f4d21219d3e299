package graft.functions

import graft.scoring.Risk
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The reference's /predict model ([[Risk]]) as two native expressions.
  * Their inputs are the 14 model features in [[Risk.model]] order (the
  * score then takes the request amount), each already cast to double.
  *
  * Why it exists: written as Catalyst nodes the model was ~150 of them
  * (14 `least`/`*` terms, five CASE boosts, a CASE clamp, and an
  * `array_sort`/`slice`/`filter`/`transform` explanation whose lambdas are
  * interpreted), and a one-request `/predict` paid more to analyse,
  * optimise and plan that tree than to look its key up. Here the model is
  * two nodes, and both have a real `doGenCode`, so batch scoring stays in
  * whole-stage codegen.
  *
  * `eval` and `doGenCode` both call [[RiskKernel]], so the interpreted and
  * generated paths cannot drift; a point scorer can call it directly on a
  * store row.
  */
sealed trait RiskInputs extends Expression {
  protected def width: Int
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (children.size == width && children.forall(_.dataType == DoubleType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects $width double arguments, got " +
        children.map(_.dataType.simpleString).mkString(", "))

  /** The inputs as the kernel reads them: values, and bit i set when
    * input i is NULL.
    */
  protected def inputs(row: InternalRow): (Array[Double], Int) = {
    val v = new Array[Double](children.size)
    var nulls = 0
    var i = 0
    while (i < children.size) {
      val x = children(i).eval(row)
      if (x == null) nulls |= 1 << i else v(i) = x.asInstanceOf[Double]
      i += 1
    }
    (v, nulls)
  }

  /** Generated twin of [[inputs]]: fills a per-stage `double[]` and a
    * NULL mask, then assigns `ev.value` from `kernelCall(buf, mask)`.
    */
  protected def genKernel(ctx: CodegenContext, ev: ExprCode,
      kernelCall: (String, String) => String): ExprCode = {
    val buf = ctx.addMutableState("double[]", "riskIn",
      v => s"$v = new double[${children.size}];")
    val nulls = ctx.freshName("riskNulls")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |if (${e.isNull}) { $nulls |= ${1 << i}; } else { $buf[$i] = ${e.value}; }""".stripMargin
    }.mkString("\n")
    ev.copy(code = code"""
      |int $nulls = 0;
      |$fill
      |final ${CodeGenerator.javaType(dataType)} ${ev.value} = ${kernelCall(buf, nulls)};
      """.stripMargin, isNull = FalseLiteral)
  }
}

/** `risk_score(features…, amount)`: the clamped model score, never NULL. */
case class RiskScore(children: Seq[Expression]) extends RiskInputs {
  protected def width: Int = Risk.model.size + 1
  override def dataType: DataType = DoubleType

  override def eval(row: InternalRow): Any = {
    val (v, nulls) = inputs(row)
    RiskKernel.score(v, nulls)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genKernel(ctx, ev, (v, n) => s"graft.functions.RiskKernel.score($v, $n)")

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RiskScore =
    copy(children = c)
  override def prettyName: String = "risk_score"
}

/** `risk_explanation(features…)`: the names of up to three largest
  * contributions, never NULL.
  */
case class RiskExplanation(children: Seq[Expression]) extends RiskInputs {
  protected def width: Int = Risk.model.size
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def eval(row: InternalRow): Any = {
    val (v, nulls) = inputs(row)
    RiskKernel.explanation(v, nulls)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    genKernel(ctx, ev, (v, n) => s"graft.functions.RiskKernel.explanation($v, $n)")

  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): RiskExplanation =
    copy(children = c)
  override def prettyName: String = "risk_explanation"
}

/** The model's arithmetic over one row. `v(i)` is input i (the
  * [[Risk.model]] features, then the amount); bit i of `nulls` marks it
  * NULL. Each step is the operation the Column form of the model
  * performed, in the same order, so results are equal bit for bit:
  *
  *   - a term is `least(x / norm, 1.0) * weight`: NULL and NaN give 1.0
  *     (`least` skips NULLs and ranks NaN above every number);
  *   - a rule `x > cut` is false on NULL and true on NaN (Spark compares
  *     doubles with [[compareDoubles]]: NaN largest, -0.0 equal to 0.0);
  *   - the terms sum left to right, the boosts (amount tier first) sum
  *     left to right, then the two sums add;
  *   - the clamp is `least(greatest(s, 0.0), 1.0)` by [[compareDoubles]];
  *   - the explanation sorts `(-term, name)` ascending, keeps the first
  *     three and of those the ones below -0.05.
  */
object RiskKernel {
  private val n = Risk.model.size
  private val weight = Risk.model.map(_._2).toArray
  private val norm = Risk.model.map(_._3).toArray
  private val names = Risk.model.map(m => UTF8String.fromString(m._1)).toArray
  /** Each feature's position in name order, the explanation's tie-break. */
  private val nameRank: Array[Int] = {
    val r = new Array[Int](n)
    names.zipWithIndex.sortWith((a, b) => a._1.compareTo(b._1) < 0)
      .zipWithIndex.foreach { case ((_, i), k) => r(i) = k }
    r
  }
  private val ruleAt = Risk.rules.map(r => Risk.model.indexWhere(_._1 == r._1)).toArray
  require(!ruleAt.contains(-1), "a boost rule names a feature outside Risk.model")
  private val ruleCut = Risk.rules.map(_._2).toArray
  private val ruleBoost = Risk.rules.map(_._3).toArray
  private val tierCut = Risk.amountTiers.map(_._1).toArray
  private val tierBoost = Risk.amountTiers.map(_._2).toArray

  private def isNull(nulls: Int, i: Int): Boolean = ((nulls >>> i) & 1) != 0

  /** `least(x / norm, 1.0)` of feature i. */
  private def clamped(v: Array[Double], nulls: Int, i: Int): Double =
    if (isNull(nulls, i)) 1.0 else {
      val x = v(i) / norm(i)
      if (compareDoubles(1.0, x) < 0) 1.0 else x
    }

  private def over(v: Array[Double], nulls: Int, i: Int, cut: Double): Boolean =
    !isNull(nulls, i) && compareDoubles(v(i), cut) > 0

  def score(v: Array[Double], nulls: Int): Double = {
    var base = clamped(v, nulls, 0) * weight(0)
    var i = 1
    while (i < n) { base += clamped(v, nulls, i) * weight(i); i += 1 }
    // the amount tiers are one CASE: the first cut exceeded gives its boost
    var boost = 0.0
    i = 0
    while (i < tierCut.length && !over(v, nulls, n, tierCut(i))) i += 1
    if (i < tierCut.length) boost = tierBoost(i)
    i = 0
    while (i < ruleAt.length) {
      boost += (if (over(v, nulls, ruleAt(i), ruleCut(i))) ruleBoost(i) else 0.0)
      i += 1
    }
    val s = base + boost
    val g = if (compareDoubles(0.0, s) > 0) 0.0 else s
    if (compareDoubles(1.0, g) < 0) 1.0 else g
  }

  def explanation(v: Array[Double], nulls: Int): ArrayData = {
    val c = new Array[Double](n)
    var i = 0
    while (i < n) { c(i) = -clamped(v, nulls, i) * weight(i); i += 1 }
    def before(a: Int, b: Int): Boolean = {
      val k = compareDoubles(c(a), c(b))
      k < 0 || (k == 0 && nameRank(a) < nameRank(b))
    }
    // the first three of the sorted order, one selection pass each
    val out = new Array[Any](3)
    var kept = 0
    var taken = 0
    var k = 0
    while (k < 3) {
      var best = -1
      i = 0
      while (i < n) {
        if (((taken >>> i) & 1) == 0 && (best < 0 || before(i, best))) best = i
        i += 1
      }
      taken |= 1 << best
      if (compareDoubles(c(best), -0.05) < 0) { out(kept) = names(best); kept += 1 }
      k += 1
    }
    new GenericArrayData(out.take(kept))
  }
}
