package graft

import graft.functions.GraftFunctions
import graft.plans.Tuning
import graft.scale.Similarity
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The codegen'd vector kernels must be bit-identical to the higher-order
  * expression forms they replaced (same left-to-right double accumulation)
  * in BOTH evaluation modes, or the oracle hash-compare would drift.
  */
class VectorExprsSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private def vecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(-0.5f, 0.25f, 8.125f), Array(0.1f, -0.2f, 0.3f)),
      (3L, Array(0.0f, 0.0f, 0.0f), Array(1.0f, 1.0f, 1.0f)),
      (4L, Array.tabulate(64)(i => (math.sin(i) * 10).toFloat),
        Array.tabulate(64)(i => (math.cos(i) * 10).toFloat))
    ).toDF("id", "a", "b")
  }

  private def hof(df: org.apache.spark.sql.DataFrame) = df.select(
    aggregate(zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v).as("dot"),
    sqrt(aggregate(transform(col("a"), x => x.cast("double") * x.cast("double")),
      lit(0.0), (acc, v) => acc + v)).as("na"),
    aggregate(zip_with(col("a"), col("b"),
        (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v).as("d2"))

  private def native(df: org.apache.spark.sql.DataFrame) = df.select(
    Similarity.dot(col("a"), col("b")).as("dot"),
    Similarity.norm(col("a")).as("na"),
    Similarity.sqDist(col("a"), col("b")).as("d2"))

  test("codegen kernels are bit-identical to the higher-order forms") {
    val e = hof(vecs).collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
    for (mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN"))
      Tuning.withConf(spark, "spark.sql.codegen.factoryMode" -> mode) {
        val a = native(vecs).collect().map(r => (r.getDouble(0), r.getDouble(1), r.getDouble(2)))
        assert(a.toSeq == e.toSeq, s"mode=$mode")
      }
  }

  test("mixed float/double argument types widen correctly") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(3.0, 4.0))).toDF("a", "b")
    val r = df.select(Similarity.dot(col("a"), col("b"))).head.getDouble(0)
    assert(r == 11.0)
  }

  test("null array propagates to null, SQL surface works") {
    GraftFunctions.register(spark)
    vecs.createOrReplaceTempView("v")
    val viaSql = spark.sql(
      "SELECT id, array_dot(a, b) AS dot, array_norm(a) AS na, array_sqdist(a, b) FROM v")
    assert(viaSql.count() == 4)
    val n = spark.sql("SELECT array_dot(CAST(NULL AS ARRAY<FLOAT>), array(1.0F))").head
    assert(n.isNullAt(0))
  }
}
