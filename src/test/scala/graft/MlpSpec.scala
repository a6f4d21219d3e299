package graft

import graft.scoring.{KMeansOps, Mlp}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The literal-weight MLP forward pass vs a plain JVM reference: the
  * ArrayDot kernels accumulate left-to-right over widened floats, so the
  * Spark columns must be BIT-EQUAL to the same fold computed in Scala —
  * no tolerance. Also pins the deterministic weight formulas (dyadic
  * rationals) and the layer-boundary rounding contract.
  */
class MlpSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("deterministic net: dyadic weights, exact shapes") {
    val net = Mlp.deterministic(d = 64, hidden = 8)
    assert(net.d == 64 && net.hidden == 8)
    // every weight is k/16 with |k| <= 6: exactly representable and
    // reproducible from the index formulas on any engine
    val all = net.w1.flatten ++ net.b1 ++ net.w2 :+ net.b2
    assert(all.forall(w => w * 16.0 == math.rint(w * 16.0)))
    assert(net.w1(0)(0) == (((1 % 13) - 6) / 16.0))
    assert(net.b2 == 0.0625)
  }

  test("forward pass is bit-equal to the JVM reference fold") {
    import spark.implicits._
    val d = 16
    val net = Mlp.deterministic(d, hidden = 4)
    // deterministic float vectors, including negatives and exact zeros
    val rows = (0 until 20).map { r =>
      (r.toLong, Array.tabulate(d)(i => ((r * 7 + i * 3) % 11 - 5) / 4.0f))
    }
    val df = rows.toDF("id", "emb")
    val withH = (0 until net.hidden).foldLeft(df)((acc, j) =>
      acc.withColumn(s"h$j", Mlp.hiddenCol(net, col("emb"), j)))
    val out = withH
      .withColumn("z", Mlp.logit(net, j => col(s"h$j")))
      .withColumn("p", Mlp.sigmoid(Mlp.logit(net, j => col(s"h$j"))))
      .select(col("id") +: (0 until net.hidden).map(j => col(s"h$j")) :+
        col("z") :+ col("p"): _*)
      .collect().map(r => r.getLong(0) -> r).toMap

    rows.foreach { case (id, emb) =>
      // reference: left-to-right widened dot, relu, 4dp re-entry rounding
      val h = (0 until net.hidden).map { j =>
        var acc = 0.0
        var i = 0
        while (i < d) { acc += emb(i).toDouble * net.w1(j)(i); i += 1 }
        KMeansOps.r6d(math.max(0.0, net.b1(j) + acc))
      }
      val z = (0 until net.hidden).foldLeft(net.b2)((a, j) => a + net.w2(j) * h(j))
      val p = 1.0 / (1.0 + math.exp(-z))
      val r = out(id)
      (0 until net.hidden).foreach(j =>
        assert(r.getDouble(1 + j) == h(j), s"id $id h$j"))
      assert(r.getDouble(1 + net.hidden) == z, s"id $id z")
      assert(r.getDouble(2 + net.hidden) == p, s"id $id p")
    }
  }

  test("net shape validation rejects ragged weights") {
    intercept[IllegalArgumentException] {
      Mlp.Net(Array(Array(1.0, 2.0), Array(3.0)), Array(0.0, 0.0),
        Array(1.0, 1.0), 0.0)
    }
  }
}
