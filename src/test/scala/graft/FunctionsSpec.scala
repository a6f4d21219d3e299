package graft

import graft.functions.GraftFunctions
import graft.ops.{CoreFeatures, Trailing}
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FunctionsSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("r6 zero-sign convention: negative values rounding to zero emit -0.0") {
    // DuckDB's round() and the driver-side r6d both preserve the sign of
    // a negative value that rounds to zero; Spark's floor returns BIGINT,
    // so a long-negation would emit +0.0 and the repr-sorted oracle
    // compare misaligns (the q103 sf0.001 regression). Bit-compare, since
    // -0.0 == 0.0 numerically.
    import graft.queries.{r6, r2}
    val row = spark.range(1).select(
      r6(lit(-1.69e-5)).as("a"),   // negative, rounds to zero -> -0.0
      r6(lit(-3e-11)).as("b"),     // inside the +5e-11 nudge -> +0.0
      r6(lit(1.69e-5)).as("c"),    // positive twin -> +0.0
      r6(lit(-0.00012042365657786529)).as("d"), // q103's real cell
      r2(lit(-0.004)).as("e")).head()
    def bits(x: Double) = java.lang.Double.doubleToLongBits(x)
    assert(bits(row.getDouble(0)) == bits(-0.0), row.toString)
    assert(bits(row.getDouble(1)) == bits(0.0), row.toString)
    assert(bits(row.getDouble(2)) == bits(0.0), row.toString)
    assert(row.getDouble(3) == -0.0001, row.toString)
    assert(bits(row.getDouble(4)) == bits(-0.0), row.toString)
  }

  test("exact_distinct over range frames equals size(collect_set), groupBy equals countDistinct") {
    GraftFunctions.register(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val w = Trailing.spec(col("customer_id"), col("event_timestamp"))
    val both = tx.select(
      expr("exact_distinct(ip_address)").over(Trailing.lastSeconds(w, 3600)).as("native"),
      CoreFeatures.distinctOver(col("ip_address"), w, 3600).as("workaround"))
    assert(both.where(col("native") =!= col("workaround")).count() == 0)

    val agg = tx.groupBy(col("customer_id"))
      .agg(expr("exact_distinct(merchant_id)").as("native"),
        countDistinct(col("merchant_id")).as("builtin"))
    assert(agg.where(col("native") =!= col("builtin")).count() == 0)
  }

  test("top_k bounded aggregate == sorted-list truth across partitions; k bound holds") {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    import spark.implicits._
    // deterministic pseudo-random scores over 8 groups x 500 candidates,
    // spread over 4 partitions so merge() genuinely runs
    val rows = for (g <- 0 until 8; i <- 0 until 500) yield {
      val h = java.lang.Long.parseLong(
        java.security.MessageDigest.getInstance("MD5")
          .digest(s"tk:$g:$i".getBytes("UTF-8"))
          .take(7).map("%02x".format(_)).mkString, 16)
      (g.toLong, i.toLong, (h % 1000L).toDouble / 10.0) // ties guaranteed
    }
    val df = rows.toDF("g", "id", "score").repartition(4)
    def topk(k: Int) = {
      val packed = struct((-col("score")).as("__o"), col("id").as("__i"),
        col("score").as("__m"))
      df.groupBy(col("g"))
        .agg(column(graft.functions.TopKAgg(expression(packed), k)
          .toAggregateExpression()).as("tk"))
        .select(col("g"), posexplode(col("tk")).as(Seq("p", "e")))
        .select(col("g"), col("e.__i").as("id"), col("e.__m").as("score"),
          (col("p") + 1).as("rank"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3)))
    }
    // truth: per group, sort by (score desc, id asc), take k
    val truth = rows.groupBy(_._1).view.mapValues(
      _.sortBy { case (_, id, s) => (-s, id) }).toMap
    val got = topk(10).groupBy(_._1)
    (0L until 8L).foreach { g =>
      val exp = truth(g).take(10).zipWithIndex
        .map { case ((_, id, s), i) => (g, id, s, i + 1) }
      assert(got(g).sortBy(_._4).toSeq == exp.toSeq, s"group $g")
    }
    // k above the group size returns everything, still sorted
    val all = topk(100000)
    assert(all.length == 8 * 500)
    // determinism under re-execution
    assert(topk(10).toSeq.sorted == topk(10).toSeq.sorted)
  }

  test("RoundNudged == the CASE-tree rnd form, bit-exact, on adversarial and random-bit doubles") {
    // r6/r2 now route through the single-evaluation native node
    // (functions/RoundExpr.scala); this pins it bitwise against the
    // original CASE tree (kept as rndCase) through the CODEGEN path —
    // a non-literal column defeats constant folding. Covers NaN (Spark's
    // double compare ranks it ABOVE zero: positive branch), ±0.0, ±∞,
    // the ±nudge boundary, exact decimal midpoints, floor's long
    // saturation zone, denormals, and 200k deterministic random bit
    // patterns.
    import graft.queries.{r6, r2, rndCase}
    import spark.implicits._
    val special = Seq(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 5e-11, -5e-11, 4.9e-11, -4.9e-11, 5.1e-11,
      -5.1e-11, 0.00005, -0.00005, 0.12345, -0.12345, 1.69e-5, -1.69e-5,
      9.2e14, -9.2e14, 9.3e18, -9.3e18, 1.7e308, -1.7e308,
      Double.MinPositiveValue, -Double.MinPositiveValue, 1e-4, -1e-4,
      0.99995, -0.99995, 2.5e-5, -2.5e-5)
    val rng = new java.util.Random(42)
    val randBits = Seq.fill(200000)(
      java.lang.Double.longBitsToDouble(rng.nextLong()))
    val randSmall = Seq.fill(50000)(rng.nextGaussian() * 100)
    val df = (special ++ randBits ++ randSmall).toDF("x")
    val rows = df.select(col("x"),
        r6(col("x")).as("n6"), rndCase(col("x") + lit(5e-11), 1e4).as("c6"),
        r2(col("x")).as("n2"), rndCase(col("x") + lit(1e-4), 1e2).as("c2"))
      .collect()
    def b(d: Double): Long = java.lang.Double.doubleToLongBits(d)
    val bad = rows.filter(r =>
      b(r.getDouble(1)) != b(r.getDouble(2)) || b(r.getDouble(3)) != b(r.getDouble(4)))
    assert(bad.isEmpty, bad.take(5).mkString("; "))
    // NULL propagation matches the CASE form (NULL predicate -> ELSE -> NULL)
    val nrow = spark.range(1)
      .select(r6(lit(null).cast("double")).as("n"), r2(lit(null).cast("double")).as("m")).head()
    assert(nrow.isNullAt(0) && nrow.isNullAt(1))
  }

  test("TopK.byGroup desc key contract: NaN and NULL metrics raise loudly; -0.0 ranks like 0.0") {
    import spark.implicits._
    // NaN under desc would silently rank LAST instead of FIRST via the
    // negated key — the guard turns the divergence into an error
    val nan = Seq((1L, 1L, 1.0), (1L, 2L, Double.NaN)).toDF("g", "id", "m")
    val eNan = intercept[Exception] {
      graft.ops.TopK.byGroup(nan, Seq("g"), "m", asc = false, "id", 2).collect()
    }
    assert(eNan.getMessage != null && eNan.getMessage.contains("NaN"))
    val nul = Seq((1L, 1L, Some(1.0)), (1L, 2L, None)).toDF("g", "id", "m")
    val eNul = intercept[Exception] {
      graft.ops.TopK.byGroup(nul, Seq("g"), "m", asc = false, "id", 2).collect()
    }
    assert(eNul.getMessage != null && eNul.getMessage.contains("NULL"))
    // -0.0 negates to +0.0 but the SQL total order treats the zeros as
    // equal, so ranks match the window form (id tie-break decides)
    val z = Seq((1L, 5L, -0.0), (1L, 3L, 0.0), (1L, 4L, 1.0)).toDF("g", "id", "m")
    val got = graft.ops.TopK.byGroup(z, Seq("g"), "m", asc = false, "id", 3)
      .orderBy(col("rank")).collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(got.toSeq == Seq((4L, 1L), (3L, 2L), (5L, 3L)))
    // Long.MinValue cannot negate — loud, not wrapped
    val lm = Seq((1L, 1L, 5L), (1L, 2L, Long.MinValue)).toDF("g", "id", "m")
    val eLm = intercept[Exception] {
      graft.ops.TopK.byGroup(lm, Seq("g"), "m", asc = false, "id", 2).collect()
    }
    assert(eLm.getMessage != null && eLm.getMessage.contains("Long.MinValue"))
    // Int.MinValue DOES negate exactly: the sub-long integral key widens
    // to LONG first (the ADVICE-r15 fix — the old guard's
    // `=== Long.MinValue` could never match an int, and un-widened
    // negation wrapped Int.MinValue to itself, ranking it FIRST)
    val im = Seq((1L, 1L, 5), (1L, 2L, Int.MinValue), (1L, 3L, 7))
      .toDF("g", "id", "m")
    val gotIm = graft.ops.TopK.byGroup(im, Seq("g"), "m", asc = false, "id", 3)
      .orderBy(col("rank")).collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(gotIm.toSeq == Seq((3L, 1L), (1L, 2L), (2L, 3L)),
      "Int.MinValue must rank LAST under desc, not first via wraparound")
  }

  test("gini_agg native aggregate equals the relational and HOF forms") {
    GraftFunctions.register(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    // groupBy form vs Distribution.gini
    val native = tx.groupBy(col("customer_id").as("k"))
      .agg(expr("gini_agg(amount)").as("g"))
    val relational = graft.ops.Distribution.gini(tx, col("customer_id"), col("amount"), col("transaction_id"))
    assert(native.join(relational, "k")
      .where(abs(col("g") - col("gini")) > 1e-12).count() == 0)
    // window-frame form vs the HOF expression
    val w = Trailing.spec(col("customer_id"), col("event_timestamp"))
    val both = tx.select(
      expr("gini_agg(amount)").over(Trailing.lastSeconds(w, 604800)).as("native"),
      graft.ops.Distribution.giniOver(col("amount"), w, 604800).as("hof"))
    assert(both.where(abs(col("native") - col("hof")) > 1e-12).count() == 0)
  }

  test("entropy_agg / hhi_agg histogram aggregates equal the relational forms") {
    GraftFunctions.register(spark)
    val tx = Tables.transactions(spark, "/root/testdata/sf0.001")
    val native = tx.groupBy(col("customer_id").as("k"))
      .agg(expr("entropy_agg(hour(event_timestamp))").as("e"),
        expr("hhi_agg(merchant_id)").as("h"))
    val relE = graft.ops.Distribution.entropy(tx, col("customer_id"), hour(col("event_timestamp")), "re")
    val relH = graft.ops.Distribution.hhi(tx, col("customer_id"), col("merchant_id"), "rh")
    val joined = native.join(relE, "k").join(relH, "k")
    assert(joined.where(abs(col("e") - col("re")) > 1e-9 || abs(col("h") - col("rh")) > 1e-9)
      .count() == 0)
    // and inside a window frame (the two-level-groupBy form can't do this)
    val w = Trailing.spec(col("customer_id"), col("event_timestamp"))
    val winH = tx.select(
      expr("hhi_agg(merchant_id)").over(Trailing.lastSeconds(w, 604800)).as("native"),
      graft.ops.Distribution.hhiOver(col("merchant_id"), w, 604800).as("hof"))
    assert(winH.where(abs(col("native") - col("hof")) > 1e-9).count() == 0)
  }

  test("trigram_stats kernel equals the composable form on real docs and edge cases") {
    import spark.implicits._
    import graft.scale.TextOps
    val edge = Seq(
      (9001L, ""), (9002L, "  "), (9003L, "ab"), (9004L, "abc"),
      (9005L, "a  b\tc\nd"), (9006L, "aAaA"), // case folding collapses to one trigram
      (9007L, "café café"), // 2-byte chars
      (9008L, "日本語日本語"), // 3-byte chars
      (9009L, "a😀b😀a") // astral (4-byte) chars
    ).toDF("doc_id", "text")
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text")).union(edge)
    val kernel = TextOps.trigramDiversity(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    val twin = TextOps.trigramDiversityComposable(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2)))).toMap
    assert(kernel.keySet == twin.keySet)
    kernel.foreach { case (id, v) => assert(v == twin(id), s"doc $id: $v vs ${twin(id)}") }
    // spot-check the hand-computable fixtures
    assert(kernel(9004L) == ((1, 1)))
    assert(kernel(9006L) == ((2, 1))) // "aaaa" -> aaa x2
    assert(kernel(9002L) == ((0, 0)))
  }

  test("rolling_hashes: rolling update equals the naive polynomial; short text empty") {
    import graft.functions.RollingHashKernel.{B, M}
    def naive(s: String, k: Int, i: Int): Long =
      (0 until k).foldLeft(0L)((h, j) => (h * B + s.charAt(i + j)) % M)
    val s = "abcdefgh ijklmnopq rstuvwxyz 0123"
    val k = 8; val stride = 4
    val got = graft.functions.RollingHashKernel
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), k, stride)
      .toLongArray()
    val n = s.length - k + 1
    assert(got.length == (n + stride - 1) / stride)
    for ((h, idx) <- got.zipWithIndex)
      assert(h == naive(s, k, idx * stride), s"pos ${idx * stride}")
    // shorter than one gram -> empty
    assert(graft.functions.RollingHashKernel
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString("short"), 8, 4)
      .numElements() == 0)
    // SQL registration path
    GraftFunctions.register(spark)
    val viaSql = spark.sql(s"SELECT rolling_hashes('$s', 8, 4) AS h")
      .head().getSeq[Long](0)
    assert(viaSql.toArray.sameElements(got))
  }

  test("rolling_hashes: code-point alphabet (astral chars) and argument validation") {
    import graft.functions.RollingHashKernel.{B, M}
    // astral char (U+1D54F, 2 UTF-16 units) must count as ONE symbol with
    // its full code point value — the convention DuckDB's substr/unicode sees
    val s = "ab𝕏cdefgh"
    val cps = s.codePoints().toArray
    def naive(i: Int, k: Int): Long =
      (0 until k).foldLeft(0L)((h, j) => (h * B + cps(i + j)) % M)
    val got = graft.functions.RollingHashKernel
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString(s), 4, 2)
      .toLongArray()
    val n = cps.length - 3 // 9 code points, k=4 -> 6 positions, stride 2 -> 3
    assert(got.length == (n + 1) / 2)
    for ((h, idx) <- got.zipWithIndex)
      assert(h == naive(idx * 2, 4), s"pos ${idx * 2}")
    // k/stride < 1 rejected at analysis time (SQL path) and eval time (kernel)
    GraftFunctions.register(spark)
    for (bad <- Seq("rolling_hashes('abcdef', 8, 0)", "rolling_hashes('abcdef', 0, 4)",
        "winnow('abcdef', 0, 4)"))
      assertThrows[Exception](spark.sql(s"SELECT $bad").collect())
    assertThrows[IllegalArgumentException](graft.functions.RollingHashKernel
      .compute(org.apache.spark.unsafe.types.UTF8String.fromString("abcdef"), 4, 0))
  }
}
