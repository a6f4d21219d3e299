package graft

import graft.ops.QualityChecks
import graft.ops.QualityChecks._
import graft.sources.Formats
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class QualitySpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("constraint report: metrics and pass flags on known violations") {
    val df = Seq(
      (1L, Some(5.0)), (2L, Some(50.0)), (2L, Some(500.0)), (3L, None)
    ).toDF("id", "v")
    val out = QualityChecks.report(df, Seq(
      NotNull("v_not_null", col("v")),
      Unique("id_unique", col("id")),
      InRange("v_in_range", col("v"), 0.0, 100.0, minRate = 0.5)))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(out("v_not_null") == ((0.75, false)))
    assert(out("id_unique") == ((0.75, false)))
    assert(out("v_in_range") == ((0.5, true))) // 2 of 4 in [0,100), meets 0.5
  }

  test("report is a single aggregation pass (one exchange, no joins)") {
    val df = (1L to 1000L).map(i => (i, i * 1.0)).toDF("id", "v")
    val rep = QualityChecks.report(df, Seq(
      NotNull("a", col("v")), Unique("b", col("id")),
      InRange("c", col("v"), 0.0, 500.0, 0.4)))
    rep.collect()
    val p = rep.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert(!p.contains("Join"), p)
  }

  test("referential integrity catches orphans; clean FK passes") {
    val fact = Seq(1L, 2L, 9L).map(Tuple1(_)).toDF("fk")
    val dim = Seq(1L, 2L, 3L).map(Tuple1(_)).toDF("pk")
    val r = QualityChecks.refIntegrity("fk", fact, col("fk"), dim, col("pk")).head()
    assert(!r.getBoolean(2) && math.abs(r.getDouble(1) - 2.0 / 3) < 1e-12)
    val clean = QualityChecks.refIntegrity("fk", fact.where(col("fk") < 3),
      col("fk"), dim, col("pk")).head()
    assert(clean.getBoolean(2) && clean.getDouble(1) == 1.0)
  }

  test("jsonl round-trip with explicit schema; corrupt records quarantined") {
    val dir = java.nio.file.Files.createTempDirectory("graft-fmt").toString
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", DoubleType)))
    Seq((1L, 1.5), (2L, 2.5)).toDF("id", "v").coalesce(1).write.mode("overwrite").json(dir)
    // append a malformed line alongside the good part files
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "part-bad.json"),
      "{\"id\": \"notanumber\", \"v\": }\n".getBytes)
    // Spark disallows querying ONLY _corrupt_record on an unparsed scan;
    // cache the parsed result first (the documented pattern)
    val back = Formats.readJsonl(spark, dir, schema).cache()
    assert(back.where(col("_corrupt_record").isNotNull).count() == 1)
    val good = back.where(col("_corrupt_record").isNull)
      .select(col("id"), col("v")).collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(good == Set((1L, 1.5), (2L, 2.5)))
  }

  test("csv round-trip with header and explicit schema") {
    val dir = java.nio.file.Files.createTempDirectory("graft-csv").toString
    val df = Seq((1L, "a", 1.5), (2L, "b", 2.5)).toDF("id", "s", "v")
    Formats.writeCsv(df, dir)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val back = Formats.readCsv(spark, dir, schema)
      .select(col("id"), col("s"), col("v"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(back == Set((1L, "a", 1.5), (2L, "b", 2.5)))
  }
}
