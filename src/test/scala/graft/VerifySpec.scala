package graft

import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** The correctness dump lists every failed query instead of hiding it:
  * one that throws, and one that leaves a CacheManager entry behind. */
class VerifySpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("dump: a throwing query is listed in failures.json; the good one is written") {
    val out = Files.createTempDirectory("graft_verify").toString
    val good: queries.Q = (s, _) => s.range(3).select(lit(1).as("one"))
    val bad: queries.Q = (_, _) => throw new IllegalStateException("boom")
    val failed = Verify.dump(spark, "unused-sf-dir", out,
      Map("q_good" -> good, "q_bad" -> bad),
      Map("q_good" -> "SELECT 1 AS one", "q_bad" -> "SELECT\t2"))
    assert(failed == Seq("q_bad"))
    assert(Files.readString(Paths.get(out, "failures.json")) == """["q_bad"]""")
    assert(spark.read.parquet(s"$out/q_good").collect().map(_.getInt(0)).toSeq == Seq(1, 1, 1))
    assert(!Files.exists(Paths.get(out, "q_bad")))
    val oracle = Files.readString(Paths.get(out, "oracle_sql.json"))
    assert(oracle.contains(""""q_good": "SELECT 1 AS one"""") &&
      oracle.contains(""""q_bad": "SELECT\t2""""), oracle)
  }

  test("dump: a query that leaves a CacheManager entry is listed as failed") {
    val out = Files.createTempDirectory("graft_verify").toString
    val leaky: queries.Q = (s, _) => s.range(5).select(lit(2).as("two")).persist()
    val clean: queries.Q = (s, _) => s.range(5).select(lit(3).as("three")).localCheckpoint()
    val failed = Verify.dump(spark, "unused-sf-dir", out,
      Map("q_leaky" -> leaky, "q_clean" -> clean), Map.empty)
    assert(failed == Seq("q_leaky"))
    assert(Files.readString(Paths.get(out, "failures.json")) == """["q_leaky"]""")
    assert(ColumnBridge.cachedEntries(spark) == 0,
      "the leaked entry is dropped so later queries are checked from the same state")
  }
}
