package graft
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.ColumnBridge
import java.nio.file.{Files, Paths}
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB oracle compare (scripts/check.py).
  * A query fails when it throws or when it leaves an entry in the
  * session's CacheManager. Exits 1 when any query failed, after listing
  * the failed names in failures.json. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query-name prefixes (dev loop)
    val only: String => Boolean =
      if (args.length > 2) { val ps = args(2).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = Session.local()
    val failed = try dump(spark, sfDir, outDir,
      SparkEntry.queries.filter(kv => only(kv._1)),
      SparkEntry.oracleSql.filter(kv => only(kv._1)))
    finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[verify] ${failed.size} queries failed: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }

  /** Writes each query's result to `outDir/<name>` as parquet, then
    * `oracle_sql.json` and `failures.json`; returns the failed names. */
  def dump(spark: SparkSession, sfDir: String, outDir: String,
      qs: Map[String, queries.Q], oracle: Map[String, String]): Seq[String] = {
    new java.io.File(outDir).mkdirs()
    val failed = qs.toSeq.flatMap { case (name, fn) =>
      val before = ColumnBridge.cachedEntries(spark)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        val left = ColumnBridge.cachedEntries(spark) - before
        if (left <= 0) None
        else {
          System.err.println(s"[verify] $name failed: left $left CacheManager entries")
          // drop them so the next query is checked from the same state
          spark.catalog.clearCache()
          Some(name)
        }
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = oracle.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/failures.json"), failed.map(q).mkString("[", ",", "]"))
    failed
  }
}
