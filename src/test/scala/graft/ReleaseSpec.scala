package graft

import graft.ops.PageRank
import graft.scale.{Dedup, Similarity, TextOps}
import graft.scoring.Trainer
import graft.streaming.SemanticGate
import graft.tables.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite

/** The release contract of every entry point that pins an intermediate:
  * a call leaves the session's CacheManager as it found it, and once its
  * result is dropped the ContextCleaner frees every RDD it pinned.
  */
class ReleaseSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private val sf = "/root/testdata/sf0.001"

  private def docs(s: SparkSession) = Tables.documents(s, sf)
  private def emb(s: SparkSession) = Tables.embeddings(s, sf)
  private def edges(s: SparkSession) = {
    val e = Tables.events(s, sf)
      .select(concat(lit("c:"), col("user_id").cast("string")).as("src"),
        concat(lit("m:"), col("event_type")).as("dst"))
      .distinct()
    e.union(e.select(col("dst").as("src"), col("src").as("dst")))
  }
  private def rows(df: DataFrame): Int = df.collect().length

  private val entryPoints: Seq[(String, SparkSession => Any)] = Seq(
    "Dedup.jaccardTopK" -> (s => rows(Dedup.jaccardTopK(docs(s), col("doc_id"),
      col("text"), n = 3, dfCut = 50, k = 20))),
    "Dedup.minhashPairs" -> (s => rows(Dedup.minhashPairs(docs(s), col("doc_id"),
      col("text"), n = 3))),
    "Dedup.minhashCalibration" -> (s => rows(Dedup.minhashCalibration(docs(s),
      col("doc_id"), col("text"), n = 3))),
    "Dedup.neardupGroups" -> (s => rows(Dedup.neardupGroups(docs(s), col("doc_id"),
      col("text"), n = 3, tau = 0.5))),
    "Dedup.incrementalDedup" -> (s => rows(Dedup.incrementalDedup(
      docs(s).where(col("doc_id") % 10 =!= 0), docs(s).where(col("doc_id") % 10 === 0),
      col("doc_id"), col("text"), n = 3, tau = 0.5))),
    "Similarity.truncatedRecall" -> (s => rows(Similarity.truncatedRecall(emb(s),
      emb(s).where(col("vec_id") < 10), k = 10, dims = Seq(8, 16, 32), fullDim = 64))),
    "Similarity.semDedup" -> (s => rows(Similarity.semDedup(emb(s), k = 8, iters = 1,
      tau = 0.30))),
    "Similarity.semDedupDelta" -> (s => rows(Similarity.semDedupDelta(
      emb(s).where(col("vec_id") % 10 =!= 0), emb(s).where(col("vec_id") % 10 === 0),
      k = 8, iters = 1, tau = 0.30))),
    "TextOps.tfidfTopK" -> (s => rows(TextOps.tfidfTopK(docs(s), col("doc_id"),
      col("text"), k = 3))),
    "SemanticGate.fit" -> (s => rows(SemanticGate.fit(emb(s), k = 8, iters = 1)._2)),
    "PageRank.run" -> (s => rows(PageRank.run(edges(s), iters = 3))),
    "PageRank.runDataFrame" -> (s => rows(PageRank.runDataFrame(edges(s), iters = 3))),
    "PageRank.personalized" -> (s => rows(PageRank.personalized(edges(s),
      edges(s).select(col("src").as("node")).where(col("node").startsWith("c:1")),
      iters = 3))),
    "Trainer.fitLogistic" -> (s => Trainer.fitLogistic(Tables.transactions(s, sf),
      Seq("amount", "customer_id"), (col("amount") > 300).cast("double"), iters = 3))
  )

  private def persistentIds = spark.sparkContext.getPersistentRDDs.keySet

  entryPoints.foreach { case (name, call) =>
    test(s"$name leaves no CacheManager entry, and its pinned RDDs are freed") {
      val entries0 = ColumnBridge.cachedEntries(spark)
      val pinned0 = persistentIds
      call(spark)
      val leftEntries = ColumnBridge.cachedEntries(spark) - entries0
      // a leak would hide the next case's: an identical plan caches once
      if (leftEntries != 0) spark.catalog.clearCache()
      assert(leftEntries == 0, s"$name left $leftEntries CacheManager entries")
      // the result is unreachable now: poll GC until the ContextCleaner
      // has unpersisted what the call pinned (bounded, as in Spark's own
      // ContextCleanerSuite)
      def left = persistentIds -- pinned0
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (left.nonEmpty && System.nanoTime() < deadline) {
        System.gc()
        Thread.sleep(200)
      }
      assert(left.isEmpty, s"$name still pins RDDs ${left.toSeq.sorted}")
    }
  }
}
