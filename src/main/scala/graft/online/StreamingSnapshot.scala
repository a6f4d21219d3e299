package graft.online

import org.apache.spark.TaskContext
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.streaming.StreamFeatures
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

/** Streaming online-store sink (SURVEY S6): the reference pipelines
  * per-key HSET+EXPIRE into Redis per event
  * (`flink_job/aml_stream_processor.py:203-221`). Spark-side the sink is
  * `foreachBatch` performing an idempotent latest-wins upsert per entity:
  * replays of a micro-batch (at-least-once delivery) converge to the same
  * snapshot, upgrading the reference's non-transactional writes to
  * effectively-exactly-once.
  *
  * The store here is an in-JVM map (the local test/serving harness); the
  * WRITE PATH is the production shape: every partition upserts directly
  * from its task (the per-executor connection pattern of a KV/Delta
  * sink), so no row ever funnels through the driver. Swapping in Redis /
  * Delta MERGE replaces only [[SnapshotStore.forId]]'s resolution (a
  * client-pool lookup) and [[SnapshotStore.upsert]]'s body.
  */
class SnapshotStore(val id: String) {
  def this() = this(java.util.UUID.randomUUID().toString)

  private val rows = new ConcurrentHashMap[Long, StreamFeatures]()
  private val taskW = new AtomicLong()
  private val driverW = new AtomicLong()

  /** Latest-wins merge of a row batch: newer `ts_micros` wins, then the
    * larger `amount`. `ConcurrentHashMap.merge` is atomic per key, and the
    * rule picks the same row in any order as long as rows equal on both
    * fields are equal — true of the stream processor's output, where
    * same-time peers share their window features. So concurrent writers,
    * any row order and replayed batches converge to the same snapshot.
    */
  def upsert(batch: Iterator[StreamFeatures]): Unit = {
    if (TaskContext.get() != null) taskW.incrementAndGet()
    else driverW.incrementAndGet()
    batch.foreach { f =>
      rows.merge(f.customer_id, f,
        (old, neu) =>
          if (neu.ts_micros > old.ts_micros ||
            (neu.ts_micros == old.ts_micros && neu.amount >= old.amount)) neu
          else old)
    }
  }

  def get(customerId: Long): Option[StreamFeatures] = Option(rows.get(customerId))

  /** TTL read-side filter (Redis EXPIRE 86400 equivalent). */
  def getFresh(customerId: Long, nowMicros: Long, ttlSeconds: Long = 86400): Option[StreamFeatures] =
    get(customerId).filter(_.ts_micros > nowMicros - ttlSeconds * 1000000L)

  def size: Int = rows.size

  /** Upsert calls that ran inside a Spark task (the distributed path). */
  def taskWrites: Long = taskW.get()

  /** Upsert calls that ran on the driver — the spec gate asserts this
    * stays ZERO for the streaming sink.
    */
  def driverWrites: Long = driverW.get()
}

object SnapshotStore {
  private[graft] val registry = new ConcurrentHashMap[String, SnapshotStore]()

  /** Task-side store resolution — the seam where a production sink
    * resolves its per-executor KV client instead. In-JVM (local[n]) this
    * returns the instance a running query registered; once the query has
    * ended, a straggler task fails here instead of writing nowhere.
    */
  def forId(key: String): SnapshotStore = Option(registry.get(key)).getOrElse(
    throw new IllegalStateException(s"no snapshot store registered as $key"))
}

object StreamingSnapshot {
  /** Wire a feature stream into the store: each micro-batch partition
    * upserts from its task. The partitions are `transformWithState`'s
    * output, already grouped by `customer_id`, so a key's rows all come
    * from one task and [[SnapshotStore.upsert]]'s latest-wins merge stores
    * what a global per-key reduce would, without a second shuffle. The
    * store is registered for task-side lookup until the query stops or
    * fails; the caller's `store` stays readable after that.
    */
  def start(features: Dataset[StreamFeatures], store: SnapshotStore): StreamingQuery = {
    // a key per run, so a run that ends never unregisters a later run's store
    val key = s"${store.id}/${UUID.randomUUID()}"
    SnapshotStore.registry.put(key, store)
    val query = try features.writeStream
      .outputMode("append")
      .foreachBatch { (batch: Dataset[StreamFeatures], _: Long) =>
        batch.foreachPartition((it: Iterator[StreamFeatures]) => SnapshotStore.forId(key).upsert(it))
      }
      .start()
    catch { case e: Throwable => SnapshotStore.registry.remove(key); throw e }
    val streams = features.sparkSession.streams
    def release(): Unit = { SnapshotStore.registry.remove(key); streams.removeListener(onEnd) }
    lazy val onEnd: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = if (e.runId == query.runId) release()
    }
    streams.addListener(onEnd)
    if (!query.isActive) release() // a run that already ended posts the listener no event
    query
  }
}
