package graft.ops

import graft.schema.FeatureViews
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.SpecificInternalRow
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The full 12-kind × 6-window customer view (SURVEY W1/A1–A14) as one
  * incremental pass per customer: the batch twin of the reference's
  * per-key event deque (`flink_job/aml_stream_processor.py:90-163`) and of
  * the streaming processor's state ([[graft.streaming.FeatureProcessor]]).
  *
  * It equals the window-function form ([[FeatureViews.windowView]]: 72
  * aggregates over the six strict `(t - W, t]` RANGE frames of one
  * `partitionBy(customer_id).orderBy(ts)` spec) bit for bit, under the same
  * distribution: hash-partition by customer, sort within the partition.
  * Per customer it keeps one event buffer in primitive arrays, and per
  * window a start pointer that only moves forward:
  *   - row, condition and distinct counts are updated as events enter and
  *     leave the frame (distincts count dictionary ids per window);
  *   - max and min come from monotonic deques, the earliest of equal
  *     values first, as Spark's `greatest`/`least` fold keeps it;
  *   - sum, avg and stddev_pop repeat Spark's floating-point sequence.
  *     Spark's sliding frame re-runs its aggregates over the whole frame
  *     whenever the frame changes, so a frame that only grew extends the
  *     `Sum` and Welford (`CentralMomentAgg`) folds by its new events, and
  *     a frame that evicted replays both folds from its new start.
  *     MultiWindowSpec pins this replay on the window form.
  *
  * Rows sharing (customer, timestamp) are peers: each one's RANGE frame
  * holds all of them. The kernel adds the whole tie-run, then emits one
  * feature vector for every member. Spark leaves the order of peers in a
  * frame unspecified; the kernel orders them by transaction_id, so sums
  * over a frame holding peers may differ from a window-form run in the
  * last bits.
  *
  * Cost: amortized O(windows) per event for everything but the replays,
  * which cost O(frame) for each window that evicted.
  */
object MultiWindow {

  private val Night = 1
  private val Weekend = 2
  private val Business = 4
  // the sort puts null times first; they form one run whose frame is
  // every null-time row of the customer, as in Spark's RANGE frame
  private val NullTime = Long.MinValue
  // the kernel's key before the first row: equal to no customer_id
  private object NoKey

  /** The view of `tx`: transaction_id and customer_id as given (a
    * string, integral, decimal or date key; a null customer_id is a
    * customer of its own), then the 72 features in
    * [[FeatureViews.windows6]] × [[FeatureViews.kinds]] order. Reads
    * event_timestamp, amount (as double; null amounts count as rows but
    * not as values), merchant_id and ip_address (as strings; null is not a
    * distinct value).
    */
  def fullView(tx: DataFrame): DataFrame = {
    val ts = col("event_timestamp")
    def flag(p: Column, bit: Int) = when(p, bit).otherwise(0)
    val prepared = tx.select(
        col("customer_id"),
        unix_micros(ts).as("tm"),
        col("transaction_id"),
        col("amount").cast("double"),
        (flag(CoreFeatures.isNight(ts), Night) + flag(CoreFeatures.isWeekend(ts), Weekend) +
          flag(CoreFeatures.isBusinessHours(ts), Business)).as("flags"),
        col("merchant_id").cast("string"),
        col("ip_address").cast("string"))
      .repartition(col("customer_id"))
      .sortWithinPartitions(col("customer_id"), col("tm"), col("transaction_id"))
    val schema = outputSchema(tx.schema)
    val keyType = schema(1).dataType
    val txType = schema(0).dataType
    // the kernel splits customers where consecutive keys differ by equals
    require(keyType match {
      case _: StringType | _: DecimalType | LongType | IntegerType | ShortType | ByteType |
          DateType | TimestampType => true
      case _ => false
    }, s"fullView: unsupported customer_id type ${keyType.simpleString}")
    val rows = prepared.queryExecution.toRdd.mapPartitions(it => new Kernel(it, keyType, txType, schema))
    ColumnBridge.internalCreateDataFrame(tx.sparkSession, rows, schema)
  }

  private def outputSchema(in: StructType): StructType = {
    val feats = for {
      (wName, _) <- FeatureViews.windows6
      kind <- FeatureViews.kinds
    } yield kind.name match {
      case "txn_count_%s" | "unique_merchants_%s" | "unique_ips_%s" =>
        StructField(kind.featureName(wName), LongType, nullable = false)
      case "std_txn_amount_%s" => StructField(kind.featureName(wName), DoubleType, nullable = false)
      case _ => StructField(kind.featureName(wName), DoubleType)
    }
    StructType(in("transaction_id") +: in("customer_id") +: feats)
  }

  /** Monotonic deque of buffer positions. */
  private final class Deque {
    private var a = new Array[Long](16)
    private var h = 0
    private var t = 0
    def isEmpty: Boolean = h == t
    def first: Long = a(h)
    def last: Long = a(t - 1)
    def dropFirst(): Unit = h += 1
    def dropLast(): Unit = t -= 1
    def push(p: Long): Unit = {
      if (t == a.length) {
        val n = t - h
        a = java.util.Arrays.copyOfRange(a, h, h + (if (h * 2 >= a.length) a.length else a.length * 2))
        h = 0; t = n
      }
      a(t) = p; t += 1
    }
  }

  /** The buffered events' string values as dense ids; an id is freed
    * once no buffered event holds its value, so the dictionary is bounded
    * by the widest frame.
    */
  private final class Dict {
    private val ids = new java.util.HashMap[UTF8String, Integer]()
    private var values = new Array[UTF8String](64)
    private var refs = new Array[Int](64)
    private var free = new Array[Int](64)
    private var nFree = 0
    private var next = 0

    /** The id of `v` (-1 for null), held once more. */
    def acquire(v: UTF8String): Int = if (v == null) -1 else {
      val known = ids.get(v)
      val id = if (known != null) known.intValue else {
        val id = if (nFree > 0) { nFree -= 1; free(nFree) } else {
          if (next == values.length) {
            values = java.util.Arrays.copyOf(values, next * 2)
            refs = java.util.Arrays.copyOf(refs, next * 2)
            free = java.util.Arrays.copyOf(free, next * 2)
          }
          next += 1; next - 1
        }
        val own = v.clone() // input rows are reused
        values(id) = own
        ids.put(own, id)
        id
      }
      refs(id) += 1
      id
    }

    def release(id: Int): Unit = if (id >= 0) {
      refs(id) -= 1
      if (refs(id) == 0) {
        ids.remove(values(id))
        values(id) = null
        free(nFree) = id; nFree += 1
      }
    }
  }

  /** Distinct count of the dictionary ids inside one frame. */
  private final class Distinct {
    private var counts = new Array[Int](64)
    var size = 0L
    def add(id: Int): Unit = if (id >= 0) {
      if (id >= counts.length) counts = java.util.Arrays.copyOf(counts, math.max(id + 1, counts.length * 2))
      if (counts(id) == 0) size += 1
      counts(id) += 1
    }
    def remove(id: Int): Unit = if (id >= 0) {
      counts(id) -= 1
      if (counts(id) == 0) size -= 1
    }
  }

  /** One partition, sorted by (customer_id, tm, transaction_id), in; one
    * reused output row per event out (RDDScanExec projects each row
    * before it asks for the next).
    */
  private final class Kernel(in: Iterator[InternalRow], keyType: DataType, txType: DataType,
      schema: StructType) extends Iterator[InternalRow] {
    private val out = new SpecificInternalRow(schema.map(_.dataType))
    private val nKinds = FeatureViews.kinds.length

    // events, oldest first, at positions [base, end) that only grow, across
    // customers too; the array index of position p is p - base. Positions
    // below `live` are in no frame.
    private var base = 0L
    private var live = 0L
    private var end = 0L
    private var tm = new Array[Long](256)
    private var amount = new Array[Double](256)
    private var hasAmount = new Array[Boolean](256)
    private var flags = new Array[Int](256)
    private var merchant = new Array[Int](256)
    private var ip = new Array[Int](256)
    private val merchants = new Dict
    private val ips = new Dict
    private val wins = FeatureViews.windows6.map(w => new Win(w._2)).toArray
    private val widest = wins.maxBy(_.secs)

    private var key: Any = NoKey
    private var ahead: InternalRow = null // first row of the next run
    private val runTx = new scala.collection.mutable.ArrayBuffer[Any]
    private var emitted = 0

    def hasNext: Boolean = emitted < runTx.length || ahead != null || in.hasNext

    def next(): InternalRow = {
      if (emitted == runTx.length) readRun()
      out.update(0, runTx(emitted))
      emitted += 1
      out
    }

    private def sameKey(r: InternalRow): Boolean =
      if (r.isNullAt(0)) key == null else key != null && r.get(0, keyType) == key

    private def timeOf(r: InternalRow): Long = if (r.isNullAt(1)) NullTime else r.getLong(1)

    /** Adds the next tie-run, evicts, and writes its shared features. */
    private def readRun(): Unit = {
      var r = if (ahead != null) ahead else in.next()
      ahead = null
      if (!sameKey(r)) startKey(r)
      val t = timeOf(r)
      runTx.clear()
      while (r != null) {
        append(r)
        runTx += InternalRow.copyValue(r.get(2, txType))
        r = if (in.hasNext) in.next() else null
        if (r != null && (!sameKey(r) || timeOf(r) != t)) { ahead = r; r = null }
      }
      evictThrough(t)
      var w = 0
      while (w < wins.length) { wins(w).write(2 + w * nKinds); w += 1 }
      emitted = 0
    }

    /** A new customer starts on empty frames: evict all of the last one. */
    private def startKey(r: InternalRow): Unit = {
      key = if (r.isNullAt(0)) null else InternalRow.copyValue(r.get(0, keyType))
      out.update(1, key)
      evictThrough(Long.MaxValue)
    }

    /** Evicts through `t` in every window, then frees the dictionary ids
      * of the events that left the widest frame, and so every frame.
      */
    private def evictThrough(t: Long): Unit = {
      var w = 0
      while (w < wins.length) { wins(w).evictThrough(t); w += 1 }
      while (live < widest.start) {
        val i = (live - base).toInt
        merchants.release(merchant(i))
        ips.release(ip(i))
        live += 1
      }
    }

    private def append(r: InternalRow): Unit = {
      if (end - base == tm.length) makeRoom()
      val i = (end - base).toInt
      tm(i) = timeOf(r)
      hasAmount(i) = !r.isNullAt(3)
      amount(i) = if (hasAmount(i)) r.getDouble(3) else 0.0
      flags(i) = r.getInt(4)
      merchant(i) = merchants.acquire(if (r.isNullAt(5)) null else r.getUTF8String(5))
      ip(i) = ips.acquire(if (r.isNullAt(6)) null else r.getUTF8String(6))
      var w = 0
      while (w < wins.length) { wins(w).add(end); w += 1 }
      end += 1
    }

    /** Drops the positions below `live`; grows the arrays when that frees
      * less than half of them.
      */
    private def makeRoom(): Unit = {
      val from = (live - base).toInt
      val to = from + (if (from * 2 >= tm.length) tm.length else tm.length * 2)
      tm = java.util.Arrays.copyOfRange(tm, from, to)
      amount = java.util.Arrays.copyOfRange(amount, from, to)
      hasAmount = java.util.Arrays.copyOfRange(hasAmount, from, to)
      flags = java.util.Arrays.copyOfRange(flags, from, to)
      merchant = java.util.Arrays.copyOfRange(merchant, from, to)
      ip = java.util.Arrays.copyOfRange(ip, from, to)
      base = live
    }

    private def amountAt(p: Long): Double = amount((p - base).toInt)

    /** One window's frame [start, end) over the customer's buffer. */
    private final class Win(val secs: Long) {
      private val span = secs * 1000000L
      private val perMinute = secs / 60.0
      var start = 0L
      private var rows = 0L
      private var night = 0L
      private var weekend = 0L
      private var business = 0L
      private val merchantIds = new Distinct
      private val ipIds = new Distinct
      private val maxq = new Deque
      private val minq = new Deque
      // the Sum and Welford folds over the frame's amounts before `folded`
      private var folded = 0L
      private var evicted = false
      private var sum = 0.0
      private var n = 0.0
      private var mean = 0.0
      private var m2 = 0.0

      def add(p: Long): Unit = {
        val i = (p - base).toInt
        rows += 1
        val f = flags(i)
        if ((f & Night) != 0) night += 1
        if ((f & Weekend) != 0) weekend += 1
        if ((f & Business) != 0) business += 1
        merchantIds.add(merchant(i))
        ipIds.add(ip(i))
        if (hasAmount(i)) {
          val x = amount(i)
          while (!maxq.isEmpty && compareDoubles(x, amountAt(maxq.last)) > 0) maxq.dropLast()
          maxq.push(p)
          while (!minq.isEmpty && compareDoubles(x, amountAt(minq.last)) < 0) minq.dropLast()
          minq.push(p)
        }
      }

      /** Evicts the events at or before `t - W` (strict left edge). */
      def evictThrough(t: Long): Unit = if (t != NullTime) {
        val cutoff = t - span
        while (start < end && tm((start - base).toInt) <= cutoff) {
          val i = (start - base).toInt
          rows -= 1
          val f = flags(i)
          if ((f & Night) != 0) night -= 1
          if ((f & Weekend) != 0) weekend -= 1
          if ((f & Business) != 0) business -= 1
          merchantIds.remove(merchant(i))
          ipIds.remove(ip(i))
          if (!maxq.isEmpty && maxq.first == start) maxq.dropFirst()
          if (!minq.isEmpty && minq.first == start) minq.dropFirst()
          start += 1
          evicted = true
        }
      }

      /** The frame's 12 features at `o`, in [[FeatureViews.kinds]] order. */
      def write(o: Int): Unit = {
        if (evicted) {
          folded = start; evicted = false
          sum = 0.0; n = 0.0; mean = 0.0; m2 = 0.0
        }
        while (folded < end) {
          val i = (folded - base).toInt
          if (hasAmount(i)) {
            val x = amount(i)
            sum += x
            val n1 = n + 1.0
            val delta = x - mean
            val deltaN = delta / n1
            mean += deltaN
            m2 += delta * (delta - deltaN)
            n = n1
          }
          folded += 1
        }
        val count = rows.toDouble
        out.setLong(o, rows)
        if (n == 0.0) {
          out.setNullAt(o + 1); out.setNullAt(o + 2); out.setNullAt(o + 3); out.setNullAt(o + 4)
          out.setDouble(o + 5, 0.0)
        } else {
          out.setDouble(o + 1, sum)
          out.setDouble(o + 2, sum / n)
          out.setDouble(o + 3, amountAt(maxq.first))
          out.setDouble(o + 4, amountAt(minq.first))
          out.setDouble(o + 5, math.sqrt(m2 / n))
        }
        out.setLong(o + 6, merchantIds.size)
        out.setLong(o + 7, ipIds.size)
        out.setDouble(o + 8, count / perMinute)
        out.setDouble(o + 9, night / count)
        out.setDouble(o + 10, weekend / count)
        out.setDouble(o + 11, business / count)
      }
    }
  }
}
