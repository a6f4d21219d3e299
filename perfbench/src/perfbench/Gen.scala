package perfbench

import scala.util.Random

/** The benchmark's own seeded input generator. It shares no code with the
  * program (not `graft.sources.Generator`), so a change to the program
  * cannot change what is measured: the same `--seed` always gives the same
  * rows, requests, micro-batches and corpus shards.
  */
object Gen {
  /** 2024-01-01T00:00:00Z, a Monday, in epoch micros. */
  val T0: Long = 1704067200L * 1000000L
  val HourUs: Long = 3600L * 1000000L
  val DayUs: Long = 24L * HourUs

  /** The reference's offline data set (50,000 transactions, 1,000
    * customers, 500 merchants, 30 days) with its producer's key skew (30%
    * of transactions from 100 customers).
    */
  object Offline {
    val N = 50000; val Customers = 1000; val Merchants = 500
    val Span: Long = 30 * DayUs
    val Hot = 100; val HotShare = 0.3
  }

  /** Independent stream per (seed, purpose). */
  def rng(seed: Long, stream: Long): Random =
    new Random(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L)

  case class Tx(id: Long, customer: Long, merchant: String, amount: Double,
      ip: String, ts: Long)

  /** Skewed customer draw: `hotShare` of the draws go to `hot` keys
    * (ids 0 until hot), the rest spread uniformly over the others.
    */
  def customer(r: Random, customers: Int, hot: Int, hotShare: Double): Long =
    if (r.nextDouble() < hotShare) r.nextInt(hot).toLong
    else (hot + r.nextInt(customers - hot)).toLong

  /** Amounts: mostly small, a tail above the 5k/10k boost thresholds, and
    * a few refunds; two decimals like card data.
    */
  def amount(r: Random): Double = {
    val u = r.nextDouble()
    val a =
      if (u < 0.03) -(1 + r.nextInt(20000)) / 100.0
      else if (u < 0.08) 5000 + r.nextInt(1000000) / 100.0
      else math.exp(r.nextGaussian() * 1.2 + 4.0)
    math.round(a * 100) / 100.0
  }

  def merchant(r: Random, merchants: Int): String = s"m${r.nextInt(merchants)}"

  /** Each customer owns a few addresses; a draw picks one of them. */
  def ip(r: Random, customer: Long): String =
    s"10.${customer % 250}.${(customer / 250) % 250}.${r.nextInt(3)}"

  /** Transactions at whole-second times (so hot keys have same-time
    * peers) in [start, start + span).
    */
  def transactions(seed: Long, stream: Long, n: Int, customers: Int, hot: Int,
      hotShare: Double, merchants: Int, start: Long, span: Long): Array[Tx] = {
    val r = rng(seed, stream)
    Array.tabulate(n) { i =>
      val c = customer(r, customers, hot, hotShare)
      val ts = start + (r.nextLong() & Long.MaxValue) % (span / 1000000L) * 1000000L
      Tx(i.toLong + 1, c, merchant(r, merchants), amount(r), ip(r, c), ts)
    }
  }

  // ---- corpus ----

  private val syllables = Array("ka", "lo", "mi", "re", "tu", "sa", "ne", "vo",
    "pi", "da", "gu", "ze", "fo", "ri", "be", "cha", "ost", "ul", "im", "ex")

  /** A fixed 6000-word vocabulary (independent of the seed). */
  val vocab: Array[String] = {
    val r = new Random(7)
    Array.tabulate(6000) { i =>
      val k = 2 + r.nextInt(3)
      (0 until k).map(_ => syllables(r.nextInt(syllables.length))).mkString + (i % 10)
    }
  }

  /** Zipf(0.9) rank sampler over the vocabulary via a cumulative table. */
  private val zipfCdf: Array[Double] = {
    val w = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9)).toArray
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total)
  }

  def word(r: Random): String = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(zipfCdf, u)
    vocab(math.min(if (i >= 0) i else -i - 1, vocab.length - 1))
  }

  def text(r: Random): String =
    Seq.fill(30 + r.nextInt(50))(word(r)).mkString(" ")

  /** The same tokens after lower-casing and whitespace splitting, written
    * differently: random upper-casing and doubled spaces/tabs. Shingles
    * and SimHash see an identical document.
    */
  def recase(r: Random, t: String): String =
    t.split(' ').map { w =>
      val c = if (r.nextBoolean()) w.toUpperCase else w.capitalize
      c + (if (r.nextInt(4) == 0) "\t " else " ")
    }.mkString.trim
}
