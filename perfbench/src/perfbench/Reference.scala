package perfbench

import java.time.{Instant, ZoneOffset}

/** Brute-force reference computations, written in plain Scala apart from
  * the program. Every check compares the program's output with these.
  */
object Reference {
  import Gen.Tx

  // ---- numeric comparison ----

  def close(a: Double, b: Double, rel: Double = 1e-9): Boolean =
    a == b || math.abs(a - b) <= rel * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  // ---- calendar predicates (session time zone is UTC) ----

  private def hour(ts: Long): Int =
    Instant.ofEpochSecond(Math.floorDiv(ts, 1000000L)).atZone(ZoneOffset.UTC).getHour
  def isNight(ts: Long): Boolean = { val h = hour(ts); h < 6 || h > 22 }
  def isWeekend(ts: Long): Boolean =
    Instant.ofEpochSecond(Math.floorDiv(ts, 1000000L)).atZone(ZoneOffset.UTC)
      .getDayOfWeek.getValue >= 6
  def isBusiness(ts: Long): Boolean = { val h = hour(ts); h >= 9 && h <= 17 }

  /** Events of one key inside the trailing frame (t - secs, t], same-time
    * peers included (a range frame).
    */
  def frame(events: Seq[Tx], t: Long, secs: Long): Seq[Tx] =
    events.filter(e => e.ts <= t && e.ts > t - secs * 1000000L)

  private def stdPop(xs: Seq[Double]): Double =
    if (xs.size <= 1) 0.0
    else { val m = xs.sum / xs.size; math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size) }

  private def ratio(f: Seq[Tx], p: Long => Boolean): Double =
    f.count(e => p(e.ts)).toDouble / f.size

  /** The 12-kind x 6-window full view (names as the program emits them). */
  val windows6: Seq[(String, Long)] = Seq("1m" -> 60L, "5m" -> 300L,
    "15m" -> 900L, "1h" -> 3600L, "6h" -> 21600L, "24h" -> 86400L)

  def fullView(keyEvents: Seq[Tx], e: Tx): Map[String, Double] =
    windows6.flatMap { case (w, secs) =>
      val f = frame(keyEvents, e.ts, secs)
      val amts = f.map(_.amount)
      Seq(
        s"txn_count_$w" -> f.size.toDouble,
        s"txn_amount_sum_$w" -> amts.sum,
        s"avg_txn_amount_$w" -> amts.sum / amts.size,
        s"max_txn_amount_$w" -> amts.max,
        s"min_txn_amount_$w" -> amts.min,
        s"std_txn_amount_$w" -> stdPop(amts),
        s"unique_merchants_$w" -> f.map(_.merchant).distinct.size.toDouble,
        s"unique_ips_$w" -> f.map(_.ip).distinct.size.toDouble,
        s"velocity_score_$w" -> f.size / (secs / 60.0),
        s"night_txn_ratio_$w" -> ratio(f, isNight),
        s"weekend_txn_ratio_$w" -> ratio(f, isWeekend),
        s"business_hours_ratio_$w" -> ratio(f, isBusiness))
    }.toMap

  /** The customer view (the A1-A14 features and the risk model's inputs). */
  def customerView(keyEvents: Seq[Tx], e: Tx): Map[String, Double] = {
    val f1h = frame(keyEvents, e.ts, 3600)
    val a1h = f1h.map(_.amount)
    Map(
      "txn_amount_sum_60s" -> frame(keyEvents, e.ts, 60).map(_.amount).sum,
      "txn_amount_sum_5m" -> frame(keyEvents, e.ts, 300).map(_.amount).sum,
      "txn_amount_sum_1h" -> a1h.sum,
      "txn_count_60s" -> frame(keyEvents, e.ts, 60).size.toDouble,
      "txn_count_5m" -> frame(keyEvents, e.ts, 300).size.toDouble,
      "txn_count_10m" -> frame(keyEvents, e.ts, 600).size.toDouble,
      "txn_count_1h" -> f1h.size.toDouble,
      "unique_ips_1h" -> f1h.map(_.ip).distinct.size.toDouble,
      "unique_merchants_1h" -> f1h.map(_.merchant).distinct.size.toDouble,
      "velocity_score_1h" -> f1h.size / 60.0,
      "amount_deviation_score_1h" -> stdPop(a1h),
      "night_txn_count_24h" -> frame(keyEvents, e.ts, 86400).count(x => isNight(x.ts)).toDouble,
      "weekend_txn_count_7d" -> frame(keyEvents, e.ts, 604800).count(x => isWeekend(x.ts)).toDouble,
      "avg_txn_amount_1h" -> a1h.sum / a1h.size,
      "max_txn_amount_1h" -> a1h.max)
  }

  def merchantView(merchantEvents: Seq[Tx], e: Tx): Map[String, Double] = {
    val f = frame(merchantEvents, e.ts, 3600)
    Map(
      "merchant_txn_count_1h" -> f.size.toDouble,
      "merchant_txn_amount_sum_1h" -> f.map(_.amount).sum,
      "merchant_avg_txn_amount_1h" -> f.map(_.amount).sum / f.size,
      "merchant_unique_customers_1h" -> f.map(_.customer).distinct.size.toDouble)
  }

  /** Point-in-time features of a probe at `t`: only events at or before t. */
  def asOf(keyEvents: Seq[Tx], t: Long, windows: Seq[(String, Long)]): Map[String, Double] =
    windows.flatMap { case (w, secs) =>
      val f = frame(keyEvents, t, secs)
      Seq(s"txn_count_$w" -> f.size.toDouble, s"txn_amount_sum_$w" -> f.map(_.amount).sum)
    }.toMap

  // ---- the reference's risk model (api/main.py /predict) ----

  /** (feature, weight, normalizer), in the reference's order. */
  val riskModel: Seq[(String, Double, Double)] = Seq(
    ("txn_amount_sum_60s", 0.15, 10000.0), ("txn_amount_sum_5m", 0.12, 25000.0),
    ("txn_amount_sum_1h", 0.10, 50000.0), ("txn_count_60s", 0.08, 10.0),
    ("txn_count_5m", 0.07, 20.0), ("txn_count_10m", 0.06, 30.0),
    ("txn_count_1h", 0.05, 50.0), ("unique_ips_1h", 0.20, 5.0),
    ("unique_merchants_1h", 0.05, 10.0), ("velocity_score_1h", 0.12, 2.0),
    ("amount_deviation_score_1h", 0.08, 5000.0), ("night_txn_count_24h", 0.06, 5.0),
    ("weekend_txn_count_7d", 0.03, 10.0), ("avg_txn_amount_1h", 0.03, 5000.0))

  case class Risk(score: Double, level: String, explanation: Seq[String],
      /** true when the level or explanation sits within rounding of a cut. */
      ambiguous: Boolean)

  def risk(f: Map[String, Double], amount: Double): Risk = {
    val contrib = riskModel.map { case (n, w, norm) => n -> math.min(f(n) / norm, 1.0) * w }
    val boosts =
      (if (amount > 10000) 0.3 else if (amount > 5000) 0.15 else 0.0) +
        (if (f("unique_ips_1h") > 3) 0.25 else 0.0) +
        (if (f("velocity_score_1h") > 1.5) 0.2 else 0.0) +
        (if (f("amount_deviation_score_1h") > 3000) 0.15 else 0.0) +
        (if (f("night_txn_count_24h") > 3) 0.1 else 0.0)
    val score = math.min(math.max(contrib.map(_._2).sum + boosts, 0.0), 1.0)
    val level = if (score <= 0.3) "LOW" else if (score <= 0.6) "MEDIUM" else "HIGH"
    val ranked = contrib.sortBy { case (n, c) => (-c, n) }
    val top = ranked.take(3).filter(_._2 > 0.05).map(_._1)
    val eps = 1e-9
    val nearCut = Seq(0.3, 0.6).exists(c => math.abs(score - c) < eps) ||
      ranked.take(3).exists(x => math.abs(x._2 - 0.05) < eps) ||
      (ranked.size > 3 && math.abs(ranked(2)._2 - ranked(3)._2) < eps && ranked(2)._2 > 0.05)
    Risk(score, level, top, nearCut)
  }

  // ---- text: shingles, Jaccard, SimHash ----

  def tokens(t: String): Array[String] =
    t.toLowerCase.split("[ \t\n\u000b\f\r]+").filter(_.nonEmpty)

  /** Distinct word n-gram shingles of a document. */
  def shingles(t: String, n: Int): Set[String] = {
    val tk = tokens(t)
    if (tk.length < n) Set.empty
    else tk.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val i = a.intersect(b).size
    if (i == 0) 0.0 else i.toDouble / (a.size + b.size - i)
  }

  /** 32-bit SimHash: bit j is set when more tokens (with multiplicity)
    * have bit j set in their hash (the first four md5 bytes, big-endian)
    * than not. None for a document without tokens.
    */
  def simhash32(t: String): Option[Long] = {
    val tk = tokens(t)
    if (tk.isEmpty) None
    else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val votes = new Array[Int](32)
      tk.foreach { w =>
        val d = md.digest(w.getBytes("UTF-8"))
        val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
        for (j <- 0 until 32) votes(j) += (if (((h >>> j) & 1L) == 1L) 1 else -1)
      }
      Some((0 until 32).foldLeft(0L)((fp, j) => if (votes(j) > 0) fp | (1L << j) else fp))
    }
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
