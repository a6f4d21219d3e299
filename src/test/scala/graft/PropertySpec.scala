package graft

import graft.ops.Distribution
import graft.streaming.{CustomerFeatureProcessor, StreamTxn}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

/** Property tests (SURVEY §5.2): the streaming per-event computation is
  * checked against Spark's batch range-frame windows on RANDOM event
  * sequences, and the distribution aggregates respect their mathematical
  * bounds.
  */
class PropertySpec extends AnyFunSuite {
  /** deterministic scalacheck sampling (scalatestplus bridge not on the
    * offline classpath) */
  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).map(i => g.apply(Gen.Parameters.default, Seed(42L + i)).get)
  lazy val spark = Session.local(4)

  import spark.implicits._

  private val txnGen: Gen[StreamTxn] = for {
    cust <- Gen.choose(1L, 3L)
    ts <- Gen.choose(0L, 7200L * 1000000) // 2 h span, microsecond ts
    amount <- Gen.choose(1, 100000).map(_ / 100.0)
    merch <- Gen.oneOf("m1", "m2", "m3")
    ip <- Gen.oneOf("a", "b", "c", "d")
  } yield StreamTxn(cust, ts, amount, merch, ip)

  test("per-event feature math == batch range-frame windows on random sequences") {
    samples(Gen.listOfN(60, txnGen), 20).foreach { txns =>
      {
        val sorted = txns.sortBy(t => (t.ts_micros, t.amount)).toArray
        // streaming-processor math, all events known (single batch)
        val perKey = sorted.groupBy(_.customer_id)
        val streamed = sorted.map { e =>
          val f = CustomerFeatureProcessor.features(e, perKey(e.customer_id))
          ((f.customer_id, f.ts_micros, f.amount),
            (f.txn_count_1h, math.round(f.txn_amount_sum_1h * 1e6), f.unique_ips_1h))
        }.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        // batch windows
        val w = graft.ops.Trailing.spec(col("customer_id"), timestamp_micros(col("ts_micros")))
        val batch = sorted.toSeq.toDF()
          .select(col("customer_id"), col("ts_micros"), col("amount"),
            graft.ops.CoreFeatures.txnCount(w, 3600).as("c"),
            graft.ops.CoreFeatures.amountSum(col("amount"), w, 3600).as("s"),
            graft.ops.CoreFeatures.distinctOver(col("ip_address"), w, 3600).as("u"))
          .collect()
          .map(r => ((r.getLong(0), r.getLong(1), r.getDouble(2)),
            (r.getLong(3), math.round(r.getDouble(4) * 1e6), r.getLong(5))))
          .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
        assert(streamed == batch)
      }
    }
  }

  test("prefix-sum/binary-search batch path == per-event feature math on random sequences") {
    samples(Gen.listOfN(60, txnGen), 20).foreach { txns =>
      val sorted = txns.sortBy(_.ts_micros).toArray
      sorted.groupBy(_.customer_id).foreach { case (_, evs) =>
        val fast = CustomerFeatureProcessor.featuresBatch(evs, evs).toSeq
        val slow = evs.toSeq.map(e => CustomerFeatureProcessor.features(e, evs))
        assert(fast == slow) // bit-exact, including the float aggregates
      }
    }
  }

  test("the ACTUAL transformWithState operator == batch windows on random sequences") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    samples(Gen.listOfN(80, txnGen), 3).foreach { txns =>
      val sorted = txns.sortBy(_.ts_micros).toIndexedSeq
      // split on a timestamp boundary: RANGE frames include peers, so
      // same-ts events must not straddle micro-batches
      val splitTs = sorted(sorted.length / 2).ts_micros
      val (b1, b2) = sorted.partition(_.ts_micros <= splitTs)
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[StreamTxn]
      val qname = s"prop_${math.abs(txns.hashCode)}"
      val query = graft.streaming.StreamingFeatures.customerFeatures(input.toDS())
        .writeStream.format("memory").queryName(qname).outputMode("append").start()
      try {
        input.addData(b1); query.processAllAvailable()
        input.addData(b2); query.processAllAvailable()
      } finally query.stop()
      val streamed = spark.table(qname)
        .select(col("customer_id"), col("ts_micros"), col("amount"),
          col("txn_count_1h"), round(col("txn_amount_sum_1h"), 6).as("s"), col("unique_ips_1h"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)) -> (r.getLong(3), r.getDouble(4), r.getLong(5)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      val w = graft.ops.Trailing.spec(col("customer_id"), timestamp_micros(col("ts_micros")))
      val batch = sorted.toDF()
        .select(col("customer_id"), col("ts_micros"), col("amount"),
          graft.ops.CoreFeatures.txnCount(w, 3600).as("c"),
          round(graft.ops.CoreFeatures.amountSum(col("amount"), w, 3600), 6).as("s"),
          graft.ops.CoreFeatures.distinctOver(col("ip_address"), w, 3600).as("u"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)) -> (r.getLong(3), r.getDouble(4), r.getLong(5)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sorted).toMap
      assert(streamed == batch)
    }
  }

  test("gini in [0,1), entropy <= log2(buckets), hhi in (0,1]") {
    samples(Gen.listOfN(40, txnGen), 10).foreach { txns =>
      {
        val df = txns.toDF()
        val g = Distribution.gini(df, col("customer_id"), col("amount"), col("ts_micros"))
          .collect().map(_.getDouble(1))
        assert(g.forall(x => x >= 0.0 && x < 1.0), g.mkString(","))
        val e = Distribution.entropy(df, col("customer_id"), col("merchant_id"), "e")
          .collect().map(_.getDouble(1))
        assert(e.forall(x => x >= 0.0 && x <= math.log(3) / math.log(2) + 1e-9), e.mkString(","))
        val h = Distribution.hhi(df, col("customer_id"), col("merchant_id"), "h")
          .collect().map(_.getDouble(1))
        assert(h.forall(x => x > 0.0 && x <= 1.0 + 1e-9), h.mkString(","))
      }
    }
  }

  test("trigram kernel == JVM reference on random multi-byte strings") {
    import org.apache.spark.unsafe.types.UTF8String
    // reference model: Java regex + String ops, code-point trigrams
    def ref(s0: String): (Int, Int) = {
      val t = s0.toLowerCase.replaceAll("\\s+", " ")
      val cps = t.codePoints().toArray
      if (cps.length < 3) (0, 0)
      else {
        val tris = cps.sliding(3).map(_.toSeq).toSeq
        (tris.length, tris.distinct.length)
      }
    }
    // generate over CODE POINTS (1/2/3/4-byte UTF-8) so no invalid lone
    // surrogates arise — parquet never carries those
    val cpGen = Gen.oneOf(Seq('a'.toInt, 'b'.toInt, 'c'.toInt, 'd'.toInt,
      ' '.toInt, '\t'.toInt, '\n'.toInt, 0xc9 /* É */, 0x4e8c /* 二 */,
      0x1f600 /* 4-byte emoji */))
    val strGen = Gen.choose(0, 50).flatMap(n =>
      Gen.listOfN(n, cpGen).map(l => new String(l.toArray, 0, l.length)))
    samples(strGen, 300).foreach { s0 =>
      val packed = graft.functions.TrigramKernel.compute(UTF8String.fromString(s0))
      val got = ((packed >>> 32).toInt, (packed & 0xffffffffL).toInt)
      assert(got == ref(s0), s"text=[$s0]")
    }
  }

  test("winnow kernel == naive per-window minimum on random strings") {
    import org.apache.spark.unsafe.types.UTF8String
    val k = 5; val w = 3
    def md5Int(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) | ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    val strGen = Gen.choose(0, 40).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf(('a' to 'e') ++ Seq(' ', '\u4e8c'))).map(_.mkString))
    samples(strGen, 200).foreach { s0 =>
      val out = graft.functions.WinnowKernel.compute(UTF8String.fromString(s0), k, w)
      val grams = s0.sliding(k).filter(_.length == k).map(md5Int).toArray
      val expected = grams.sliding(w).filter(_.length == w).map(_.min).toSet
      assert(out.toLongArray().toSet == expected, s"text=[$s0]")
    }
  }

  test("gram-derived dimension corr == Spark's corr aggregate on random vectors") {
    val vecGen = Gen.listOfN(4, Gen.choose(-1000, 1000).map(_ / 100.0f))
    val corpus = samples(vecGen, 80).map(v => Tuple1(v.toArray)).toDF("embedding")
      .repartition(5) // exercise partial-buffer merges
    val got = graft.scale.Similarity.dimCorrPairs(corpus).collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val asCols = corpus.select((0 until 4).map(i =>
      element_at(col("embedding"), i + 1).cast("double").as(s"x$i")): _*)
    for (i <- 0 until 4; j <- i + 1 until 4) {
      val exp = asCols.agg(corr(col(s"x$i"), col(s"x$j"))).head.getDouble(0)
      assert(math.abs(got((i, j)) - exp) < 1e-9, s"pair ($i,$j)")
    }
  }

  test("repetitionStats == brute-force token math on random multi-byte strings") {
    val strGen = Gen.choose(1, 30).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("aa", "b", "ccc", "二二", "dd")).map(_.mkString(" ")))
    val docs = samples(strGen, 120).zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val got = graft.scale.TextOps.repetitionStats(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4), r.getDouble(5))).toMap
    for ((id, text) <- docs) {
      val toks = text.split("\\s+").filter(_.nonEmpty)
      val n = toks.length.toLong
      val uniq = toks.distinct.length.toLong
      val chars = toks.map(_.length).sum.toDouble
      val topUni = toks.groupBy(identity).map { case (w, o) => o.length * w.length }.max
      val bis = toks.sliding(2).filter(_.length == 2).map(_.mkString(" ")).toSeq
      val topBi = if (bis.isEmpty) 0.0
        else bis.groupBy(identity).map { case (g, o) => o.length * (g.length - 1) }.max.toDouble
      val (gn, gu, gd, gt, gb) = got(id)
      assert(gn == n && gu == uniq, s"doc $id")
      assert(math.abs(gd - (n - uniq).toDouble / n) < 1e-12, s"doc $id dup")
      assert(math.abs(gt - topUni / chars) < 1e-12, s"doc $id topuni")
      assert(math.abs(gb - topBi / chars) < 1e-12, s"doc $id topbi")
    }
  }

  test("stump candidates == brute-force split evaluation on random data") {
    val rowGen = for {
      x <- Gen.choose(0, 8).map(_.toDouble)
      y <- Gen.choose(0, 1)
    } yield (x, y)
    samples(Gen.listOfN(50, rowGen), 10).foreach { rows =>
      val df = rows.toDF("x", "y")
      val got = graft.scoring.Models.stumpCandidates(df, Seq("x"), col("y"))
        .collect().map(r => r.getDouble(1) ->
          (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getDouble(6))).toMap
      val n = rows.size
      val tp = rows.count(_._2 == 1)
      def gini(p: Long, m: Long): Double = {
        val q = p.toDouble / m; 1.0 - q * q - (1.0 - q) * (1.0 - q)
      }
      val thresholds = rows.map(_._1).distinct.sorted.dropRight(1)
      assert(got.keySet == thresholds.toSet, s"candidate set mismatch")
      thresholds.foreach { t =>
        val left = rows.filter(_._1 <= t)
        val (nl, pl) = (left.size.toLong, left.count(_._2 == 1).toLong)
        val (gnl, gpl, gnr, gpr, gg) = got(t)
        assert(gnl == nl && gpl == pl && gnr == n - nl && gpr == tp - pl, s"t=$t counts")
        val want = gini(pl, nl) * nl / n + gini(tp - pl, n - nl) * (n - nl) / n
        assert(math.abs(gg - want) < 1e-12, s"t=$t gini $gg vs $want")
      }
    }
  }

  test("naive bayes delta == direct formula on random categorical data") {
    val rowGen = for {
      a <- Gen.choose(0, 3)
      b <- Gen.choose(0, 2)
      y <- Gen.choose(0, 1)
    } yield (a, b, y)
    samples(Gen.listOfN(80, rowGen), 10).foreach { rows =>
      // ensure both classes present (delta undefined otherwise)
      val both = if (rows.map(_._3).distinct.size == 2) rows
        else rows.take(rows.size - 2) ++ Seq((0, 0, 0), (1, 1, 1))
      val (tr, te) = both.splitAt(both.size * 3 / 4)
      val got = graft.scoring.Models.naiveBayesDelta(
          tr.toDF("a", "b", "y"), te.toDF("a", "b", "y"), Seq("a", "b"), col("y"))
        .select(col("a"), col("b"), col("delta")).collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
      val n1 = tr.count(_._3 == 1).toDouble
      val n0 = tr.size - n1
      def like(sel: ((Int, Int, Int)) => Int, v: Int, c: Int): Double =
        tr.count(r => sel(r) == v && r._3 == c).toDouble
      val (ka, kb) = (tr.map(_._1).distinct.size.toDouble, tr.map(_._2).distinct.size.toDouble)
      te.foreach { case (a, b, _) =>
        val want = math.log(n1 / n0) +
          math.log((like(_._1, a, 1) + 1) / (n1 + ka)) - math.log((like(_._1, a, 0) + 1) / (n0 + ka)) +
          math.log((like(_._2, b, 1) + 1) / (n1 + kb)) - math.log((like(_._2, b, 0) + 1) / (n0 + kb))
        assert(math.abs(got((a, b)) - want) < 1e-10, s"($a,$b): ${got((a, b))} vs $want")
      }
    }
  }

  test("markov NLL == brute-force transition replay on random sequences") {
    // dedupe (customer, ts) so the operator's (ts, txn_id) order and the
    // brute force's ts sort agree; txn ids from the index
    samples(Gen.listOfN(80, txnGen), 12).foreach { txns =>
      val uniq = txns.groupBy(t => (t.customer_id, t.ts_micros))
        .map(_._2.head).toSeq
      val tx = uniq.zipWithIndex.map { case (t, i) =>
        (t.customer_id, i.toLong, t.merchant_id, t.ts_micros)
      }.toDF("customer_id", "transaction_id", "merchant_id", "tsm")
        .withColumn("event_timestamp", timestamp_micros(col("tsm")))
      val got = graft.ops.AmlPatterns.markovNll(tx)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap

      // brute force: global transition counts, then per-customer mean NLL
      val ordered = uniq.groupBy(_.customer_id).view
        .mapValues(_.sortBy(_.ts_micros).map(_.merchant_id).toList).toMap
      val steps = ordered.values.flatMap(ms => ms.zip(ms.drop(1))).toSeq
      val trans = steps.groupBy(identity).view.mapValues(_.size.toLong).toMap
      val fromT = steps.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val v = uniq.map(_.merchant_id).distinct.size
      val expect = ordered.collect { case (c, ms) if ms.size >= 2 =>
        val nlls = ms.zip(ms.drop(1)).map { p =>
          -math.log((trans(p) + 1).toDouble / (fromT(p._1) + v)) }
        c -> (nlls.size.toLong, nlls.sum / nlls.size)
      }
      assert(got.keySet == expect.keySet)
      expect.foreach { case (c, (n, avg)) =>
        assert(got(c)._1 == n, s"customer $c")
        assert(math.abs(got(c)._2 - avg) < 1e-12, s"customer $c")
      }
    }
  }

  test("reconstruction error == brute-force residual; bounded by centered norm") {
    val vecGen = Gen.listOfN(8, Gen.choose(-1000, 1000).map(_ / 250.0f))
    samples(Gen.listOfN(12, vecGen), 8).foreach { vecs =>
      val df = vecs.map(v => Tuple1(v.toArray)).toDF("embedding")
      val c = graft.scale.Pca.topComponent(df, col("embedding"), iters = 4)
      val got = df.select(
        graft.scale.Pca.reconstructionError(col("embedding"), c).as("err"))
        .collect().map(_.getDouble(0))
      vecs.zip(got).foreach { case (x, err) =>
        val cen = x.map(_.toDouble).zip(c.means).map { case (a, m) => a - m }
        val norm2 = cen.map(d => d * d).sum
        val proj = cen.zip(c.loadings).map { case (a, l) => a * l }.sum
        assert(math.abs(err - (norm2 - proj * proj)) < 1e-6 * (1 + norm2),
          s"$err vs ${norm2 - proj * proj}")
        // loadings are 4dp-rounded so ||v|| = 1 ± 2e-4: the residual can
        // undershoot zero / overshoot the centered norm only by that band
        assert(err >= -2e-3 * (1 + norm2) && err <= norm2 * (1 + 2e-3) + 1e-9,
          s"err $err outside [0, $norm2] band")
      }
      // a wider bottleneck reconstructs at least as well (up to the
      // rounded-deflation band): err_k=2 <= err_k=1 everywhere
      val cs2 = graft.scale.Pca.topComponents(df, col("embedding"), k = 2, iters = 4)
      val got2 = df.select(
        graft.scale.Pca.reconstructionError(col("embedding"), cs2).as("err"))
        .collect().map(_.getDouble(0))
      got.zip(got2).foreach { case (e1, e2) =>
        assert(e2 <= e1 + 2e-3 * (1 + math.abs(e1)), s"k=2 err $e2 > k=1 err $e1")
      }
    }
  }

  test("bin report round-trip: token mass conserved, all bins but the last full") {
    // corpora INCLUDING empty docs; the caller contract (q169) filters
    // tok > 0 before binReport — the report must then conserve the token
    // total exactly and fill every bin but the last to binSize
    val tokGen = Gen.frequency(1 -> Gen.const(0L), 4 -> Gen.choose(1L, 150L))
    samples(Gen.listOfN(30, tokGen), 10).foreach { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "tok").where(col("tok") > 0)
      val total = toks.sum
      val rep = graft.scale.Packing.binReport(df, Seq(col("doc_id")), col("tok"), 64L)
        .orderBy(col("bin")).collect()
      if (total == 0) assert(rep.isEmpty)
      else {
        assert(rep.map(_.getLong(0)).sameElements(0L until (total + 63) / 64),
          "bins contiguous from 0")
        assert(rep.map(_.getAs[Long]("bin_tokens")).sum == total, "token mass conserved")
        rep.dropRight(1).foreach(r =>
          assert(r.getAs[Long]("bin_tokens") == 64L, s"bin ${r.getLong(0)} not full"))
        assert(rep.last.getAs[Long]("bin_tokens") ==
          (if (total % 64 == 0) 64L else total % 64))
        assert(rep.last.getAs[Long]("n_continuing") == 0L, "nothing continues past the end")
        rep.foreach(r => assert(r.getAs[Long]("n_contained") <= r.getAs[Long]("n_docs")))
      }
    }
  }

  test("bipartite LPA labels are invariant to input row order and partitioning") {
    // the q174 oracle replays LPA assuming the run is a pure function of
    // the EDGE SET — assert labels don't move when the input rows arrive
    // reversed and differently partitioned
    val edgeGen = for {
      c <- Gen.choose(1L, 12L)
      m <- Gen.choose(1, 6)
    } yield (c, s"m$m")
    samples(Gen.listOfN(40, edgeGen), 8).foreach { edges =>
      def run(rows: Seq[(Long, String)], parts: Int): Set[(Long, Long, Long)] =
        graft.ops.GraphOps.labelPropagation(
            rows.toDF("customer_id", "merchant_id").repartition(parts), rounds = 2)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(run(edges, 4) == run(edges.reverse, 2))
    }
  }

  test("packing placements == sequential fold on random token lists") {
    val tokGen = Gen.choose(1L, 500L)
    samples(Gen.listOfN(40, tokGen), 10).foreach { toks =>
      val df = toks.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "tok")
      val got = graft.scale.Packing.placements(df, Seq(col("doc_id")), col("tok"), 128L)
        .orderBy(col("doc_id"))
        .select(col("start_off"), col("end_off"), col("first_bin"), col("last_bin"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      var off = 0L
      toks.zipWithIndex.foreach { case (t, i) =>
        val (s, e, fb, lb) = got(i)
        assert(s == off && e == off + t, s"doc $i offsets")
        assert(fb == off / 128 && lb == (off + t - 1) / 128, s"doc $i bins")
        off += t
      }
    }
  }

  // random "documents": words (with digits), PII-shaped fragments,
  // punctuation, repeated runs — the adversarial surface for the
  // round-12 curation operators
  private val docTextGen: Gen[String] = {
    val word = Gen.oneOf("the", "cat", "ab1", "x", "12", "payment", "risk")
    val pii = Gen.oneOf("a@b.co", "10.0.0.1", "555-123-4567", "123456789012",
      "55-12", "1.2.3", "12345678")
    val tok = Gen.frequency(6 -> word, 2 -> pii, 1 -> Gen.const("!!"))
    for {
      n <- Gen.choose(0, 40)
      toks <- Gen.listOfN(n, tok)
      dup <- Gen.choose(0, 3) // inject a repeated run to exercise dup-5
    } yield (toks ++ Seq.fill(dup)(toks.take(6)).flatten).mkString(" ")
  }

  test("Pii.redact is idempotent and count-consistent on random PII-laced text") {
    import graft.scale.Pii
    val docs = samples(docTextGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = Pii.redact(col("text"))
    val counts = Pii.patterns.map { case (n, p, _) =>
      Pii.countOf(col("text"), p).as(s"c_$n") }
    val out = docs.select((col("doc_id") +: once.as("r1") +:
        Pii.redact(once).as("r2") +: counts) :+
        Pii.countOf(once, Pii.emailPattern).as("left_email"): _*)
      .collect()
    out.foreach { r =>
      // replacement tokens are inert: a second pass changes nothing
      assert(r.getString(1) == r.getString(2), s"not idempotent: ${r.getString(1)}")
      // redaction consumed every email the counter saw
      assert(r.getLong(7) == 0L, s"email survived redaction: ${r.getString(1)}")
      // counts are non-negative (pattern sanity on arbitrary text)
      (3 to 6).foreach(i => assert(r.getLong(i) >= 0L))
    }
  }

  test("gopherRepetition fractions respect their bounds on random repeated text") {
    import graft.scale.TextOps
    val docs = samples(docTextGen, 120).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextOps.gopherRepetition(docs, col("doc_id"), col("text")).collect()
    assert(out.length == 120)
    out.foreach { r =>
      val (n, t2, t3, t4, d5) = (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
      // dup-5 coverage is an interval union over n_tokens positions
      assert(d5 >= 0.0 && d5 <= 1.0, s"dup5 $d5 out of [0,1] at n=$n")
      // top-gram char mass is non-negative; bounded by (count x len) over
      // word chars, which can exceed 1 only through OVERLAP of the gram
      // with itself (e.g. "a b a b": 4 x 2 chars over 8) — never negative
      Seq(t2, t3, t4).foreach(f => assert(f >= 0.0, s"negative mass $f"))
      if (n < 2) assert(t2 == 0.0 && t3 == 0.0 && t4 == 0.0 && d5 == 0.0)
      if (n < 5) assert(d5 == 0.0, "no 5-grams -> no dup coverage")
    }
  }

  // random multi-byte docs over a tiny token alphabet — maximal repeat
  // density, so the gram maps, interval unions, and line dedup all
  // exercise their collision paths
  private val repeatDocGen: Gen[String] = Gen.choose(0, 40).flatMap(n =>
    Gen.listOfN(n, Gen.oneOf("aa", "b", "ccc", "二二", "É", "aa"))
      .map(_.mkString(" ")))

  test("gopher one-pass kernel == explode battery on random repeat-dense docs") {
    val docs = samples(repeatDocGen, 150).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .localCheckpoint()
    val cols = Seq("n_tokens", "top2_char_frac", "top3_char_frac",
      "top4_char_frac", "dup5_token_frac", "gopher_flag")
    val a = graft.scale.TextOps.gopherRepetition(docs, col("doc_id"), col("text"))
    val b = graft.scale.TextOps.gopherRepetitionComposable(
        docs, col("doc_id"), col("text"))
      .select(col("doc_id") +: cols.map(c => col(c).as(s"__b_$c")): _*)
    val bad = a.join(b, Seq("doc_id"))
      .where(cols.map(c => !(col(c) <=> col(s"__b_$c"))).reduce(_ || _))
    assert(bad.count() == 0,
      s"kernel/explode divergence:\n${bad.collect().take(3).mkString("\n")}")
  }

  test("line stats == brute-force line dedup on random multi-line docs") {
    val lineGen = Gen.oneOf("aa bb", "cc", "二 行", "", "aa bb")
    val docGen = Gen.choose(0, 8).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    val docs = samples(docGen, 150).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val got = graft.scale.TextOps.gopherLineStats(
        docs.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    for ((id, text) <- docs) {
      val ls = text.split("\n", -1).filter(_.nonEmpty).toSeq
      val n = ls.size.toLong
      val dupN = n - ls.distinct.size
      val chars = ls.map(_.length).sum.toLong
      val dupChars = chars - ls.distinct.map(_.length).sum
      def f(num: Long, den: Long) =
        graft.scoring.KMeansOps.r6d(if (den > 0) num.toDouble / den else 0.0)
      assert(got(id) == ((n, f(dupN, n), f(dupChars, chars))), s"doc $id [$text]")
    }
  }

  test("frozen TrigramLm == per-doc mean logp brute force on random corpora") {
    import org.apache.spark.unsafe.types.UTF8String
    val corpus = samples(repeatDocGen, 80).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }
    val df = corpus.toDF("doc_id", "text")
    val lm = graft.scale.Perplexity.fitLm(df, col("text"))
    // brute-force reference: trigram counts over the normalized corpus,
    // then per-doc mean ln(c/tt) over its trigrams (all present by
    // construction — the LM was fit on the same corpus)
    def tris(s: String): Seq[String] = {
      val t = s.toLowerCase.replaceAll("\\s+", " ")
      val cps = t.codePoints().toArray
      if (cps.length < 3) Nil
      else cps.sliding(3).map(a => new String(a, 0, 3)).toSeq
    }
    val counts = corpus.flatMap(d => tris(d._2))
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    val tt = counts.values.sum.toDouble
    for ((id, text) <- corpus) {
      val ts = tris(text)
      val expect =
        if (ts.isEmpty) None
        else Some(ts.map(g => math.log(counts(g) / tt)).sum / ts.size)
      val got = Option(lm.score(UTF8String.fromString(text))).filterNot(_.isNaN)
      (expect, got) match {
        case (None, None) =>
        case (Some(e), Some(g)) =>
          assert(math.abs(e - g) < 1e-12, s"doc $id [$text]: $e vs $g")
        case other => fail(s"doc $id [$text]: $other")
      }
    }
  }

  test("chunker covers every token exactly under the stride law on random docs") {
    import graft.scale.TextOps
    val wordGen = Gen.oneOf("alpha", "beta", "gamma", "delta", "x", "yz")
    val docGen = for {
      n <- Gen.choose(0, 300)
      ws <- Gen.listOfN(n, wordGen)
    } yield ws.mkString(" ")
    val docs = samples(docGen, 40).zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val out = TextOps.chunks(docs, col("doc_id"), col("text"), w = 64, stride = 48)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ntoks = docs.select(col("doc_id"),
        size(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val byDoc = out.groupBy(_._1)
    ntoks.foreach { case (d, n) =>
      val chunks = byDoc.getOrElse(d, Array.empty)
      if (n == 0) assert(chunks.isEmpty, s"doc $d: empty doc must emit no chunks")
      else {
        // chunk count = ceil(n / stride); starts step by exactly the stride
        assert(chunks.length == (n + 47) / 48, s"doc $d n=$n")
        val starts = chunks.map(_._3).sorted
        assert(starts.head == 1L && starts.toSeq == (1L to starts.max by 48L).toSeq)
        // every token position is inside some chunk; token mass bounds
        chunks.foreach { case (_, _, s, ct) =>
          assert(ct == math.min(64L, n - s + 1), s"doc $d start $s") }
        val covered = chunks.flatMap { case (_, _, s, ct) => s until (s + ct) }.toSet
        assert(covered == (1L to n).toSet, s"doc $d: coverage gap")
      }
    }
    // the stride law only holds for stride <= w; a gapping config must
    // fail loudly (ADVICE r13), not silently drop tokens between windows
    intercept[IllegalArgumentException] {
      TextOps.chunks(docs, col("doc_id"), col("text"), w = 8, stride = 9)
    }
  }

  test("TopK.byGroup == sort-take truth on random groups, ties, and ks") {
    // heavy ties (scores quantized to 12 values), random group sizes,
    // random k per trial — the bounded aggregate must match the sorted
    // truth exactly under the (score desc, id asc) total order
    val rowGen = for {
      g <- Gen.choose(0L, 4L)
      id <- Gen.choose(0L, 10000L)
      s <- Gen.choose(0, 11).map(_ / 3.0)
    } yield (g, id, s)
    samples(Gen.zip(Gen.choose(1, 15), Gen.listOfN(300, rowGen)), 8)
      .foreach { case (k, rows0) =>
        val rows = rows0.distinctBy(r => (r._1, r._2)) // unique id per group
        val df = rows.toDF("g", "id", "score").repartition(4)
        val got = graft.ops.TopK.byGroup(df, Seq("g"), "score",
            asc = false, "id", k)
          .collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
          .groupBy(_._1)
        rows.groupBy(_._1).foreach { case (g, members) =>
          val exp = members.sortBy { case (_, id, s) => (-s, id) }.take(k)
            .zipWithIndex.map { case ((_, id, s), i) => (g, id, s, i + 1L) }
          assert(got.getOrElse(g, Array.empty).sortBy(_._4).toSeq == exp,
            s"k=$k group $g")
        }
      }
  }

  test("Banding.withFlags == brute-force banded candidates on random corpora, both layouts, both audit forms") {
    import graft.scale.{Banding, Dedup}
    // short docs from a tiny word pool: near-identical token multisets
    // produce close fingerprints, so candidates and sub-threshold
    // hammings genuinely occur
    val docGen = Gen.choose(4, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
        "zeta", "eta")).map(_.mkString(" ")))
    def bandKeys(fp: Long, cfg: Banding.Config): Seq[Long] =
      (0 until cfg.bands).map(b =>
        (fp >>> (b * cfg.bandBits)) & ((1L << cfg.bandBits) - 1L))
    samples(Gen.listOfN(40, docGen), 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      for (cfg <- Seq(Banding.Config(), Banding.wide64)) {
        val fps = (if (cfg.wide) Dedup.simhash64(docs, col("doc_id"), col("text"))
          else Dedup.simhash(docs, col("doc_id"), col("text")))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // truth for a probe p against index I: docs sharing >= 1 band
        // key; (min hamming, lowest id at it); neardup at <= 3
        def truth(p: Long, index: Map[Long, Long]) = {
          val pk = bandKeys(fps(p), cfg)
          val cands = index.filter { case (i, fpi) =>
            i != p && bandKeys(fpi, cfg).zip(pk).exists { case (a, b) => a == b } }
          val best = cands.toSeq.map { case (i, fpi) =>
            (java.lang.Long.bitCount(fps(p) ^ fpi), i) }.sorted.headOption
          (cands.size, best.map(_._1), best.map(_._2),
            best.exists(_._1 <= 3))
        }
        // delta-vs-frozen form (q260/q287 shape)
        val idxDocs = docs.where(col("doc_id") % 3 =!= 0)
        val idxIds = fps.keySet.filter(_ % 3 != 0)
        val ix = Banding.buildIndex(idxDocs, col("doc_id"), col("text"), cfg)
        // columns: doc_id, text, simhash, n_cands, min_hamming,
        // match_id, is_neardup
        val gotDelta = Banding.withFlags(
            docs.where(col("doc_id") % 3 === 0), ix, maxHamming = 3, cfg)
          .collect().map(r => r.getLong(0) ->
            ((r.getInt(3), if (r.isNullAt(4)) None else Some(r.getInt(4)),
              if (r.isNullAt(5)) None else Some(r.getLong(5)), r.getBoolean(6))))
          .toMap
        fps.keySet.filter(_ % 3 == 0).foreach { p =>
          val (n, mh, mid, nd) = truth(p, fps.view.filterKeys(idxIds).toMap)
          assert(gotDelta(p) == ((n, mh, mid, nd)),
            s"cfg $cfg delta doc $p fp=${fps(p)} " +
              s"spark=${gotDelta(p)} truth=${(n, mh, mid, nd)} " +
              s"sparkMidFp=${gotDelta(p)._3.map(fps)} truthMidFp=${mid.map(fps)} " +
              s"keysP=${bandKeys(fps(p), cfg)} " +
              s"keysSparkMid=${gotDelta(p)._3.map(i => bandKeys(fps(i), cfg))} " +
              s"keysTruthMid=${mid.map(i => bandKeys(fps(i), cfg))}")
        }
        // self-audit form (q278/q293 shape): lower ids only
        val ixAll = Banding.buildIndex(docs, col("doc_id"), col("text"), cfg)
        val gotSelf = Banding.withFlags(docs, ixAll, maxHamming = 3, cfg,
            lowerIdThan = Some("doc_id"))
          .collect().map(r => r.getLong(0) ->
            ((r.getInt(3), r.getBoolean(6)))).toMap
        fps.keySet.foreach { p =>
          val (n, _, _, nd) = truth(p,
            fps.view.filterKeys(_ < p).toMap)
          assert(gotSelf(p) == ((n, nd)), s"cfg $cfg self doc $p")
        }
      }
    }
  }

  test("Banding.selfAuditCollapsed verdict == uncollapsed self-audit on boilerplate-heavy corpora; mega-cell guard") {
    import graft.scale.Banding
    // ~half the corpus repeats a 3-template boilerplate pool (exact-dup
    // groups), the rest are random docs; a few token-less docs exercise
    // the null-fingerprint path
    val word = Gen.oneOf("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "eta")
    val freshGen = Gen.choose(4, 12).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val templates = Seq("alpha beta gamma alpha", "delta epsilon delta",
      "zeta eta zeta eta zeta")
    val docGen = Gen.frequency(
      (5, Gen.oneOf(templates)), (4, freshGen), (1, Gen.const("")))
    samples(Gen.listOfN(40, docGen), 5).foreach { texts =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text")
      // uncollapsed-audit truth (the PlanSpec-gated q278/q293 shape)
      for (cfg <- Seq(Banding.Config(), Banding.wide64)) {
        val full = Banding.withFlags(docs,
            Banding.buildIndex(docs, col("doc_id"), col("text"), cfg),
            maxHamming = 3, cfg, lowerIdThan = Some("doc_id"))
          .collect().map(r => r.getLong(0) ->
            ((if (r.isNullAt(4)) None else Some(r.getInt(4)),
              if (r.isNullAt(5)) None else Some(r.getLong(5)),
              r.getBoolean(6)))).toMap
        val got = Banding.selfAuditCollapsed(docs, col("doc_id"),
            col("text"), maxHamming = 3, cfg)
          .collect().map(r => r.getLong(0) ->
            ((r.getLong(1),
              if (r.isNullAt(2)) None else Some(r.getInt(2)),
              if (r.isNullAt(3)) None else Some(r.getLong(3)),
              r.getBoolean(4)))).toMap
        assert(got.keySet == full.keySet, s"cfg $cfg: one row per doc")
        val canonTruth = texts.zipWithIndex
          .groupBy(_._1).view.mapValues(_.map(_._2.toLong).min).toMap
        got.foreach { case (id, (canon, mh, mi, nd)) =>
          assert(canon == canonTruth(texts(id.toInt)),
            s"cfg $cfg doc $id: canonical = min id per exact text")
          assert((mh, mi, nd) == full(id),
            s"cfg $cfg doc $id: verdict triple must match the " +
              s"uncollapsed audit ${full(id)}")
        }
      }
    }
    // mega-cell guard: 20 identical docs put >= 20 candidates into ONE
    // cell of every band — the raw index must refuse a 5-cap loudly,
    // while the collapsed audit (one canonical banded) passes it
    val boiler = (0L until 20L).map(i => (i, "alpha beta gamma alpha"))
      .toDF("doc_id", "text")
    val e = intercept[Exception] {
      Banding.buildIndex(boiler, col("doc_id"), col("text"),
        Banding.Config(), maxCellSize = Some(5)).collect()
    }
    assert(e.getMessage.contains("cell holds") ||
      Option(e.getCause).exists(_.getMessage.contains("cell holds")))
    val collapsed = Banding.selfAuditCollapsed(boiler, col("doc_id"),
        col("text"), maxHamming = 3, Banding.Config(),
        maxCellSize = Some(5)).collect()
    assert(collapsed.length == 20)
    assert(collapsed.forall(r => r.getLong(1) == 0L),
      "one exact group: canonical 0")
    assert(collapsed.count(_.getBoolean(4)) == 19,
      "every member but the canonical flags as a dup")
    // NULL-text docs keep their row (sentinel-hash exact group) with
    // the (NULL, NULL, false) verdict the raw audit gives them — an
    // un-coalesced md5 key would silently DROP them from the equi-joins
    val withNull = Seq((0L, Option("alpha beta gamma alpha")),
      (1L, None: Option[String]), (2L, Option("alpha beta gamma alpha")),
      (3L, None: Option[String])).toDF("doc_id", "text")
    val nulled = Banding.selfAuditCollapsed(withNull, col("doc_id"),
        col("text"), maxHamming = 3).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(nulled.size == 4, "one row per doc including NULL texts")
    assert(nulled(1L).getLong(1) == 1L && nulled(3L).getLong(1) == 1L,
      "NULL texts group under the sentinel: canonical = their min id")
    assert(!nulled(1L).getBoolean(4) && nulled(1L).isNullAt(2) &&
      nulled(1L).isNullAt(3), "NULL-text verdict is (NULL, NULL, false)")
    assert(!nulled(3L).getBoolean(4) && nulled(3L).isNullAt(2))
    assert(nulled(2L).getBoolean(4) && nulled(2L).getLong(3) == 0L &&
      nulled(2L).getInt(2) == 0, "the real exact dup still flags")
  }

  test("source KL is nonnegative on random two-source corpora, zero on identical sources") {
    import graft.scale.TextOps
    val wordGen = Gen.oneOf("a", "b", "c", "d", "e")
    val docGen = Gen.choose(5, 40).flatMap(n =>
      Gen.listOfN(n, wordGen).map(_.mkString(" ")))
    samples(Gen.listOfN(6, docGen), 10).foreach { texts =>
      val docs = texts.zipWithIndex
        .map { case (t, i) => (if (i % 2 == 0) "A" else "B", t) }
        .toDF("source", "text")
      val out = TextOps.sourceUnigramKl(docs, col("source"), col("text"))
        .collect().map(r => r.getString(0) -> r.getDouble(3)).toMap
      out.foreach { case (s, kl) =>
        assert(kl >= -1e-12, s"source $s: KL must be nonnegative, got $kl") }
    }
    // identical text in both sources -> both distributions equal the corpus
    val same = Seq(("A", "a b c a"), ("B", "a b c a")).toDF("source", "text")
    TextOps.sourceUnigramKl(same, col("source"), col("text"))
      .collect().foreach(r => assert(math.abs(r.getDouble(3)) < 1e-14))
  }

  test("C4 keep decision is monotone: appending a doc-level trigger can only drop a doc") {
    import graft.scale.C4
    val lineGen = Gen.oneOf(
      "alpha beta gamma delta epsilon.",
      "zeta eta theta iota kappa!",
      "no terminal punctuation line",
      "tiny line.",
      "lambda mu nu xi omicron?")
    val docGen = Gen.choose(1, 6).flatMap(n =>
      Gen.listOfN(n, lineGen).map(_.mkString("\n")))
    val texts = samples(docGen, 60)
    val base = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val spiked = base.map { case (i, t) => (i, t + "\nlorem ipsum filler.") }
    def kept(rows: Seq[(Long, String)]) =
      C4.lineStats(rows.toDF("doc_id", "text"), col("doc_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(7)).toMap
    val (kb, ks) = (kept(base), kept(spiked))
    kb.keys.foreach { d =>
      assert(!ks(d), s"doc $d: lorem ipsum must always drop")
      // and the flag battery is the only difference: kept lines can
      // only grow when a (kept-eligible) line is appended
    }
    // no doc-level trigger -> the keep decision equals the >=3-kept-lines rule
    val stats = C4.lineStats(base.toDF("doc_id", "text"), col("doc_id"), col("text"))
      .collect()
    stats.foreach { r =>
      assert(r.getBoolean(7) == (r.getLong(2) >= 3 && !r.getBoolean(4) &&
        !r.getBoolean(5) && !r.getBoolean(6)), s"doc ${r.getLong(0)}")
    }
  }
}
