package graft

import graft.scale.{Smote, Splits}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Deterministic-SMOTE contracts: every synthetic point lies on the
  * segment between its parents, draws replay from md5, and the chosen
  * neighbor really is the md5-drawn rank within the parent's shard.
  */
class SmoteSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private def minority = {
    import spark.implicits._
    (1 to 80).map { i =>
      (i.toLong, (i % 17) * 1.5, ((i * 3) % 11).toDouble)
    }.toDF("id", "a", "b")
  }

  test("every synthetic point lies on the segment between its parents") {
    val syn = Smote.synthesize(minority, col("id"), Seq("a", "b"),
      k = 3, reps = 2, shards = 4, salt = "t")
    val src = minority.collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val rows = syn.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (pid, nid) = (r.getLong(0), r.getLong(1))
      val lam = r.getDouble(3)
      assert(lam >= 0.0 && lam < 1.0, s"lam $lam")
      assert(pid != nid)
      val (pa, pb) = src(pid)
      val (na, nb) = src(nid)
      val (sa, sb) = (r.getDouble(4), r.getDouble(5))
      assert(sa >= math.min(pa, na) - 1e-12 && sa <= math.max(pa, na) + 1e-12,
        s"s_a $sa outside [$pa, $na]")
      assert(sb >= math.min(pb, nb) - 1e-12 && sb <= math.max(pb, nb) + 1e-12,
        s"s_b $sb outside [$pb, $nb]")
      // exact interpolation identity, not just betweenness
      assert(math.abs(sa - (pa + lam * (na - pa))) < 1e-12)
      assert(math.abs(sb - (pb + lam * (nb - pb))) < 1e-12)
    }
  }

  test("draws are md5-deterministic: two runs emit identical rows") {
    def run() = Smote.synthesize(minority, col("id"), Seq("a", "b"),
      k = 3, reps = 2, shards = 4, salt = "t")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(run().toSeq == run().toSeq)
  }

  test("adasynCounts matches a brute-force shard-local majority count") {
    import spark.implicits._
    // two interleaved classes: minority (y=1) points sit at every 4th
    // position, so their neighborhoods mix both classes
    val rows = (1 to 120).map { i =>
      (i.toLong, (i % 23) * 1.0, ((i * 5) % 17) * 1.0, if (i % 4 == 0) 1L else 0L)
    }
    val df = rows.toDF("id", "a", "b", "y")
    val got = Smote.adasynCounts(df, col("id"), Seq("a", "b"), col("y"),
      k = 3, shards = 4, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def stats(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
      (m, if (sd > 0) sd else 1.0)
    }
    val (ma, sa) = stats(rows.map(_._2))
    val (mb, sb) = stats(rows.map(_._3))
    def z(r: (Long, Double, Double, Long)) =
      (graft.scoring.KMeansOps.r6d((r._2 - ma) / sa),
        graft.scoring.KMeansOps.r6d((r._3 - mb) / sb))
    // the ENN direction (majority parents counting minority neighbors)
    // shares the kernel — verify both sides of knnOppositeCounts
    val gotEnn = Smote.knnOppositeCounts(df, col("id"), Seq("a", "b"),
      col("y"), parentIs = 0L, k = 3, shards = 4, salt = "t")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byShard = rows.groupBy(r => Splits.bucketLocal("t:d", r._1.toString, 4))
    byShard.values.foreach { shard =>
      shard.foreach { p =>
        val (zpa, zpb) = z(p)
        val nn = shard.filter(_._1 != p._1).map { c =>
          val (zca, zcb) = z(c)
          ((zpa - zca) * (zpa - zca) + (zpb - zcb) * (zpb - zcb), c._1, c._4)
        }.sorted.take(3)
        val (want, side) = if (p._4 == 1L) (got, "adasyn") else (gotEnn, "enn")
        val delta = nn.count(_._3 != p._4)
        if (nn.nonEmpty)
          assert(want(p._1) == delta, s"$side parent ${p._1}")
        else
          assert(!want.contains(p._1))
      }
    }
  }

  test("chosen neighbor is the md5-drawn rank of the shard-local exact k-NN") {
    val k = 3
    val syn = Smote.synthesize(minority, col("id"), Seq("a", "b"),
      k = k, reps = 1, shards = 4, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // brute-force replay: shard-local 4dp-z distances, (d2, id) order
    val rows = minority.collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    def stats(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      val v = xs.map(x => (x - m) * (x - m)).sum / xs.size
      (m, if (math.sqrt(v) > 0) math.sqrt(v) else 1.0)
    }
    val (ma, sa) = stats(rows.map(_._2).toSeq)
    val (mb, sb) = stats(rows.map(_._3).toSeq)
    def z(r: (Long, Double, Double)) =
      (graft.scoring.KMeansOps.r6d((r._2 - ma) / sa),
        graft.scoring.KMeansOps.r6d((r._3 - mb) / sb))
    val byShard = rows.groupBy(r => Splits.bucketLocal("t:s", r._1.toString, 4))
    byShard.values.foreach { shard =>
      shard.foreach { p =>
        val (zpa, zpb) = z(p)
        val nn = shard.filter(_._1 != p._1).map { c =>
          val (zca, zcb) = z(c)
          val d2 = (zpa - zca) * (zpa - zca) + (zpb - zcb) * (zpb - zcb)
          (d2, c._1)
        }.sorted.take(k)
        val drawn = Splits.bucketLocal("t:n0", p._1.toString, k).toInt
        if (drawn < nn.size)
          assert(syn(p._1) == nn(drawn)._2, s"parent ${p._1}")
        else
          assert(!syn.contains(p._1), s"parent ${p._1} should emit nothing")
      }
    }
  }

  test("tomekLinks with one shard is EXACT: matches brute-force mutual cross-class 1-NN") {
    import spark.implicits._
    val rows = (1 to 60).map { i =>
      (i.toLong, (i % 13) * 2.0, ((i * 7) % 19) * 1.0, if (i % 3 == 0) 1L else 0L)
    }
    val df = rows.toDF("id", "a", "b", "y")
    val got = Smote.tomekLinks(df, col("id"), Seq("a", "b"), col("y"),
      shards = 1, salt = "t")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def stats(xs: Seq[Double]) = {
      val m = xs.sum / xs.size
      val sd = math.sqrt(xs.map(x => (x - m) * (x - m)).sum / xs.size)
      (m, if (sd > 0) sd else 1.0)
    }
    val (ma, sa) = stats(rows.map(_._2))
    val (mb, sb) = stats(rows.map(_._3))
    def z(r: (Long, Double, Double, Long)) =
      (graft.scoring.KMeansOps.r6d((r._2 - ma) / sa),
        graft.scoring.KMeansOps.r6d((r._3 - mb) / sb))
    def nn1(p: (Long, Double, Double, Long)): Long = {
      val (zpa, zpb) = z(p)
      rows.filter(_._1 != p._1).map { c =>
        val (zca, zcb) = z(c)
        ((zpa - zca) * (zpa - zca) + (zpb - zcb) * (zpb - zcb), c._1)
      }.min._2
    }
    val byId = rows.map(r => r._1 -> r).toMap
    val want = (for {
      p <- rows
      q = byId(nn1(p))
      if nn1(q) == p._1 && p._4 != q._4 && p._1 < q._1
    } yield if (p._4 == 1L) (p._1, q._1) else (q._1, p._1)).toSet
    assert(got == want)
    assert(want.nonEmpty, "fixture produced no links — strengthen it")
    // mutual pairs are disjoint: no id appears in two links
    val ids = got.toSeq.flatMap(p => Seq(p._1, p._2))
    assert(ids.distinct.size == ids.size)
  }

  test("banded kernel with 0 planes IS the exact (one-shard) kernel, row for row") {
    // one band == one shard: identical candidates, identical md5 draws,
    // identical interpolation — the literal equality the banded
    // kernel's contract promises
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5))
    val sharded = Smote.synthesize(minority, col("id"), Seq("a", "b"),
      k = 3, reps = 2, shards = 1, salt = "t").collect().map(key).toSet
    val banded = Smote.synthesizeBanded(minority, col("id"), Seq("a", "b"),
      gCol = lit(2L), k = 3, maxReps = 2, planes = 0, salt = "t")
      .collect().map(key).toSet
    assert(banded == sharded && banded.nonEmpty)
  }

  test("banded kernel groups by locality: neighbors come from the parent's cluster") {
    import spark.implicits._
    // two well-separated clusters; hyperplane bands must never pair
    // points across them (a random md5 shard would), so every synthetic
    // row interpolates WITHIN its parent's cluster
    val df = ((1 to 40).map(i => (i.toLong, 0.0 + (i % 5) * 0.1, 0.0 + (i % 7) * 0.1)) ++
      (41 to 80).map(i => (i.toLong, 100.0 + (i % 5) * 0.1, 100.0 + (i % 7) * 0.1)))
      .toDF("id", "a", "b")
    val syn = Smote.synthesizeBanded(df, col("id"), Seq("a", "b"),
      gCol = lit(2L), k = 3, maxReps = 2, planes = 4, salt = "loc")
      .collect()
    assert(syn.nonEmpty)
    syn.foreach { r =>
      val (pid, nid) = (r.getLong(0), r.getLong(1))
      assert((pid <= 40) == (nid <= 40),
        s"cross-cluster pair $pid -> $nid under locality bands")
    }
    // determinism across physical layouts
    val again = Smote.synthesizeBanded(df.repartition(7), col("id"),
      Seq("a", "b"), gCol = lit(2L), k = 3, maxReps = 2, planes = 4,
      salt = "loc").collect()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2))
    assert(again.map(key).toSet == syn.map(key).toSet)
  }
}
