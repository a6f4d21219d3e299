package graft

import graft.plans.ZOrder
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ZOrderSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  test("zValue interleaves bits (known points) and is monotone in quadrants") {
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 2L), (3L, 5L))
      .toDF("x", "y")
      .select(ZOrder.zValue(col("x"), col("y"), 10).as("z"))
    val z = df.collect().map(_.getLong(0))
    // interleave(x,y) with x on even bits: (0,0)=0 (1,0)=1 (0,1)=2 (1,1)=3
    assert(z(0) == 0 && z(1) == 1 && z(2) == 2 && z(3) == 3)
    assert(z(4) == 12) // x=10b,y=10b -> 1100b
    assert(z(5) == 39) // x=011b,y=101b -> 100111b
  }

  test("z-layout partitions are tight in BOTH dimensions; row-major sort is not") {
    // full 256x256 grid; 16 range partitions over z ~ 64x64-ish tiles
    val n = 256
    val grid = spark.range(n.toLong * n)
      .select((col("id") / n).cast("long").as("x"), (col("id") % n).as("y"))

    def avgRanges(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = df.withColumn("p", spark_partition_id())
        .groupBy(col("p"))
        .agg((max(col("x")) - min(col("x"))).as("rx"),
          (max(col("y")) - min(col("y"))).as("ry"))
        .agg(avg(col("rx")), avg(col("ry"))).head()
      (r.getDouble(0), r.getDouble(1))
    }

    val (zx, zy) = avgRanges(ZOrder.layout(grid, col("x"), col("y"),
      bits = 10, partitions = 16))
    val (sx, sy) = avgRanges(grid.repartitionByRange(16, col("x"), col("y")))

    // row-major: leading dim tight, trailing dim spans the full grid
    assert(sy > n * 0.9, s"row-major y-range should be ~$n, got $sy")
    // z-order: BOTH dims tile-sized (64 for exact tiles; sampling slack)
    assert(zx < n * 0.55, s"z x-range $zx")
    assert(zy < n * 0.55, s"z y-range $zy")
  }
}
