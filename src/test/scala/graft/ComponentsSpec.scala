package graft

import graft.ops.Components
import org.scalatest.funsuite.AnyFunSuite

/** The adaptive CC's contract: min-vertex-id labels, identical from the
  * local union-find and the GraphX path, verified against brute-force
  * reachability on random graphs.
  */
class ComponentsSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private def bruteForce(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val verts = edges.flatMap(e => Seq(e._1, e._2)).distinct
    verts.map { v =>
      var frontier = Set(v); var seen = Set(v)
      while (frontier.nonEmpty) {
        frontier = frontier.flatMap(u => adj.getOrElse(u, Nil)).diff(seen)
        seen ++= frontier
      }
      v -> seen.min
    }.toMap
  }

  test("local union-find labels == brute-force reachability minima on random graphs") {
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 20) {
      val nV = 2 + rnd.nextInt(40)
      val nE = 1 + rnd.nextInt(60)
      val edges = Seq.fill(nE)(
        (rnd.nextInt(nV).toLong * 7, rnd.nextInt(nV).toLong * 7)) // sparse ids
      val got = Components.run(spark.sparkContext.parallelize(edges, 3))
        .collect().toMap
      assert(got == bruteForce(edges), s"trial $trial: $edges")
    }
  }

  test("local and GraphX paths produce identical labels") {
    val rnd = new scala.util.Random(23)
    val edges = Seq.fill(200)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
    val rdd = spark.sparkContext.parallelize(edges, 4)
    val local = Components.run(rdd, localThreshold = 1000000L).collect().toMap
    val graphx = Components.run(rdd, localThreshold = 0L).collect().toMap
    assert(local == graphx)
  }

  test("empty edge set yields an empty labeling") {
    assert(Components.run(spark.sparkContext.emptyRDD[(Long, Long)]).count() == 0)
  }
}
