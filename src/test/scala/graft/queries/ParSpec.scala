package graft.queries

import graft.Session
import org.scalatest.funsuite.AnyFunSuite

/** `par` fails as soon as any chain fails, and leaves no Spark job of the
  * other chains running behind it.
  */
class ParSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  test("par rethrows the first failure in completion order and cancels the sibling's job") {
    val sc = spark.sparkContext
    val slowMs = 60000L
    def active = sc.statusTracker.getActiveJobIds
    assert(active.isEmpty)
    val t0 = System.nanoTime()
    val err = intercept[IllegalStateException] {
      par(
        // listed first: a failure reported in argument order would wait for it
        sc.parallelize(1 to 4, 4).foreach(_ => Thread.sleep(slowMs)),
        {
          val deadline = System.nanoTime() + 30L * 1000000000L
          while (active.isEmpty && System.nanoTime() < deadline) Thread.sleep(20)
          throw new IllegalStateException("chain 2 failed")
        })
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(err.getMessage == "chain 2 failed")
    assert(elapsedMs < slowMs / 2, s"par returned after $elapsedMs ms")
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (active.nonEmpty && System.nanoTime() < deadline) Thread.sleep(50)
    assert(active.isEmpty, s"jobs still running: ${active.toSeq}")
    // the cancelled tasks were interrupted: the executor slots are free again
    assert(sc.parallelize(1 to 4, 4).map(_ * 2).sum() == 20.0)
  }
}
