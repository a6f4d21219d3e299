package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{floor, lit, when}

package object queries {
  type Q = (SparkSession, String) => DataFrame

  /** One operator family: named Spark queries + their DuckDB oracle SQL.
    * Oracle SQL references the driver's bare table names (events, lineitem,
    * documents, ...) over the same sf directory.
    */
  trait QueryPack {
    def defs: Map[String, Q]
    def oracle: Map[String, String]
  }

  /** Round derived doubles on BOTH sides (Spark + oracle SQL, 4 dp) so
    * that order-of-summation float noise cannot flip the driver's hash
    * compare.
    *
    * NOT Spark's `round`: that routes through BigDecimal.valueOf's
    * shortest-decimal repr, so 51.198749999999996 becomes "51.19875" and
    * HALF_UP gives .1988 — while DuckDB rounds the raw binary double to
    * .1987. Money inputs (2 dp) divided by small counts land on such
    * decimal midpoints constantly. This floor-based half-away-from-zero
    * on the scaled double reproduces DuckDB's `round(DOUBLE, k)` exactly
    * (verified bit-equal on 100k adversarial samples).
    */
  // negate the DOUBLE, not floor's BIGINT: a negative value rounding to
  // zero must emit -0.0 (as DuckDB's round and the driver-side r6d
  // both do) — negating the long 0 yields +0.0 and the zero-sign
  // mismatch misaligns the oracle compare's repr-sorted rows.
  // The CASE form repeats `c` in the predicate and both branches (3
  // evaluations of whatever sits under the round — three O(d) array_dots
  // per pair in the semantic-dedup join predicates); the native
  // [[graft.functions.RoundNudged]] node evaluates its child ONCE and
  // mirrors each IEEE step of this tree exactly (FunctionsSpec pins
  // equality on adversarial inputs). Kept for the pinning test.
  private[graft] def rndCase(c: Column, p: Double): Column =
    when(c >= 0, floor(c * p + 0.5) / p).otherwise(-(floor(-c * p + 0.5) / p))

  private def rnd(c: Column, p: Double, eps: Double): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    ColumnBridge.column(graft.functions.RoundNudged(
      ColumnBridge.expression(c.cast("double")), p, eps))
  }

  /** The nudge resolves EXACT decimal midpoints: money inputs (2 dp)
    * averaged over power-of-two window counts land precisely on
    * x.xxx5 — there the two engines' 1-ulp summation-order difference
    * decides the rounding side. Shifting both sides by an epsilon that is
    * >>ulp noise and <<quantum makes the midpoint zone round consistently.
    * The oracle SQL applies the SAME shift inside its round().
    */
  def r6(c: Column): Column = rnd(c, 1e4, 5e-11)

  /** 2 dp variant for global-magnitude sums (~1e8), where summation-order
    * noise reaches ~1e-5 — nudge sized accordingly.
    */
  def r2(c: Column): Column = rnd(c, 1e2, 1e-4)

  /** Zero-sign-normalized 4 dp round for outputs whose TRUE value can sit
    * at ~0 with engine-dependent sign (corr / slope of uncorrelated
    * columns): the two engines' co-moment noise straddles zero, so one
    * rounds to -0.0 and the other to +0.0 — equal under ==, different
    * under the driver's rendered-value hash. `+ 0.0` maps IEEE -0.0 to
    * +0.0 and is the identity for every other value. The oracle SQL twin
    * must apply the same `+ 0.0` after its round().
    */
  def r6z(c: Column): Column = rnd(c, 1e4, 5e-11) + lit(0.0)

  /** The oracle SQL side of [[r6]]: DuckDB's round with the same nudge. */
  private[queries] def sqlR4(x: String): String = s"round($x + 5e-11, 4)"

  // DuckDB twins of graft.scoring.Trainer for the logistic oracles. They
  // read features x0..x{d-1} and a 0.0/1.0 label y, and keep a weight
  // state as one row (w0..w{d-1}, b) in standardized space.

  /** Trainer.standardized's stats pass: population mean m$i and stddev
    * s$i of each x$i, a constant column getting stddev 1.
    */
  private[queries] def sqlStats(idx: Seq[Int]): String =
    idx.map(i => s"avg(x$i) AS m$i, coalesce(nullif(stddev_pop(x$i), 0.0), 1.0) AS s$i")
      .mkString(",\n    ")

  /** The standardized features, over a row of [[sqlStats]]. */
  private[queries] def sqlStd(idx: Seq[Int]): String =
    idx.map(i => s"(x$i - m$i)/s$i AS x$i").mkString(", ")

  /** Trainer.margin's association: the intercept, then each weight times
    * its feature, added left to right. `w` is the weight state, `d` the
    * standardized row.
    */
  private[queries] def sqlMargin(w: String, idx: Seq[Int], d: String = "d"): String =
    (s"$w.b" +: idx.map(i => s"$w.w$i * $d.x$i")).mkString(" + ")

  /** Trainer.fitLogistic unrolled into CTEs: `${name}0` is the all-zero
    * state and `${name}k` the state after k full-batch steps over `src`
    * at `rate` (a SQL scalar). Aggregates are illegal in a recursive
    * CTE, so each step is one CTE, the gradient aggregate and the update
    * fused by grouping on the 1-row previous state. Every state is
    * MATERIALIZED: a multi-referenced plain CTE inlines, and the plan
    * grows exponentially with the chain.
    */
  private[queries] def sqlGd(name: String, src: String, idx: Seq[Int],
      iters: Int, rate: String): String = {
    val p = s"1.0/(1.0 + exp(-(${sqlMargin("i", idx)})))"
    val upd = idx.map(i => s"i.w$i - $rate*avg(($p - d.y) * d.x$i) AS w$i") :+
      s"i.b - $rate*avg($p - d.y) AS b"
    val grp = (idx.map(i => s"i.w$i") :+ "i.b").mkString(", ")
    val zero = s"${name}0 AS (SELECT ${idx.map(i => s"0.0 AS w$i").mkString(", ")}, 0.0 AS b)"
    (zero +: (1 to iters).map(k =>
      s"$name$k AS MATERIALIZED (SELECT ${upd.mkString(",\n    ")}\n  FROM $src d, $name${k - 1} i GROUP BY $grp)"))
      .mkString(",\n")
  }

  /** Mid-rank (Wilcoxon) AUC of `score` over `src` (which has y in
    * {0, 1}): `${name}_r` holds each row's midrank, `name` the row count
    * n and the auc, NULL when a class is absent.
    */
  private[queries] def sqlAuc(name: String, src: String, score: String): String =
    s"""${name}_r AS (SELECT y, rank() OVER (ORDER BY $score) + (count(*) OVER (PARTITION BY $score) - 1)/2.0 AS midrank FROM $src),
$name AS (SELECT count(*) AS n, CASE WHEN sum(y) > 0 AND sum(y) < count(*) THEN
    (sum(CASE WHEN y = 1 THEN midrank END) - sum(y)*(sum(y) + 1)/2.0) / (sum(y)*(count(*) - sum(y)))
  END AS auc FROM ${name}_r)"""

  /** Spread an under-parallel input across the session's default
    * parallelism before compute-dense per-row work (trigram explodes,
    * regex batteries): a small parquet file arrives as ONE scan split,
    * which serializes everything narrow above it on one core. No-op when
    * the scan already carries >= defaultParallelism partitions (any real
    * cluster corpus), so the round-robin exchange is only paid where it
    * buys parallel compute. Row-order-free consumers only (aggregations
    * / joins — the repo's query shapes), and round-robin repartition is
    * deterministic under retry (spark.sql.execution.sortBeforeRepartition).
    */
  private[queries] def widen(df: DataFrame): DataFrame = {
    val want = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < want) df.repartition(want) else df
  }

  /** Run independent driver-side fit chains CONCURRENTLY (guide §2.6):
    * Spark's scheduler happily runs several jobs at once inside one
    * application — a builder's actions are only sequential because the
    * driver code calls them sequentially. Each chain's internal job
    * sequence (and therefore every collected value) is unchanged; only
    * the scheduling overlaps, so results are bit-identical to the
    * sequential form while one chain's stage tails back-fill the
    * executors the other chains leave idle. Threads are daemons created
    * per call (arity-bounded — 2..6 chains at the call sites, never
    * data-sized).
    *
    * Every job a chain runs carries one job tag unique to the call. The
    * first chain to fail, in completion order, fails the call: its
    * original exception is rethrown once the other chains' threads are
    * interrupted and their running jobs cancelled by that tag.
    */
  private[queries] def parAll(tasks: Seq[() => Any]): Seq[Any] = {
    require(tasks.nonEmpty)
    if (tasks.size == 1) return Seq(tasks.head())
    import java.util.concurrent.{Callable, ExecutionException,
      ExecutorCompletionService, Executors, TimeUnit}
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(tasks.size,
      (r: Runnable) => { val t = new Thread(r, "graft-par"); t.setDaemon(true); t })
    val done = new ExecutorCompletionService[Any](pool)
    try {
      val futs = tasks.map(t => done.submit(new Callable[Any] {
        def call(): Any = {
          sc.addJobTag(tag)
          sc.setInterruptOnCancel(true)
          t()
        }
      }))
      tasks.foreach { _ =>
        try done.take().get()
        catch { case e: ExecutionException =>
          sc.cancelJobsWithTag(tag)
          pool.shutdownNow()
          // a sibling between two jobs submits its next one before it
          // sees the interrupt: cancel again once the threads are gone
          pool.awaitTermination(30, TimeUnit.SECONDS)
          sc.cancelJobsWithTag(tag)
          throw e.getCause
        }
      }
      futs.map(_.get())
    } finally pool.shutdownNow()
  }

  private[queries] def par[A, B](a: => A, b: => B): (A, B) = {
    val r = parAll(Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }

  private[queries] def par[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val r = parAll(Seq(() => a, () => b, () => c))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C])
  }

  private[queries] def par[A, B, C, D](a: => A, b: => B, c: => C,
      d: => D): (A, B, C, D) = {
    val r = parAll(Seq(() => a, () => b, () => c, () => d))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B], r(2).asInstanceOf[C],
      r(3).asInstanceOf[D])
  }

  /** Fixed per-query scratch dir under java.io.tmpdir, recursively
    * cleared on each call — repeated bench/verify invocations of the
    * store-lifecycle gates reuse ONE directory instead of leaking a
    * fresh createTempDirectory per run.
    */
  private[queries] def scratchDir(name: String): String = {
    val p = java.nio.file.Paths.get(
      sys.props.getOrElse("java.io.tmpdir", "/tmp"), name)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
    p.toString
  }
}
