package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Brute-force exact top-k is the correctness baseline: broadcast the
  * (small) query set, compute cosine with the native codegen'd vector
  * kernels ([[graft.functions.ArrayDot]] — a fused primitive loop, vs the
  * interpreted per-element lambdas of `aggregate(zip_with(...))`), rank
  * per query through the bounded native [[graft.functions.TopKAgg]]
  * (map-side-combined k-row buffers — never a single-task per-query
  * window over corpus-scale candidate lists, and never an exchange of
  * the full candidate set). The scale path buckets the corpus with
  * random-hyperplane LSH so the per-query scan touches only colliding
  * buckets.
  */
object Similarity {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
  import graft.functions.{ArrayDot, ArrayNorm, ArraySqDist, GramAgg}

  /** dot(a,b) accumulated left-to-right in double (codegen'd kernel). */
  def dot(a: Column, b: Column): Column = column(ArrayDot(expression(a), expression(b)))

  def norm(a: Column): Column = column(ArrayNorm(expression(a)))

  /** Σ(aᵢ−bᵢ)² — IVF assignment metric. */
  def sqDist(a: Column, b: Column): Column = column(ArraySqDist(expression(a), expression(b)))

  /** Divisions kept left-associated (dot/|a|/|b|) so the oracle SQL can
    * reproduce bit-identical doubles.
    */
  def cosine(a: Column, b: Column): Column = dot(a, b) / norm(a) / norm(b)

  /** Per-query top-k via the bounded native
    * [[graft.functions.TopKAgg]] — never
    * `row_number().over(Window.partitionBy(query_id))`, whose per-query
    * candidate list is CORPUS-scale for the exact twins (and
    * corpus/buckets for LSH/IVF): a single task would sort a
    * corpus-sized list per query at 100×. The aggregate's PARTIAL
    * buffers are bounded by k, so the corpus-scale candidate set
    * collapses map-side and the exchange carries |queries|·k rows at
    * any data scale — strictly tighter than the two-pass GlobalOrder
    * rank (which exchanges every candidate to rank rows it then drops);
    * a rejected candidate costs ONE comparison against the buffer tail.
    * The packed struct orders by (metric asc — desc encodes as
    * negation, bit-consistent for doubles under Double.compare — then
    * `idCol` asc), so rank = 1 + array position is bit-identical to the
    * single-task window and the oracles' row_number. Emits
    * (part…, idCol, metric, payload…, rank:long).
    */
  private def topKByQuery(scored: DataFrame, metric: String, asc: Boolean,
      idCol: String, k: Int, partNames: Seq[String] = Seq("query_id"),
      payload: Seq[String] = Nil): DataFrame =
    graft.ops.TopK.byGroup(scored, partNames, metric, asc, idCol, k, payload)

  /** Exact cosine top-k: for each query vector, the k nearest corpus
    * vectors (self excluded), ties broken by corpus id.
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    // norms hoisted to once per VECTOR before the pair grid (guide §2.3
    // shuffle/compute fewer bytes per pair): a pair pays one ArrayDot +
    // two divisions instead of one dot + two O(d) norms. Same division
    // order (dot / |q| / |c|), so the doubles are bit-identical.
    val scored = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), norm(col("embedding")).as("qn"))))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("qe"), col("ce")) / col("qn") / col("cn")).as("cos"))
    topKByQuery(scored, "cos", asc = false, "nbr_id", k)
  }

  /** Exact squared-euclidean top-k (the metric twin of [[cosineTopK]] —
    * same broadcast-scored shape, ascending distance).
    */
  def euclidTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"), sqDist(col("qe"), col("ce")).as("d2"))
    topKByQuery(scored, "d2", asc = true, "nbr_id", k)
  }

  /** Reciprocal-rank fusion of ranked candidate lists:
    * score(d) = Σ_lists 1/(C + rank_list(d)) over the lists where d
    * appears — the standard way to combine rankers with incomparable
    * scores (cosine vs euclidean vs BM25) without calibration. Ranks are
    * exact integers, so the score is a sum of exact rationals —
    * engine-reproducible to the ulp.
    */
  def rrf(lists: Seq[DataFrame], c: Int): DataFrame =
    lists.map(_.select(col("query_id"), col("nbr_id"),
        (lit(1.0) / (lit(c) + col("rank"))).as("contrib")))
      .reduce(_ unionByName _)
      .groupBy(col("query_id"), col("nbr_id"))
      .agg(sum(col("contrib")).as("rrf_score"), count(lit(1)).as("n_lists"))

  /** Hard-negative mining for contrastive training: for each query
    * vector, the k most-similar corpus vectors with a DIFFERENT label —
    * the examples a metric-learning loss gains most from. Same
    * broadcast-scored shape as [[cosineTopK]]; the label predicate
    * prunes before ranking so the rank is within true negatives.
    */
  def hardNegatives(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = corpus
      .select(col("vec_id").as("nbr_id"), col("label").as("nl"), col("embedding").as("ce"),
        norm(col("embedding")).as("cn"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"),
        col("label").as("ql"), col("embedding").as("qe"), norm(col("embedding")).as("qn"))))
      .where(col("nbr_id") =!= col("query_id") && col("nl") =!= col("ql"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("qe"), col("ce")) / col("qn") / col("cn")).as("cos"))
    topKByQuery(scored, "cos", asc = false, "nbr_id", k)
  }

  /** Embedding-cosine near-duplicate pairs: all (i<j) with cosine >= tau.
    *
    * Exact all-pairs as a CELL-PARTITIONED self-join — never a driver
    * collect (a 10⁹×d corpus doesn't fit one heap) and never a full-corpus
    * broadcast. Each vector lands in block `vec_id % blocks`; the join
    * key is the unordered block CELL (i ≤ j): the left side fans its
    * block-i rows up to every cell (i, j ≥ i), the right side fans its
    * block-j rows down to every cell (i ≤ j, j), so each unordered vector
    * pair meets in exactly one task and the O(n²) compare work hashes
    * over `blocks·(blocks+1)/2` DISTINCT join keys — parallelism grows
    * quadratically with `blocks`, not linearly with triangular skew as a
    * right-block-only key would (round-4 refinement #8). Norms are
    * computed once per row BEFORE the join, so a
    * pair costs one [[graft.functions.ArrayDot]] codegen kernel (tight
    * primitive loop, not an interpreted zip_with — measured ~30x) plus
    * two divisions. Accumulation is left-to-right and the division stays
    * `dot / |a| / |b|` with `a` = the smaller id, bit-matching the
    * oracle's sequential unnest sums. At corpus scale the LSH twin
    * ([[lshDupPairs]]) prunes candidates first; this is the exact path.
    */
  def cosineDupPairs(corpus: DataFrame, tau: Double, blocks: Int = 32): DataFrame = {
    // no array<double> cast: the kernels widen per element, and float
    // halves the bytes fanned out ~blocks/2 times through the shuffle
    val vecs = corpus.select(col("vec_id"), col("embedding").as("e"))
      .withColumn("nrm", norm(col("e")))
      .withColumn("blk", pmod(col("vec_id"), lit(blocks)).cast("int"))
    val left = vecs
      .withColumn("cj", explode(sequence(col("blk"), lit(blocks - 1))))
      .select(col("vec_id").as("lid"), col("e").as("le"), col("nrm").as("lnrm"),
        col("blk").as("ci"), col("cj"))
    val right = vecs
      .withColumn("ci", explode(sequence(lit(0), col("blk"))))
      .select(col("vec_id").as("rid"), col("e").as("re"), col("nrm").as("rnrm"),
        col("ci"), col("blk").as("cj"))
    // cross-block pairs meet once (in cell (min blk, max blk)); same-block
    // pairs land in the diagonal cell twice (both orderings) and are
    // deduped by the id order inside the join condition
    left.join(right, Seq("ci", "cj"))
      .where(col("ci") =!= col("cj") || col("lid") < col("rid"))
      .select(
        least(col("lid"), col("rid")).as("id1"),
        greatest(col("lid"), col("rid")).as("id2"),
        // divide by id1's norm FIRST — left-associated like the oracle
        (dot(col("le"), col("re"))
          / when(col("lid") < col("rid"), col("lnrm")).otherwise(col("rnrm"))
          / when(col("lid") < col("rid"), col("rnrm")).otherwise(col("lnrm"))).as("cos"))
      .where(col("cos") >= tau)
  }

  /** Pearson correlation of every embedding-dimension pair (i < j) — the
    * redundant-dimension / dead-dimension QA screen for a vector corpus.
    *
    * Runs the one-pass mergeable [[graft.functions.GramAgg]] (d sums +
    * d(d+1)/2 product sums per partition, merged once) and derives each
    * pair's correlation in closed form from the single Gram row — the
    * composable posexplode-self-join twin would shuffle n·d(d+1)/2 rows,
    * 2e12 at n=1e9, d=64. The two explodes below run on ONE row (the
    * aggregate result), so the pair expansion costs d(d+1)/2 rows total,
    * not per input row. Pairs touching a zero-variance dimension emit
    * NULL (matching SQL `corr`).
    */
  def dimCorrPairs(corpus: DataFrame): DataFrame = {
    val g = corpus.agg(column(GramAgg(expression(col("embedding")))
      .toAggregateExpression()).as("g"))
    // i stops at d-2: sequence() auto-steps DOWNWARD when start > stop,
    // so an i = d-1 row would yield a phantom j = d pair. Same footgun at
    // d < 2 (or an empty corpus, where the Gram row is null): sequence(0, d-2)
    // would descend and emit phantom negative-index rows — no pairs exist,
    // so filter those inputs out before the explode.
    g.where(col("g").isNotNull && expr("int(g[1])") >= 2)
      .select(col("g"), explode(sequence(lit(0), expr("int(g[1]) - 2"))).as("i"))
      .select(col("g"), col("i"),
        explode(sequence(col("i") + 1, expr("int(g[1]) - 1"))).as("j"))
      .select(col("i"), col("j"), expr(
        """CASE WHEN g[0] * g[2 + int(g[1]) + i * int(g[1]) - (i * (i - 1)) div 2] - g[2 + i] * g[2 + i] > 0
                 AND g[0] * g[2 + int(g[1]) + j * int(g[1]) - (j * (j - 1)) div 2] - g[2 + j] * g[2 + j] > 0
           THEN (g[0] * g[2 + int(g[1]) + i * int(g[1]) - (i * (i - 1)) div 2 + (j - i)] - g[2 + i] * g[2 + j])
                / sqrt(g[0] * g[2 + int(g[1]) + i * int(g[1]) - (i * (i - 1)) div 2] - g[2 + i] * g[2 + i])
                / sqrt(g[0] * g[2 + int(g[1]) + j * int(g[1]) - (j * (j - 1)) div 2] - g[2 + j] * g[2 + j])
           END""").as("corr"))
  }

  /** Int8 scalar quantization QA: quantize every dimension to 256 levels
    * over its corpus [min, max] range and report each vector's
    * reconstruction MSE (in ppm — the raw MSE of a unit-ish embedding is
    * ~1e-4, below output rounding) — the storage-shrink step vector
    * indexes run (4 bytes -> 1 byte/dim) plus the QA screen for vectors
    * the codebook represents worst. Per-dim ranges are one n·d-row
    * aggregation (at corpus scale a sample suffices — ranges, not means,
    * saturate fast) broadcast back as a d-row table; everything after is
    * a narrow map + one doc_id aggregation. All arithmetic up to the
    * final mean is identical closed-form per element on any engine;
    * `floor(x + 0.5)` is used instead of `round` (Spark's round routes
    * positive doubles through BigDecimal shortest-repr).
    */
  def quantError(corpus: DataFrame): DataFrame = {
    val x = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "v")))
      .select(col("vec_id"), col("i"), col("v").cast("double").as("v"))
    val stats = x.groupBy(col("i")).agg(min(col("v")).as("lo"), max(col("v")).as("hi"))
    x.join(broadcast(stats), "i")
      .withColumn("code", when(col("hi") === col("lo"), lit(0.0))
        .otherwise(floor((col("v") - col("lo")) / (col("hi") - col("lo")) * 255 + 0.5)))
      .withColumn("deq", col("lo") + col("code") / 255 * (col("hi") - col("lo")))
      .groupBy(col("vec_id"))
      .agg((avg((col("v") - col("deq")) * (col("v") - col("deq"))) * 1e6).as("mse_ppm"))
  }

  /** IVF (inverted-file) index: deterministic coarse quantizer — seed
    * centroids are the `k` lowest-id vectors refined by `iters` Lloyd
    * steps (elementwise means via posexplode/groupBy — no driver math),
    * then each vector is assigned to its nearest centroid. Search probes
    * the `nprobe` nearest centroid lists per query with exact cosine.
    */
  def ivfAssign(corpus: DataFrame, k: Int, iters: Int): (DataFrame, DataFrame) = {
    var centroids = corpus.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").cast("array<double>").as("ce"))
    (0 until iters).foreach { _ =>
      val assigned = assign(corpus, centroids)
      centroids = assigned
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos")).agg(avg(col("col")).as("v"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("ce"))
    }
    (assign(corpus, centroids), centroids)
  }

  /** Nearest-centroid assignment against a (cid, ce) frame — shared by
    * the IVF/SemDeDup family and the frozen semantic gate's index build.
    */
  def assignTo(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assign(corpus, centroids)

  private def assign(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val d2 = sqDist(col("embedding"), col("ce"))
    // argmin as a min-struct aggregate, not a per-vector window: the
    // broadcast crossJoin leaves each vector's k candidate rows
    // CONTIGUOUS in its input partition, so the partial (map-side)
    // aggregate collapses them to ONE row per vector before any
    // exchange — the window form shuffled all n·k rows. Struct
    // comparison is (d2, cid) lexicographic: exactly the window's
    // (d2 asc, cid asc) rank-1 tie rule. `first(embedding)` is
    // deterministic — every candidate row carries the same vector.
    corpus.crossJoin(broadcast(centroids))
      .select(col("vec_id"), col("embedding"), col("cid"), d2.as("d2"))
      .groupBy(col("vec_id"))
      .agg(first(col("embedding")).as("embedding"),
        min(struct(col("d2"), col("cid"))).getField("cid").as("cid"))
      .select(col("vec_id"), col("embedding"), col("cid"))
  }

  /** Product-quantization ADC search (Jégou et al. 2011, "Product
    * Quantization for Nearest Neighbor Search"): the vector splits into
    * `m` subspaces of `dim/m` coordinates, each subspace gets a `ksub`-
    * centroid codebook (deterministic seed quantizer — the `ksub`
    * lowest-id vectors' subvectors, the q59 discipline that keeps the
    * chain oracle-exact), and every corpus vector compresses to `m`
    * small codes. A query scans CODES, not vectors: one `m`×`ksub`
    * lookup table of query-to-centroid distances per query, then each
    * candidate's asymmetric distance is the sum of `m` table entries —
    * the memory-bound regime where 64 floats become 8 bytes per vector.
    *
    * Ranking is over the 4 dp-rounded ADC (ties → nbr id): two vectors
    * sharing every code have EQUAL true distance, and raw float sums
    * would leave that tie to summation order.
    */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             dim: Int, m: Int, ksub: Int): DataFrame = {
    require(dim % m == 0, s"pqTopK: dim $dim not divisible into $m subspaces")
    pqAdcTopK(corpus, queries, k, dim, m,
      pqSeedCodebooks(corpus, dim, m, ksub))
  }

  /** The deterministic seed codebooks (m, c, ce): subspace slices of the
    * `ksub` lowest-id vectors — the q59 discipline that keeps the chain
    * oracle-exact without training.
    */
  private def pqSeedCodebooks(corpus: DataFrame, dim: Int, m: Int,
      ksub: Int): DataFrame = {
    val dsub = dim / m
    val sub = (e: Column, mm: Column) => slice(e, mm * lit(dsub) + lit(1), lit(dsub))
    corpus.orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id").cast("int").as("c"),
        col("embedding").cast("array<double>").as("e"))
      .select(explode(array((0 until m).map(lit): _*)).as("m"), col("c"),
        sub(col("e"), col("m")).as("ce"))
  }

  /** TRAINED per-subspace codebooks: the seed codebooks refined by
    * `iters` Lloyd steps with every centroid coordinate re-rounded
    * through the engine quantum (the q170/q255 discipline, so a DuckDB
    * oracle replays the identical codebook matrix) — the production
    * quantizer Jégou et al. §III train, vs the seed shortcut. ALL `m`
    * subspaces ride ONE fused chain: the subspace id is a key column, so
    * each Lloyd step is one broadcast-assign (map-side-combined argmin)
    * plus one (m, c, pos)-keyed mean, not m separate job chains. A
    * centroid that attracts no points drops out (standard Lloyd death).
    */
  def pqCodebooksTrained(corpus: DataFrame, dim: Int, m: Int, ksub: Int,
      iters: Int): DataFrame = {
    require(dim % m == 0,
      s"pqCodebooksTrained: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val sub = (e: Column, mm: Column) => slice(e, mm * lit(dsub) + lit(1), lit(dsub))
    val pts = corpus.select(col("vec_id"),
        explode(array((0 until m).map(mm =>
          struct(lit(mm).as("m"),
            sub(col("embedding"), lit(mm)).as("sv"))): _*)).as("e"))
      .select(col("e.m").as("m"), col("vec_id"),
        col("e.sv").cast("array<double>").as("sv"))
    var cent = pqSeedCodebooks(corpus, dim, m, ksub)
    (0 until iters).foreach { _ =>
      val assigned = pts.join(broadcast(cent), Seq("m"))
        .select(col("m"), col("vec_id"), col("sv"),
          sqDist(col("sv"), col("ce")).as("d2"), col("c"))
        .groupBy(col("m"), col("vec_id"))
        .agg(first(col("sv")).as("sv"),
          min(struct(col("d2"), col("c"))).getField("c").as("c"))
      cent = assigned.select(col("m"), col("c"), posexplode(col("sv")))
        .groupBy(col("m"), col("c"), col("pos"))
        .agg(graft.queries.r6(avg(col("col"))).as("v"))
        .groupBy(col("m"), col("c"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("ce"))
    }
    cent
  }

  /** [[pqTopK]] with TRAINED codebooks ([[pqCodebooksTrained]]) — same
    * ADC machinery, better-fitting cells; q277 reports the recall the
    * training buys over the seed quantizer.
    */
  def pqTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int, m: Int, ksub: Int, iters: Int): DataFrame = {
    require(dim % m == 0, s"pqTopKTrained: dim $dim not divisible into $m subspaces")
    pqAdcTopK(corpus, queries, k, dim, m,
      pqCodebooksTrained(corpus, dim, m, ksub, iters))
  }

  /** Two-stage retrieval (the production ANN serving shape — FAISS's
    * re-rank pattern): a cheap PQ ADC pass shortlists `shortlist`
    * candidates per query, then EXACT squared-euclidean re-ranks the
    * shortlist down to `k`. The shortlist frame is eval-set-sized
    * (|queries|·shortlist rows) and BROADCASTS against the corpus, so
    * the exact kernel runs on shortlist rows only — never corpus-wide.
    * Guarantee: any true neighbor the shortlist contains is recovered
    * (exact rank within a superset ≤ global rank), so re-rank recall
    * dominates the raw ADC top-k's (the q280 gate's assertion).
    */
  def pqRerankTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      shortlist: Int, dim: Int, m: Int, ksub: Int): DataFrame = {
    require(shortlist >= k, s"pqRerankTopK: shortlist $shortlist < k $k")
    val short = pqTopK(corpus, queries, shortlist, dim, m, ksub)
      .select(col("query_id"), col("nbr_id"))
    val scored = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("ce"))
      .join(broadcast(short), Seq("nbr_id"))
      .join(broadcast(queries.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"))), Seq("query_id"))
      .select(col("query_id"), col("nbr_id"), sqDist(col("qe"), col("ce")).as("d2"))
    topKByQuery(scored, "d2", asc = true, "nbr_id", k)
  }

  /** The shared ADC search over a (m, c, ce) codebook frame: encode the
    * corpus, build the per-query lookup table, sum rounded asymmetric
    * distances, rank via the two-pass GlobalOrder.
    */
  private def pqAdcTopK(corpus: DataFrame, queries: DataFrame, k: Int,
      dim: Int, m: Int, cent: DataFrame): DataFrame = {
    val dsub = dim / m
    val sub = (e: Column, mm: Column) => slice(e, mm * lit(dsub) + lit(1), lit(dsub))
    // code = argmin_c ||subvector − centroid||² (tie → lowest c); the
    // min-struct aggregate is the shuffle-free argmax idiom
    val codes = corpus.select(col("vec_id"), col("embedding"))
      .crossJoin(broadcast(cent))
      .select(col("vec_id"), col("m"), col("c"),
        sqDist(sub(col("embedding"), col("m")), col("ce")).as("d2"))
      .groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d2"), col("c"))).getField("c").as("code"))
    val lut = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .crossJoin(broadcast(cent))
      .select(col("query_id"), col("m").as("lm"), col("c").as("lc"),
        sqDist(sub(col("qe"), col("m")), col("ce")).as("ld"))
    val adc = codes
      .join(broadcast(lut),
        col("m") === col("lm") && col("code") === col("lc") &&
          col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(graft.queries.r6(sum(col("ld"))).as("adc"))
    topKByQuery(adc, "adc", asc = true, "vec_id", k)
      .select(col("query_id"), col("vec_id").as("nbr_id"), col("rank"), col("adc"))
  }

  /** IVF-PQ (the FAISS `IndexIVFPQ` composition): the [[ivfAssign]]
    * coarse quantizer routes the search to `nprobe` inverted lists, and
    * within them candidates are scanned by [[pqTopK]]-style asymmetric
    * distance over RESIDUAL codes (vector − its coarse centroid) — the
    * residual's smaller dynamic range is what lets 8 codes carry a
    * useful distance at corpus scale. Both quantizers are the
    * deterministic seed form (first `nlist` vectors / first `ksub`
    * residuals), keeping the whole chain oracle-exact; the per-query
    * lookup table is built per PROBED LIST because the query residual
    * differs per list. Ranking over rounded ADC as in [[pqTopK]].
    */
  def ivfPqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
                dim: Int, m: Int, ksub: Int, nlist: Int, nprobe: Int,
                coarseIters: Int = 0): DataFrame = {
    require(dim % m == 0, s"ivfPqTopK: dim $dim not divisible into $m subspaces")
    val dsub = dim / m
    val sub = (e: Column, mm: Column) => slice(e, mm * lit(dsub) + lit(1), lit(dsub))
    // coarseIters > 0 trains the coarse level (rounded Lloyd — the same
    // replayable refinement q277 gave the PQ level); 0 keeps the q258
    // seed contract
    val coarse =
      if (coarseIters > 0) lloydCentroidsRounded(corpus, nlist, coarseIters)
      else corpus.orderBy(col("vec_id")).limit(nlist)
        .select(col("vec_id").cast("int").as("cid"),
          col("embedding").cast("array<double>").as("ce"))
    val residual = (e: Column, ce: Column) =>
      zip_with(e, ce, (a, b) => a.cast("double") - b)
    val res = assign(corpus, coarse).join(broadcast(coarse), "cid")
      .select(col("vec_id"), col("cid"),
        residual(col("embedding"), col("ce")).as("r"))
    // skip the coarse seeds themselves: their residuals are exact zeros
    // and would fill the codebook with duplicate centroids
    val rcent = res
      .join(broadcast(coarse.select(col("cid").cast("long").as("vec_id"))),
        Seq("vec_id"), "left_anti")
      .orderBy(col("vec_id")).limit(ksub)
      .select(col("vec_id").cast("int").as("c"), col("r").as("e"))
      .select(explode(array((0 until m).map(lit): _*)).as("m"), col("c"),
        sub(col("e"), col("m")).as("rce"))
    val codes = res.crossJoin(broadcast(rcent))
      .select(col("vec_id"), col("cid"), col("m"), col("c"),
        sqDist(sub(col("r"), col("m")), col("rce")).as("d2"))
      .groupBy(col("vec_id"), col("cid"), col("m"))
      .agg(min(struct(col("d2"), col("c"))).getField("c").as("code"))
    // probed lists per query (q59 shape), each carrying the query's
    // per-list residual for the lookup table. The probe rank also rides
    // the bounded aggregate: nlist is model-sized here but grows as
    // sqrt(corpus) in production, and the PlanSpec gate asserts NO
    // query-partitioned window anywhere in the family.
    val qd2 = sqDist(col("qe"), col("ce"))
    val probes = topKByQuery(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        .crossJoin(broadcast(coarse.select(col("cid").as("pcid"), col("ce"))))
        .select(col("query_id"), col("pcid"), qd2.as("d2"),
          residual(col("qe"), col("ce")).as("qr")),
      "d2", asc = true, "pcid", nprobe, payload = Seq("qr")).drop("rank")
    val lut = probes.crossJoin(broadcast(rcent))
      .select(col("query_id"), col("pcid"), col("m").as("lm"), col("c").as("lc"),
        sqDist(sub(col("qr"), col("m")), col("rce")).as("ld"))
    val adc = codes
      .join(broadcast(lut),
        col("cid") === col("pcid") && col("m") === col("lm") &&
          col("code") === col("lc") && col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(graft.queries.r6(sum(col("ld"))).as("adc"))
    topKByQuery(adc, "adc", asc = true, "vec_id", k)
      .select(col("query_id"), col("vec_id").as("nbr_id"), col("rank"), col("adc"))
  }

  /** Matryoshka / truncated-dimension recall sweep (Kusupati et al.
    * 2022, arXiv:2205.13147): exact cosine top-k at each PREFIX dimension
    * in `dims`, scored against the full-`fullDim` top-k — the QA report
    * that tells an ANN deployment how many leading coordinates it can
    * keep (4× memory/bandwidth at d=16 of 64) before recall collapses.
    * One generic plan: the candidate×query grid explodes over the dim
    * set, slices both vectors to the prefix, and ranks per (query, d);
    * recall joins each truncated list against the full-dim list.
    */
  def truncatedRecall(corpus: DataFrame, queries: DataFrame, k: Int,
                      dims: Seq[Int], fullDim: Int): DataFrame = {
    val dimsAll = (dims :+ fullDim).distinct
    val scored = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("ce"))
      .crossJoin(broadcast(queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))))
      .where(col("nbr_id") =!= col("query_id"))
      .withColumn("d", explode(array(dimsAll.map(lit): _*)))
      .select(col("query_id"), col("nbr_id"), col("d"),
        cosine(slice(col("qe"), lit(1), col("d")),
          slice(col("ce"), lit(1), col("d"))).as("cos"))
    val topk = topKByQuery(scored, "cos", asc = false, "nbr_id", k,
        partNames = Seq("query_id", "d"))
      .localCheckpoint()
    val full = topk.where(col("d") === fullDim)
      .select(col("query_id").as("fq"), col("nbr_id").as("fn"))
    topk.join(full, col("query_id") === col("fq") && col("nbr_id") === col("fn"),
        "left")
      .groupBy(col("query_id"), col("d"))
      .agg(sum(when(col("fn").isNotNull, 1L).otherwise(0L)).as("n_hits"))
      .select(col("query_id"), col("d").cast("long").as("d"), col("n_hits"),
        graft.queries.r6(col("n_hits").cast("double") / k).as("recall"))
  }

  /** [[ivfAssign]] with each refined centroid coordinate re-rounded
    * through the engine quantum (`graft.queries.r6`) before it re-enters
    * the distance arithmetic — the q170-kmeans discipline that keeps an
    * unrolled Lloyd chain replayable by a DuckDB oracle despite the two
    * engines' different partial-sum orders inside `avg`. Seed = the `k`
    * lowest-id vectors (exact float→double, nothing to round).
    */
  def lloydAssignRounded(corpus: DataFrame, k: Int, iters: Int): DataFrame =
    assign(corpus, lloydCentroidsRounded(corpus, k, iters))

  /** The rounded-Lloyd centroid frame (cid, ce) itself — the frozen
    * quantizer an incremental pass re-uses to place DELTA vectors into
    * yesterday's clusters ([[semDedupDelta]]).
    */
  def lloydCentroidsRounded(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    var centroids = corpus.orderBy(col("vec_id")).limit(k)
      .select(col("vec_id").cast("int").as("cid"),
        col("embedding").cast("array<double>").as("ce"))
    (0 until iters).foreach { _ =>
      centroids = assign(corpus, centroids)
        .select(col("cid"), posexplode(col("embedding")))
        .groupBy(col("cid"), col("pos"))
        .agg(graft.queries.r6(avg(col("col"))).as("v"))
        .groupBy(col("cid"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("v")))),
          s => s.getField("v")).as("ce"))
    }
    centroids
  }

  /** Incremental SemDeDup — the delta-vs-frozen-corpus member of the
    * semantic family, completing the dedup matrix's incremental column
    * (exact→q154, minhash→q154, simhash→q260, semantic→here): cluster
    * YESTERDAY's corpus once (rounded Lloyd), place each delta vector
    * into its nearest frozen centroid, and compare it against the INDEX
    * members of that one cluster only — Σ|delta_c|·|index_c|, never
    * delta×corpus. A delta vector with any index mate at or above `tau`
    * (4 dp cosine) is a known vector and contributes no new mass.
    *
    * Output per delta vector: cluster_id, n_index_mates, n_dups,
    * best_cos/best_match_id (highest rounded cosine, lowest id on
    * ties; NULL when the cluster holds no index member), kept.
    */
  def semDedupDelta(index: DataFrame, delta: DataFrame, k: Int, iters: Int,
                    tau: Double): DataFrame = {
    val cent = lloydCentroidsRounded(index, k, iters)
      .localCheckpoint()
    val ai = assign(index, cent)
      .select(col("cid"), col("vec_id").as("iid"), col("embedding").as("ie"),
        norm(col("embedding")).as("inrm"))
    val ad = assign(delta, cent)
    // norms once per vector, not once per cluster-mate pair (same
    // hoist as [[cosineDupPairs]]; division order unchanged)
    val pairs = ad.withColumn("dnrm", norm(col("embedding"))).join(ai, Seq("cid"))
      .select(col("vec_id"), col("cid"), col("iid"),
        // divide by the DELTA side's norm first (left-associated)
        graft.queries.r6(dot(col("embedding"), col("ie")) / col("dnrm") / col("inrm"))
          .as("cos"))
    val per = pairs.groupBy(col("vec_id"))
      .agg(count(lit(1)).as("n_index_mates"),
        sum(when(col("cos") >= tau, 1L).otherwise(0L)).as("n_dups"),
        // max struct on (cos, -iid): ties on the rounded cosine resolve
        // to the LOWEST index id
        max(struct(col("cos"), (-col("iid")).as("ni"))).as("b"))
    ad.select(col("vec_id"), col("cid").cast("long").as("cluster_id"))
      .join(per, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster_id"),
        coalesce(col("n_index_mates"), lit(0L)).as("n_index_mates"),
        coalesce(col("n_dups"), lit(0L)).as("n_dups"),
        col("b.cos").as("best_cos"),
        (-col("b.ni")).as("best_match_id"),
        (coalesce(col("n_dups"), lit(0L)) === 0L).as("kept"))
  }

  /** SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic near-dup
    * pruning with the pair space PARTITIONED by a k-means coarse
    * quantizer — exact cosine is computed only between cluster-mates, so
    * the cost is Σ|cluster|² instead of n² (the paper's point: k grows
    * with the corpus, cluster size stays bounded). Deterministic keep
    * rule (the reproducible variant of the paper's random representative):
    * a vector is pruned iff some LOWER-id cluster-mate sits above `tau`
    * in 4 dp-rounded cosine, so the lowest id of every semantic group
    * always survives. The within-cluster join is an equi-join on the
    * cluster id — never all-pairs — and the k-row size table broadcasts.
    *
    * Output: one row per vector — cluster_id, cluster_n, n_prev_dups
    * (above-`tau` lower-id mates), max_prev_cos (4 dp, NULL when kept),
    * kept; with `withBestPrev` also best_prev_id (the mate at the
    * highest cosine, lowest id on ties — the q293 drill-down column).
    * Opt-in because the max-struct fold it needs is the one part of the
    * dups aggregate a plain max cannot carry (the VERDICT-r15 q255
    * bisect: only the drill-down consumer should pay for it).
    */
  def semDedup(corpus: DataFrame, k: Int, iters: Int, tau: Double,
      withBestPrev: Boolean = false): DataFrame = {
    val assigned = lloydAssignRounded(corpus, k, iters)
      .localCheckpoint()
    // norms once per vector, not once per cluster-mate pair: a pair
    // costs one ArrayDot + two divisions (the [[cosineDupPairs]] hoist;
    // division order unchanged, so the doubles are bit-identical)
    val side = assigned.select(col("cid"), col("vec_id"), col("embedding").as("e"),
      norm(col("embedding")).as("nrm"))
    val pairs = side.as("x").join(side.as("y"),
        col("x.cid") === col("y.cid") && col("x.vec_id") < col("y.vec_id"))
      .select(col("y.vec_id").as("vec_id"), col("x.vec_id").as("prev_id"),
        // divide by the SMALLER id's norm first — left-associated like
        // the oracle's sequential unnest sums
        graft.queries.r6(dot(col("x.e"), col("y.e")) / col("x.nrm") / col("y.nrm"))
          .as("cos"))
    val baseAggs = Seq(count(lit(1)).as("n_prev_dups"),
      max(col("cos")).as("max_prev_cos"))
    // the best mate itself (highest cos, LOWEST prev id on ties —
    // negate inside the max-struct, un-negate after): the drill-down
    // column q293's disagreement audit reports
    val bestAgg = (-max(struct(col("cos"), (-col("prev_id")).as("ni")))
      .getField("ni")).as("best_prev_id")
    val aggs = if (withBestPrev) baseAggs :+ bestAgg else baseAggs
    val dups = pairs.where(col("cos") >= tau)
      .groupBy(col("vec_id"))
      .agg(aggs.head, aggs.tail: _*)
    val sizes = assigned.groupBy(col("cid")).agg(count(lit(1)).as("cluster_n"))
    val tailCols = if (withBestPrev)
      Seq(col("max_prev_cos"), col("best_prev_id")) else Seq(col("max_prev_cos"))
    assigned.select(col("vec_id"), col("cid"))
      .join(broadcast(sizes), "cid")
      .join(dups, Seq("vec_id"), "left")
      .select(Seq(col("vec_id"), col("cid").cast("long").as("cluster_id"),
        col("cluster_n"),
        coalesce(col("n_prev_dups"), lit(0L)).as("n_prev_dups")) ++
        tailCols :+ col("n_prev_dups").isNull.as("kept"): _*)
  }

  /** IVF-probed approximate top-k (recall vs [[cosineTopK]] is asserted
    * in tests).
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nlist: Int, nprobe: Int, iters: Int = 2): DataFrame = {
    val (assigned, centroids) = ivfAssign(corpus, nlist, iters)
    ivfScan(assigned, centroids, queries, k, nprobe)
  }

  /** [[ivfTopK]] with a TRAINED coarse quantizer — the rounded-Lloyd
    * refinement ([[lloydCentroidsRounded]], the q170/q255 discipline
    * that keeps every refined coordinate DuckDB-replayable) in place of
    * the seed/unrounded forms, completing the FAISS composition at the
    * COARSE level the way q277 completed the PQ level (VERDICT-r14
    * item 3). q292 reports the recall the coarse training buys over the
    * q59 seed quantizer.
    */
  def ivfTopKTrained(corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int, nprobe: Int, coarseIters: Int): DataFrame = {
    val centroids = lloydCentroidsRounded(corpus, nlist, coarseIters)
    ivfScan(assign(corpus, centroids), centroids, queries, k, nprobe)
  }

  /** The shared IVF probe + in-list exact scan over a frozen
    * (assigned, centroids) pair: probe rank and result rank both ride
    * the bounded TopKAgg; the probe frame broadcasts.
    */
  private def ivfScan(assigned: DataFrame, centroids: DataFrame,
      queries: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val qd2 = sqDist(col("qe"), col("ce"))
    val probes = topKByQuery(
      queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"))
        .crossJoin(broadcast(centroids))
        .select(col("query_id"), col("qe"), col("cid"), qd2.as("d2")),
      "d2", asc = true, "cid", nprobe, payload = Seq("qe"))
      .select(col("query_id"), col("qe"), norm(col("qe")).as("qn"), col("cid"))
    // corpus-side norm once per vector before the probe join (the
    // [[cosineDupPairs]] hoist; division order unchanged)
    val scored = assigned.withColumn("en", norm(col("embedding")))
      .join(broadcast(probes), Seq("cid"))
      .where(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("nbr_id"),
        (dot(col("qe"), col("embedding")) / col("qn") / col("en")).as("cos"))
    topKByQuery(scored, "cos", asc = false, "nbr_id", k)
  }

  /** Random-hyperplane LSH signature: bit p is the sign of the projection
    * onto plane p, whose components are deterministic pseudo-randoms in
    * [-1,1) derived from md5(p:dim) — reproducible anywhere, no RNG state.
    */
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Plane `p`'s component along dimension `d`: a deterministic
    * pseudo-random double in [-1,1) from md5(p:d) — the same literal is
    * embedded in the DuckDB oracle, so signatures are reproducible
    * engine-independently.
    */
  def planeCoef(p: Int, d: Int): Double = {
    val u = java.lang.Long.parseLong(md5Hex(s"$p:$d").substring(0, 15), 16)
    (u.toDouble / (1L << 60).toDouble) * 2.0 - 1.0
  }

  def lshSignature(emb: Column, planes: Int, dim: Int): Column = {
    val bits = (0 until planes).map { p =>
      // plane as a literal array through the ArrayDot kernel: same
      // left-to-right accumulation as an unrolled sum (oracle-bit-equal),
      // but 8 tight loops instead of a 512-node expression tree
      val plane = array((0 until dim).map(d => lit(planeCoef(p, d))): _*)
      when(dot(emb, plane) > 0, lit(1L << p)).otherwise(0L)
    }
    bits.reduce(_ + _)
  }

  /** LSH-bucketed near-duplicate PAIR mining — the scale twin of
    * [[cosineDupPairs]]: only vectors sharing a bucket are compared, so
    * the all-pairs O(n²) scan becomes an equality join on the signature.
    * High-cosine pairs land in the same bucket with probability
    * (1 - θ/π)^planes; recall vs the exact kernel is asserted in tests.
    */
  def lshDupPairs(corpus: DataFrame, tau: Double, planes: Int, dim: Int): DataFrame = {
    val b = corpus.select(col("vec_id"), col("embedding"),
      norm(col("embedding")).as("nrm"),
      lshSignature(col("embedding"), planes, dim).as("bucket"))
    b.as("a").join(b.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"),
        (dot(col("a.embedding"), col("b.embedding")) / col("a.nrm") / col("b.nrm"))
          .as("cos"))
      .where(col("cos") >= tau)
  }

  /** Bucketed approximate top-k: candidates share the query's LSH bucket;
    * exact cosine within the bucket. Recall vs [[cosineTopK]] is asserted
    * in tests.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int, planes: Int, dim: Int): DataFrame = {
    val cb = corpus.select(col("vec_id").as("nbr_id"), col("embedding").as("ce"),
      norm(col("embedding")).as("cn"),
      lshSignature(col("embedding"), planes, dim).as("bucket"))
    val qb = queries.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
      norm(col("embedding")).as("qn"),
      lshSignature(col("embedding"), planes, dim).as("bucket"))
    val scored = cb.join(broadcast(qb), Seq("bucket"))
      .where(col("nbr_id") =!= col("query_id"))
      .select(col("query_id"), col("nbr_id"),
        (dot(col("qe"), col("ce")) / col("qn") / col("cn")).as("cos"))
    topKByQuery(scored, "cos", asc = false, "nbr_id", k)
  }
}
