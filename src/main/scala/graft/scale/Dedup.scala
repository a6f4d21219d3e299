package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash),
  * n-gram Jaccard, MinHash+LSH, SimHash.
  *
  * Hashes are md5-derived so every stage is reproducible in ANSI SQL
  * (the DuckDB oracle builds the same integers from the same hex) — no
  * engine-private hash functions in the contract. At 100 TB the shapes
  * stay shuffle-friendly: shingling is a narrow flatMap, signatures are
  * one groupBy(doc), LSH banding turns all-pairs similarity into
  * equality joins on band keys.
  */
object Dedup {

  /** 60-bit integer from the first 15 hex chars of md5(s). */
  def md5Long(s: Column): Column = conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  /** 32-bit integer from the first 8 hex chars of md5(s). */
  def md5Int(s: Column): Column = conv(substring(md5(s), 1, 8), 16, 10).cast("long")

  /** Exact duplicate grouping: canonical id = min doc id per content hash. */
  def exactGroups(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val w = Window.partitionBy(md5(text))
    docs.select(id.as("doc_id"),
      min(id).over(w).as("canonical_id"),
      count(lit(1)).over(w).as("dup_count"),
      TextOps.fingerprint(text).as("fingerprint"))
  }

  /** Exact duplicate-SPAN report — the C4/RefinedWeb "exact substring
    * dedup" pass next to the fuzzy (MinHash) family: every POSITIONAL
    * k-token span is counted across the whole corpus (within-doc repeats
    * included — C4's any-repeat rule); a span whose text occurs more
    * than once anywhere is duplicated, and each doc reports how many of
    * its tokens sit under at least one duplicated span. Coverage is an
    * exact interval union: per doc, spans sorted by position, each
    * contributing its end minus the farthest end already covered
    * (clamped at its own start) — pure integer window arithmetic.
    *
    * Columns: doc_id, n_tokens, n_spans, n_dup_spans, covered_tokens.
    * The reference has no exact-substring stage (engine extension for
    * the pretraining pipeline).
    *
    * Scale shape: one narrow positional-shingle explode, ONE hash
    * aggregation on the span text, one equi-join back on the span, and
    * a per-doc window (documents are bounded, so the partition is too).
    * No all-pairs joins; the span-count aggregation is the only
    * corpus-wide exchange.
    */
  def duplicateSpanReport(docs: DataFrame, id: Column, text: Column,
      k: Int): DataFrame = {
    require(k >= 2, s"duplicateSpanReport: k must be >= 2, got $k")
    // coalesce: a null text must read as 0 tokens (size(null) is -1),
    // matching the oracle's coalesced token array
    val toks = coalesce(regexp_extract_all(lower(text), lit("\\S+"), lit(0)),
      array().cast("array<string>"))
    val base = docs.select(id.as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), size(col("toks")).cast("long").as("n_tokens"),
        col("toks"))
    val spans = base.where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => array_join(slice(col("toks"), i, lit(k)), " "))))
      .toDF("doc_id", "pos", "span")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("span"))
    val counts = spans.groupBy(col("span")).agg(count(lit(1)).as("__c"))
    val dup = spans.join(counts.where(col("__c") > 1), "span")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = greatest(lit(0L), (col("pos") + lit(k.toLong)) -
      greatest(col("pos"), coalesce(max(col("pos") + lit(k.toLong)).over(w), lit(0L))))
    val perDoc = dup.select(col("doc_id"), contrib.as("__cv"))
      .groupBy(col("doc_id"))
      .agg(sum(col("__cv")).as("__covered"), count(lit(1)).as("__ndup"))
    base.drop("toks").join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens") - (k - 1), lit(0L)).as("n_spans"),
        coalesce(col("__ndup"), lit(0L)).as("n_dup_spans"),
        coalesce(col("__covered"), lit(0L)).as("covered_tokens"))
  }

  /** Distinct lowercase word `n`-gram shingles per doc: (doc_id, shingle).
    * Docs with fewer than n tokens contribute no shingles.
    *
    * Dedup happens INSIDE the row (`array_distinct` before the explode):
    * a shingle can only repeat within its own document, so the global
    * `.distinct()` exchange the naive form pays is pure waste — this form
    * is a narrow map at any scale.
    */
  def shingles(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val toks = regexp_extract_all(lower(text), lit("\\S+"), lit(0))
    val grams = when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => array_join(slice(col("toks"), i, lit(n)), " ")))
      .otherwise(array().cast("array<string>"))
    docs.select(id.as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), explode(array_distinct(grams)).as("shingle"))
  }

  /** Top-k most similar doc pairs by exact shingle-set Jaccard.
    * Shingles present in more than `dfCut` docs are dropped before pairing
    * (the standard document-frequency cut that bounds the inverted-index
    * join against quadratic hub blowup); set sizes are counted AFTER the
    * cut, so jaccard is over retained shingles.
    */
  def jaccardTopK(docs: DataFrame, id: Column, text: Column, n: Int,
                  dfCut: Int, k: Int): DataFrame = {
    // ONE exchange builds the whole inverted index: narrow shingling,
    // repartition by shingle, then the df-cut as a count-window and the
    // posting lists as a groupBy(shingle), both REUSING that partitioning
    // (local sorts only, no second exchange). The posting lists are
    // checkpointed AFTER the groupBy because a checkpoint does not keep
    // its input's hash partitioning: the set sizes and the pair
    // expansion both read them and neither needs it.
    val postings = shingles(docs, id, text, n)
      .repartition(col("shingle"))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("shingle"))))
      .where(col("df") <= dfCut)
      .groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("doc_id"))).as("cs"))
      .localCheckpoint()
    // post-cut set sizes: tiny (one row per doc) — joined onto the
    // AGGREGATED pair table, so AQE broadcasts them at test SF while the
    // same plan stays a shuffle join at corpus scale
    val sizes = postings.select(explode(col("cs")).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // pair expansion per posting list instead of the inverted-index
    // self-join: the df-cut bounds every list at `dfCut` docs, so the
    // C(df,2) expansion is a narrow map — the self-join's probe
    // exchanges disappear and the pair count partial-aggregates map-side.
    // Timed even with the codegen self-join at sf0.1 (~1.7 s both); kept
    // for the exchange profile, which is what matters at corpus scale.
    postings.where(size(col("cs")) >= 2)
      .select(explode(flatten(expr(
        """transform(cs, (x, i) ->
          |  transform(slice(cs, i + 2, size(cs)),
          |            y -> named_struct('doc1', x, 'doc2', y)))""".stripMargin)))
        .as("p"))
      .groupBy(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), "doc1")
      .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), "doc2")
      .select(col("doc1"), col("doc2"), col("inter"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))
      .orderBy(col("jaccard").desc, col("doc1").asc, col("doc2").asc)
      .limit(k)
  }

  /** MinHash permutation constants: (a_i, b_i) for
    * h_i(x) = (a_i * (x mod P) + b_i) mod P. P prime > 2^32; a < 2^29 keeps
    * a*(x mod P) < 2^62 — no 64-bit overflow in either engine.
    */
  val P: Long = 4294967311L
  val numPerms = 16
  val perms: Seq[(Long, Long)] = (1 to numPerms).map { i =>
    val a = (2654435761L * i) % 536870909L
    val b = (40503L * (i + 7)) % P
    (if (a == 0) 1L else a, b)
  }
  /** 4 bands x 4 rows over the 16 minhashes. */
  val bands: Seq[Seq[Int]] = (0 until 4).map(b => (0 until 4).map(r => b * 4 + r))

  /** 16 minhash values per doc over word-`n`-gram shingles. */
  def minhashSignatures(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    minhashSignaturesFrom(shingles(docs, id, text, n))

  private[scale] def minhashSignaturesFrom(sh: DataFrame): DataFrame = {
    val hashed = sh.select(col("doc_id"), (md5Long(col("shingle")) % P).as("hm"))
    val aggs = perms.zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hm") + lit(b)) % P).as(s"mh$i")
    }
    hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** LSH candidate pairs (equal signature in any band) with their exact
    * shingle Jaccard — the scale path for near-dup detection: equality
    * joins on band keys instead of all-pairs.
    */
  def minhashPairs(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    minhashPairStats(docs, id, text, n)
      .select(col("doc1"), col("doc2"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))).as("jaccard"))

  /** Directional containment over the same LSH candidates:
    * |A∩B|/|A| and |A∩B|/|B|. Asymmetric near-dup — catches a document
    * EMBEDDED in a larger one, which symmetric Jaccard dilutes away
    * (the quote-inclusion / boilerplate-wrapper case in corpus dedup).
    */
  def containmentPairs(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame =
    minhashPairStats(docs, id, text, n)
      .select(col("doc1"), col("doc2"), col("inter"),
        (col("inter").cast("double") / col("sz1")).as("containment_1"),
        (col("inter").cast("double") / col("sz2")).as("containment_2"))

  /** LSH candidate pairs: equal 4-row signature slice in any of the 4
    * bands (one posexplode pass over the signature table instead of a
    * 4-way union). doc1 < doc2.
    */
  private[scale] def lshCandidates(sig: DataFrame): DataFrame = {
    val bandCols = bands.map(rows => concat_ws("_", rows.map(r => col(s"mh$r")): _*))
    val bandKeys = sig.select(col("doc_id"),
      posexplode(array(bandCols: _*)).as(Seq("band", "key")))
    bandKeys.as("x").join(bandKeys.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc1"), col("y.doc_id").as("doc2"))
      .distinct()
  }

  /** Sketch-calibration QA: over the LSH candidate pairs, compare the
    * signature-agreement Jaccard ESTIMATE (matching minhashes / 16 — the
    * unbiased estimator the banding scheme is built on) with the exact
    * shingle Jaccard, and report the mean absolute error and bias. This
    * is the dial a pipeline reads before trusting estimate-only dedup at
    * a scale where exact intersections are too expensive — if MAE at the
    * operating threshold is small, the `inter` join can be dropped from
    * the hot path. Candidates with NO shared shingle (a pure band-hash
    * collision) count with exact Jaccard 0.
    */
  def minhashCalibration(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    val sh = shingles(docs, id, text, n).localCheckpoint()
    val sig = minhashSignaturesFrom(sh).localCheckpoint()
    val cand = lshCandidates(sig)
    val matches = perms.indices.map(i =>
      when(col(s"s1.mh$i") === col(s"s2.mh$i"), 1).otherwise(0)).reduce(_ + _)
    val est = cand
      .join(sig.as("s1"), col("s1.doc_id") === col("doc1"))
      .join(sig.as("s2"), col("s2.doc_id") === col("doc2"))
      .select(col("doc1"), col("doc2"),
        (matches.cast("double") / perms.length).as("est"))
    val probe = sh.join(cand, col("doc_id") === col("doc1"))
      .select(col("doc1"), col("doc2"), col("shingle"))
    val inter = probe.as("p").join(sh.as("s2"),
        col("s2.doc_id") === col("p.doc2") && col("s2.shingle") === col("p.shingle"))
      .groupBy(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val exact = inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sz", "sz1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sz", "sz2"), "doc2")
      .select(col("doc1"), col("doc2"),
        (col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter"))).as("jac"))
    est.join(exact, Seq("doc1", "doc2"), "left")
      .select(col("est"), coalesce(col("jac"), lit(0.0)).as("jac"))
      .agg(count(lit(1)).as("n_pairs"),
        avg(abs(col("est") - col("jac"))).as("mae"),
        avg(col("est") - col("jac")).as("bias"))
  }

  /** Shared LSH pipeline: candidate pairs with exact intersection and
    * both post-shingle set sizes.
    */
  private def minhashPairStats(docs: DataFrame, id: Column, text: Column, n: Int): DataFrame = {
    // the shingle table feeds four consumers (signatures, both intersection
    // probes, sizes) and the signature table feeds both sides of the band
    // self-join — checkpoint both so tokenization runs once, not 12x
    // (at 100 TB this is the standard materialize-the-shingle-table step)
    val sh = shingles(docs, id, text, n).localCheckpoint()
    val sig = minhashSignaturesFrom(sh).localCheckpoint()
    val cand = lshCandidates(sig)
    // intersection via composite-key equi-join (doc AND shingle) so no
    // per-pair shingle cross product materializes; AQE broadcasts the
    // small sides at test SF while the same plan stays shuffle-safe at scale
    val probe = sh.join(cand, col("doc_id") === col("doc1"))
      .select(col("doc1"), col("doc2"), col("shingle"))
    val inter = probe.as("p").join(sh.as("s2"),
        col("s2.doc_id") === col("p.doc2") && col("s2.shingle") === col("p.shingle"))
      .groupBy(col("p.doc1").as("doc1"), col("p.doc2").as("doc2"))
      .agg(count(lit(1)).as("inter"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc1").withColumnRenamed("sz", "sz1"), "doc1")
      .join(sizes.withColumnRenamed("doc_id", "doc2").withColumnRenamed("sz", "sz2"), "doc2")
      .select(col("doc1"), col("doc2"), col("inter"), col("sz1"), col("sz2"))
  }

  /** The dedup ACTION: near-duplicate groups. LSH candidate pairs above
    * `tau` form an edge set; groups are its connected components (GraphX;
    * label = min vertex id = the canonical doc); docs with no near-dup
    * stay their own canonical. This is the standard corpus-dedup shape at
    * scale: pair discovery is LSH-bounded, the component step touches only
    * the (sparse) pair graph, never all docs squared.
    */
  def neardupGroups(docs: DataFrame, id: Column, text: Column, n: Int,
                    tau: Double): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pairs = minhashPairs(docs, id, text, n).where(col("jaccard") >= tau)
    val edgeRdd = pairs.select(col("doc1"), col("doc2")).as[(Long, Long)].rdd
    // adaptive CC (ops/Components): LSH keeps this edge set sparse, so the
    // local union-find path usually wins; GraphX above the threshold
    val cc = graft.ops.Components.run(edgeRdd).toDF("doc_id", "component")
    docs.select(id.as("doc_id"))
      .join(cc, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("component"), col("doc_id")).as("canonical_id"))
      .withColumn("group_size",
        count(lit(1)).over(Window.partitionBy(col("canonical_id"))))
  }

  /** Incremental corpus dedup: match a NEW batch (`delta`) against an
    * EXISTING corpus (`index`) — the shape production pipelines actually
    * run (the corpus only grows; re-pairing the whole corpus per batch is
    * quadratic waste). Asymmetric LSH: band keys of the delta batch are
    * broadcast against the index's band keys (a real index would persist
    * its signature/band table between batches — only the delta side is
    * computed per run), candidates get exact shingle Jaccard, and each
    * delta doc reports its best index match (ties broken by lowest index
    * id; Jaccard values are exact integer ratios, so the ordering is
    * engine-portable). Delta docs with no candidate collide with nothing:
    * match_id -1, jaccard 0, is_dup false.
    */
  def incrementalDedup(index: DataFrame, delta: DataFrame, id: Column,
                       text: Column, n: Int, tau: Double): DataFrame = {
    val shI = shingles(index, id, text, n).localCheckpoint()
    val shD = shingles(delta, id, text, n).localCheckpoint()
    def bandKeys(sig: DataFrame) = {
      val bandCols = bands.map(rows => concat_ws("_", rows.map(r => col(s"mh$r")): _*))
      sig.select(col("doc_id"), posexplode(array(bandCols: _*)).as(Seq("band", "key")))
    }
    val cand = bandKeys(minhashSignaturesFrom(shI)).as("i")
      .join(broadcast(bandKeys(minhashSignaturesFrom(shD)).as("d")),
        col("i.band") === col("d.band") && col("i.key") === col("d.key"))
      .select(col("d.doc_id").as("ddoc"), col("i.doc_id").as("idoc")).distinct()
    val probe = shD.join(cand, col("doc_id") === col("ddoc"))
      .select(col("ddoc"), col("idoc"), col("shingle"))
    val inter = probe.as("p").join(shI.as("s2"),
        col("s2.doc_id") === col("p.idoc") && col("s2.shingle") === col("p.shingle"))
      .groupBy(col("p.ddoc").as("ddoc"), col("p.idoc").as("idoc"))
      .agg(count(lit(1)).as("inter"))
    val szI = shI.groupBy(col("doc_id")).agg(count(lit(1)).as("szi"))
    val szD = shD.groupBy(col("doc_id")).agg(count(lit(1)).as("szd"))
    val jac = inter
      .join(szD.withColumnRenamed("doc_id", "ddoc"), "ddoc")
      .join(szI.withColumnRenamed("doc_id", "idoc"), "idoc")
      .select(col("ddoc"), col("idoc"),
        (col("inter").cast("double") / (col("szd") + col("szi") - col("inter")))
          .as("jaccard"))
    val w = Window.partitionBy(col("ddoc"))
      .orderBy(col("jaccard").desc, col("idoc").asc)
    val best = jac.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
    delta.select(id.as("doc_id"))
      .join(best.withColumnRenamed("ddoc", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("idoc"), lit(-1L)).as("match_id"),
        coalesce(col("jaccard"), lit(0.0)).as("jaccard"),
        coalesce(col("jaccard") >= tau, lit(false)).as("is_dup"))
  }

  /** Corpus boilerplate screen (the C4/CCNet "remove lines seen in many
    * pages" step, on word n-grams since this corpus has no line
    * structure): a shingle is boilerplate when it occurs in >= minDf
    * distinct documents; each doc reports how much of it is boilerplate.
    * Shape: one distinct-shingle explode, a document-frequency
    * aggregation on the shingle key, and a join back on that same key —
    * the join reuses the aggregation's hash partitioning (no extra
    * exchange on the big side), then a final doc_id aggregation. This is
    * the inverted-index pattern that scales linearly in corpus shingles;
    * nothing is ever paired doc-against-doc. Docs with fewer than n
    * tokens emit no row.
    */
  def boilerplateReport(docs: DataFrame, id: Column, text: Column, n: Int,
                        minDf: Int, flagFrac: Double): DataFrame = {
    val sh = shingles(docs, id, text, n)
    val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
    sh.join(dfq, Seq("shingle"))
      .groupBy(col("doc_id")).agg(
        count(lit(1)).as("n_shingles"),
        count(when(col("df") >= minDf, 1)).as("n_boiler"))
      .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
        (col("n_boiler").cast("double") / col("n_shingles")).as("boiler_frac"),
        (col("n_boiler").cast("double") / col("n_shingles") > flagFrac)
          .as("flagged"))
  }

  /** Benchmark decontamination: flag corpus documents that share any word
    * n-gram with a probe (benchmark/eval) set — the n-gram-overlap
    * contamination check training pipelines run before releasing a
    * corpus, and the partial-overlap complement of the exact-fingerprint
    * split check (q73). The probe shingle set is distinct-reduced and
    * broadcast (eval suites are tiny next to a 100 TB corpus), so the
    * corpus side stays a narrow semi-join — no shuffle of corpus
    * shingles at all; the per-doc totals reuse one doc_id aggregation.
    */
  def contaminationReport(corpus: DataFrame, probes: DataFrame, id: Column,
                          text: Column, n: Int): DataFrame = {
    val cs = shingles(corpus, id, text, n)
    val ps = shingles(probes, id, text, n).select(col("shingle")).distinct()
    val hits = cs.join(broadcast(ps), Seq("shingle"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    cs.groupBy(col("doc_id")).agg(count(lit(1)).as("n_shingles"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("hits"), lit(0L)).as("n_contaminated"),
        (coalesce(col("hits"), lit(0L)).cast("double") / col("n_shingles"))
          .as("contaminated_frac"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** 32-bit SimHash over tokens (with multiplicity): bit j of the
    * fingerprint is set iff Σ_tokens (bit_j(md5_32(token)) ? +1 : −1) > 0.
    * Token-less docs are dropped (the explode form produced no group for
    * them; the kernel signals the case with NULL).
    *
    * Uses the one-pass [[graft.functions.SimHash32]] kernel — a narrow
    * projection, vs the composable explode→32-aggregate shuffle of
    * [[simhashExploded]] (kept as the property-test twin).
    */
  def simhash(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val fp = ColumnBridge.column(graft.functions.SimHash32(
      ColumnBridge.expression(text)))
    docs.select(id.as("doc_id"), fp.as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** 64-bit SimHash ([[graft.functions.SimHash64]] kernel) — the widened
    * fingerprint corpus-scale banding needs (16-bit band keys over 64
    * bits give 65k buckets/band). Top 32 bits equal [[simhash]]'s
    * fingerprint by construction.
    */
  def simhash64(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val fp = ColumnBridge.column(graft.functions.SimHash64(
      ColumnBridge.expression(text)))
    docs.select(id.as("doc_id"), fp.as("simhash"))
      .where(col("simhash").isNotNull)
  }

  /** FUZZY train/eval contamination — the near-dup upgrade of the exact
    * fingerprint screen (q73): an eval doc within simhash `maxHamming`
    * of ANY train doc leaks paraphrased training text the exact hash
    * cannot see (the leakage mode LLM eval suites actually suffer).
    * Candidate generation rides the shared [[Banding]] machinery
    * (complete at `maxHamming` < `cfg.bands` by pigeonhole): the train
    * side collapses into a grouped (band, key) index and each eval doc
    * scans its cell lists inside its own row — never eval × train, and
    * (the VERDICT-r14 fix) never the per-cell cross-join whose pair
    * count grew quadratically at corpus scale; `cfg = Banding.wide64`
    * runs the audit at 65k buckets per band. Per eval doc WITH at
    * least one banded train candidate: the distinct candidate count,
    * min hamming (lowest train id on ties), and the leak flag;
    * token-less docs carry no fingerprint and are absent (join back
    * from the full eval set for a report).
    */
  def fuzzyContamination(docs: DataFrame, id: Column, text: Column,
      isEval: Column, maxHamming: Int = 3,
      cfg: Banding.Config = Banding.Config()): DataFrame = {
    val base = docs.select(id.as("doc_id"), isEval.as("__ev"),
      text.as("text"))
    val index = Banding.buildIndex(base.where(!col("__ev")),
      col("doc_id"), col("text"), cfg)
    Banding.withFlags(base.where(col("__ev"))
          .select(col("doc_id"), col("text")), index, maxHamming, cfg)
      .where(col("n_cands") > 0)
      .select(col("doc_id").as("eval_id"),
        col("n_cands").cast("long").as("n_cands"),
        col("min_hamming"), col("match_id"),
        (col("min_hamming") <= maxHamming).as("leaked"))
  }

  /** Composable (pure-DataFrame) SimHash twin: explode tokens, 32
    * conditional sums, fold the sign vector. Same values as [[simhash]];
    * costs a token-count-shaped exchange.
    */
  def simhashExploded(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val toks = docs.select(id.as("doc_id"),
        explode(regexp_extract_all(lower(text), lit("\\S+"), lit(0))).as("tok"))
      .select(col("doc_id"), md5Int(col("tok")).as("h"))
    val sums = (0 until 32).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1L).otherwise(-1L)).as(s"s$j")
    }
    val fp = (0 until 32).map { j =>
      when(col(s"s$j") > 0, lit(1L << j)).otherwise(0L)
    }.reduce(_ + _)
    toks.groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
  }
}
