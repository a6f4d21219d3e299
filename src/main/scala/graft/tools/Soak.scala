package graft.tools

import graft.ops.CoreFeatures
import graft.scale.Dedup
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Scale soak: replicate the sf0.1 inputs k-fold in-plan (shifted keys ->
  * k-fold key cardinality at the same per-key history; unshifted ->
  * k-fold per-key frame length, the hot-key stress) and time the heavy
  * operators. Verifies the plans SCALE — linear-ish wall-clock, no
  * collect/driver blowups — which the tiny driver SFs cannot show.
  */
object Soak {
  def main(args: Array[String]): Unit = {
    val k = args.headOption.map(_.toInt).getOrElse(10)
    // optional 2nd arg: comma-separated name prefixes — run only those
    // sections (dev loop for re-measuring one family without the ~20 min
    // full soak)
    val only: String => Boolean =
      if (args.length > 1) { val ps = args(1).split(','); n => ps.exists(n.startsWith) }
      else _ => true
    val spark = graft.Session.local()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    def time(name: String)(f: => Unit): Unit = if (only(name)) {
      val t0 = System.nanoTime()
      f
      println(f"$name ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }

    val rep = spark.range(k).select(col("id").as("rep"))
    val tx = Tables.transactions(spark, dir)

    // k-fold key cardinality, same per-key history profile
    val wide = tx.crossJoin(rep)
      .withColumn("customer_id", col("customer_id") + col("rep") * 1000000L)
      .withColumn("transaction_id", col("transaction_id") + col("rep") * 1000000000L)
      .drop("rep")
    time(s"features-${k}x-keys")(
      CoreFeatures.customerFeatures(wide).write.format("noop").mode("overwrite").save())

    // same keys, k-fold per-key history (hot-key stress for the per-key
    // sort volume; replicas sit a year apart so frame LENGTHS are
    // unchanged — only the partition each key must sort grows k-fold)
    val deep = tx.crossJoin(rep)
      .withColumn("event_timestamp",
        col("event_timestamp") - (col("rep") * 31536000L).cast("interval second"))
      .drop("rep")
    time(s"features-${k}x-depth")(
      CoreFeatures.customerFeatures(deep).write.format("noop").mode("overwrite").save())

    // full 72-column view: the window-function plan (the reference form)
    // vs the kernel every caller runs, at k-fold keys (same frame sizes) ...
    time(s"fullview-window-${k}x-keys")(
      graft.schema.FeatureViews.windowView(wide).write.format("noop").mode("overwrite").save())
    time(s"fullview-kernel-${k}x-keys")(
      graft.ops.MultiWindow.fullView(wide).write.format("noop").mode("overwrite").save())

    // ... and at k-fold FRAME SIZE (replicas 1 s apart on the same keys):
    // the window form re-runs all 12 aggregates over each frame, the
    // kernel re-runs only sum and std, and only over frames that evicted —
    // this is the 100 TB dense-window regime
    val dense = tx.crossJoin(rep)
      .withColumn("event_timestamp",
        col("event_timestamp") + (col("rep") * 1L).cast("interval second"))
      .withColumn("transaction_id", col("transaction_id") + col("rep") * 1000000000L)
      .drop("rep")
    time(s"fullview-window-${k}x-frames")(
      graft.schema.FeatureViews.windowView(dense).write.format("noop").mode("overwrite").save())
    time(s"fullview-kernel-${k}x-frames")(
      graft.ops.MultiWindow.fullView(dense).write.format("noop").mode("overwrite").save())

    val docs = Tables.documents(spark, dir).crossJoin(rep)
      .withColumn("doc_id", col("doc_id") + col("rep") * 1000000L).drop("rep")
    time(s"minhash-pairs-${k}x")(
      Dedup.minhashPairs(docs, col("doc_id"), col("text"), n = 3)
        .write.format("noop").mode("overwrite").save())

    // simhash kernel: narrow projection — should scale exactly linearly
    time(s"simhash-kernel-${k}x")(
      Dedup.simhash(docs, col("doc_id"), col("text"))
        .write.format("noop").mode("overwrite").save())

    // pagerank at k-fold node count (shifted customer ids replicate the
    // bipartite graph k times; Pregel cost ~ edges x iters)
    val edges = {
      val e = wide.select(concat(lit("c:"), col("customer_id")).as("src"),
        col("merchant_id").as("dst")).distinct()
      e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    }
    time(s"pagerank-${k}x-nodes")(
      graft.ops.PageRank.run(edges, iters = 10)
        .write.format("noop").mode("overwrite").save())

    // one-pass quality gate over the k-fold event table: constraint count
    // should not change the single-aggregation shape
    time(s"quality-gate-${k}x")(
      graft.ops.QualityChecks.report(wide, Seq(
        graft.ops.QualityChecks.NotNull("a", col("amount")),
        graft.ops.QualityChecks.Unique("b", col("transaction_id")),
        graft.ops.QualityChecks.InRange("c", col("amount"), 0, 1000, 0.9)))
        .write.format("noop").mode("overwrite").save())

    // round-3 additions: iterative graph ops at k-fold node count (cost ~
    // edges x iters), the bounded self-join at k-fold keys (pair space
    // replicates, not squares — the join key carries the shifted id), and
    // the narrow text/sequence ops at k-fold rows
    time(s"hits-${k}x-nodes")(
      graft.ops.Hits.run(
        wide.select(concat(lit("c:"), col("customer_id")).as("src"),
          col("merchant_id").as("dst")).distinct(), iters = 6)
        .write.format("noop").mode("overwrite").save())
    time(s"kcore-${k}x-nodes")(
      graft.ops.GraphOps.boundedKCore(edges, k = 2, rounds = 4)
        .write.format("noop").mode("overwrite").save())
    time(s"mirror-pairs-${k}x-keys")(
      graft.ops.AmlPatterns.mirrorPairs(wide, windowSeconds = 86400L)
        .write.format("noop").mode("overwrite").save())
    time(s"transition-entropy-${k}x-keys")(
      graft.ops.Distribution.transitionEntropy(wide, col("customer_id"),
        col("merchant_id"),
        Seq(unix_micros(col("event_timestamp")), col("transaction_id")))
        .write.format("noop").mode("overwrite").save())
    time(s"trigram-diversity-${k}x-docs")(
      graft.scale.TextOps.trigramDiversity(docs, col("doc_id"), col("text"))
        .write.format("noop").mode("overwrite").save())

    // round-3 batch 2: the curation-funnel operators at k-fold corpus.
    // repetition/boilerplate are explode+agg (linear); incremental dedup's
    // delta side stays FIXED-size while the index replicates — the match
    // cost should grow with candidate collisions, not index size alone
    time(s"repetition-${k}x-docs")(
      graft.scale.TextOps.repetitionStats(docs, col("doc_id"), col("text"))
        .write.format("noop").mode("overwrite").save())
    time(s"boilerplate-${k}x-docs")(
      Dedup.boilerplateReport(docs, col("doc_id"), col("text"),
          n = 3, minDf = 3, flagFrac = 0.5)
        .write.format("noop").mode("overwrite").save())
    time(s"incremental-dedup-${k}x-index")(
      Dedup.incrementalDedup(docs,
          Tables.documents(spark, dir).where(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"), n = 3, tau = 0.5)
        .write.format("noop").mode("overwrite").save())
    val vecs = Tables.embeddings(spark, dir).crossJoin(rep)
      .withColumn("vec_id", col("vec_id") + col("rep") * 1000000L).drop("rep")
    time(s"gram-corr-${k}x-vectors")(
      graft.scale.Similarity.dimCorrPairs(vecs)
        .write.format("noop").mode("overwrite").save())

    // round-5 model layer at k-fold rows: the stump candidate table
    // grows with DISTINCT VALUES (not rows) so the bagged fit should be
    // near-flat at k-fold keys; packing is a cumsum + bounded explode
    // (row-linear); the fused CV trainer's per-step cost is one
    // tree-aggregate over the replicated table
    val wideY = wide.withColumn("y", (col("amount") > 250).cast("long"))
      .withColumn("bag",
        graft.scale.Splits.bucket(col("transaction_id"), "bag", 3))
      .withColumn("hb", hour(col("event_timestamp")))
    time(s"stump-bagged-${k}x-rows")(
      graft.scoring.Models.stumpCandidatesBagged(wideY,
          Seq("amount", "hb"), col("y"), col("bag"), bags = 3)
        .write.format("noop").mode("overwrite").save())
    time(s"seq-packing-${k}x-docs")(
      graft.scale.Packing.binReport(
          docs.select(col("doc_id"),
            graft.scale.TextOps.nTokens(col("text")).as("tok"))
            .where(col("tok") > 0),
          Seq(col("doc_id")), col("tok"), binSize = 2048L)
        .write.format("noop").mode("overwrite").save())
    time(s"cv-train-${k}x-rows") {
      val models = graft.scoring.Trainer.fitLogisticCV(
        wideY.select(col("amount"), col("hb"),
          col("y").cast("double").as("yy"), col("bag")),
        Seq("amount", "hb"), col("yy"), col("bag"), folds = 3, iters = 5)
      require(models.size == 3)
    }
    time(s"kmeans-${k}x-points") {
      val pts = wideY.groupBy(col("customer_id"))
        .agg(count(lit(1)).cast("double").as("z1"), avg(col("amount")).as("z2"))
      graft.scoring.KMeansOps.lloydSummary(pts, col("customer_id"),
          Seq("z1", "z2"), k = 3, iters = 3)
        .write.format("noop").mode("overwrite").save()
    }

    // round-7 model layer: the boosted chain / depth-3 tree / whole-
    // forest fits at k-fold rows. Candidate tables grow with DISTINCT
    // VALUES (not rows) and driver state stays O(model), so each fit
    // should scale like one partial-aggregated scan per candidate pass
    val wideCk = wideY.localCheckpoint() // each fit re-reads per feature
    time(s"boosting-${k}x-rows") {
      val m = graft.scoring.Boosting.fit(wideCk, Seq("amount", "hb"),
        col("y"), rounds = 3, rate = 0.5)
      require(m.rounds.size == 3)
    }
    time(s"depth3-${k}x-rows") {
      val m = graft.scoring.Trees.fitDepth3(wideCk, Seq("amount", "hb"), col("y"))
      require(m.root.n > 0)
    }
    time(s"forest5-${k}x-rows") {
      val f = graft.scoring.Forest.fit(wideCk, Seq("amount", "hb"), col("y"),
        trees = 5,
        t => graft.scale.Splits.bucket(col("transaction_id"), s"rf$t", 3) =!= 0,
        _ => Seq("amount", "hb"))
      require(f.size == 5)
    }
    // level-wise deep fits: one grouped candidate pass per LEVEL, so
    // wall-clock should grow with depth x features (scans), not with
    // node count (up to 31 nodes at depth 5, 7 x 5 for the deep forest)
    time(s"depth5-${k}x-rows") {
      val m = graft.scoring.Trees.fitDepth(wideCk, Seq("amount", "hb"),
        col("y"), maxDepth = 5)
      require(m.splits.nonEmpty)
    }
    time(s"deep-forest5x3-${k}x-rows") {
      val f = graft.scoring.Forest.fitDeep(wideCk, Seq("amount", "hb"),
        col("y"), trees = 5, maxDepth = 3,
        t => graft.scale.Splits.bucket(col("transaction_id"), s"rf$t", 3) =!= 0,
        _ => Seq("amount", "hb"))
      require(f.size == 5)
    }

    // BPE merge chain at k-fold DISTINCT WORDS (suffix-salted replicas)
    // and a production-ish round count: per-round cost is bound by
    // corpus-wide window aggregates; the 1-row argmax per round is
    // serial BY DESIGN, so wall-clock grows with ROUNDS, not corpus —
    // the honest latency shape of vocabulary induction
    time(s"bpe50-${k}x-words") {
      val words = docs
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("w"), col("doc_id"))
        .where(length(col("w")) > 0)
        .groupBy(col("w")).agg(count(lit(1)).as("freq"))
        .crossJoin(rep)
        .select(concat(col("w"), lit("x"), col("rep").cast("string")).as("w"),
          col("freq"))
      val merges = graft.scale.Bpe.fit(words, col("w"), col("freq"), rounds = 50)
      require(merges.size == 50)
    }

    // round-8 model layer at k-fold rows:
    // LIME local surrogates: the 2^d factorial surrogate is a row-local
    // fold over literal-CASE masked scores — zero shuffle beyond the
    // boosted-tree FIT it explains, so wall-clock should track the fit
    time(s"lime-${k}x-rows") {
      val m = graft.scoring.Boosting.fitTrees(wideCk, Seq("amount", "hb"),
        col("y"), rounds = 2, rate = 0.5)
      val bg = wideCk.agg(avg(col("amount")).as("bg0"), avg(col("hb")).as("bg1"))
      val sp = graft.scoring.Lime.maskedTreeScore(m, Seq("amount", "hb"),
        j => col(s"bg$j")) _
      graft.scoring.Lime.surrogate(wideCk.crossJoin(broadcast(bg)), k = 2, sp)
        .write.format("noop").mode("overwrite").save()
    }
    // AdaBoost-SAMME: pattern-count candidate passes — per-round cost is
    // one scan + one (feature, threshold) shuffle regardless of rows;
    // the pattern column count doubles per round but stays integer aggs.
    // The soak label gets 1-in-9 deterministic noise: y = amount>250 is
    // a function of a FEATURE, and SAMME (correctly) refuses separable
    // data (round-1 err would be 0)
    time(s"adaboost3-${k}x-rows") {
      val noisy = wideCk.withColumn("yn",
        ((col("y") === 1L) =!= (pmod(col("transaction_id"), lit(9L)) === 0L))
          .cast("long"))
      val m = graft.scoring.AdaBoost.fit(noisy, Seq("amount", "hb"),
        col("yn"), rounds = 3)
      require(m.size == 3)
    }
    // class-weighted logistic sweep: 3 settings' gradients in one fused
    // aggregate per GD step — flat in settings, linear-ish in rows
    time(s"weighted-lr-${k}x-rows") {
      val ms = graft.scoring.Trainer.fitLogisticWeighted(wideCk,
        Seq("amount", "hb"), col("y"), Seq(1.0, 5.0, 10.0), iters = 6, lr = 0.5)
      require(ms.size == 3)
    }
    // deterministic SMOTE: shard-local k-NN bounds candidate pairs at
    // minority²/shards; scale shards with k² so per-shard work is flat
    time(s"smote-${k}x-rows") {
      val minority = wideCk.where(col("y") === 1L)
      graft.scale.Smote.synthesize(minority, col("transaction_id"),
          Seq("amount", "hb"), k = 5, reps = 2, shards = 8 * k * k)
        .write.format("noop").mode("overwrite").save()
    }
    // ADASYN density pass + Tomek links: same pairs-constant shard
    // policy as the queries (shards sized from the row counts so the
    // candidate-pair budget stays ~5M at any k) — wall-clock should be
    // flat while per-shard membership shrinks, the documented trade
    val cntR8 = wideCk.agg(
      sum(when(col("y") === 1L, 1L).otherwise(0L)).as("np"),
      count(lit(1)).as("n")).head()
    val (npR8, nR8) = (cntR8.getLong(0), cntR8.getLong(1))
    time(s"adasyn-density-${k}x-rows") {
      val sD = math.max(1L, npR8 * nR8 / 5000000L).toInt
      graft.scale.Smote.adasynCounts(wideCk, col("transaction_id"),
          Seq("amount", "hb"), col("y"), k = 5, shards = sD)
        .write.format("noop").mode("overwrite").save()
    }
    time(s"tomek-links-${k}x-rows") {
      val sT = math.max(1L, nR8 * nR8 / 5000000L).toInt
      graft.scale.Smote.tomekLinks(wideCk, col("transaction_id"),
          Seq("amount", "hb"), col("y"), shards = sT)
        .write.format("noop").mode("overwrite").save()
    }
    // LSH-banded SMOTE: the locality-aligned alternative to md5 shards —
    // planes scale with log2(minority) so expected band membership stays
    // flat, the banded kernel's lever for very large minority sets
    time(s"smote-banded-${k}x-rows") {
      val minority = wideCk.where(col("y") === 1L)
      val planes = math.min(16,
        math.max(4, (math.log(npR8.toDouble.max(2.0)) / math.log(2.0)).toInt - 6))
      graft.scale.Smote.synthesizeBanded(minority, col("transaction_id"),
          Seq("amount", "hb"), gCol = lit(2L), k = 5, maxReps = 2,
          planes = planes)
        .write.format("noop").mode("overwrite").save()
    }
    // ENN (majority parents): the query side is the MAJORITY class —
    // since round 9 this joins shuffle-side on the shard key, so the
    // executor footprint is one shard partition, not a forced broadcast
    // of the majority projection
    time(s"enn-${k}x-rows") {
      val sE = math.max(1L, (nR8 - npR8) * nR8 / 5000000L).toInt
      graft.scale.Smote.knnOppositeCounts(wideCk, col("transaction_id"),
          Seq("amount", "hb"), col("y"), parentIs = 0L, k = 3, shards = sE)
        .write.format("noop").mode("overwrite").save()
    }

    // round-12 curation operators at k-fold corpus: the PII battery is
    // a pure regexp projection (exactly linear, zero exchange); Gopher
    // repetition is explode + (doc, gram)/(doc, span) aggs — every
    // exchange doc-keyed, linear in docs; the trigram LM is one explode
    // + one dictionary-sized count join (the q248 filter adds only a
    // source-partitioned window on top of doc-level rows)
    time(s"pii-scrub-${k}x-docs")(
      docs.select(col("doc_id") +:
          graft.scale.Pii.patterns.map { case (n, p, _) =>
            graft.scale.Pii.countOf(col("text"), p).as(s"n_${n}s") } :+
          graft.scale.Pii.redact(col("text")).as("red"): _*)
        .write.format("noop").mode("overwrite").save())
    time(s"gopher-repetition-${k}x-docs")(
      graft.scale.TextOps.gopherRepetition(docs, col("doc_id"), col("text"))
        .write.format("noop").mode("overwrite").save())
    time(s"trigram-lm-${k}x-docs")(
      graft.scale.TextOps.trigramLmScore(docs, col("doc_id"), col("text"))
        .write.format("noop").mode("overwrite").save())

    // round-13 ANN/dedup family at k-fold vectors/docs. SemDeDup's
    // honest scaling grows the CLUSTER COUNT with the corpus (the
    // paper's k ∝ n) so per-cluster pair work stays bounded — cluster
    // count k*8 here; PQ/IVF-PQ scan 8 codes per vector (row-linear,
    // codebooks stay 128 rows); the matryoshka sweep is 4 exact scans;
    // the near-dup gate is one simhash kernel pass + banded grouping +
    // 4 broadcast joins on the delta.
    import graft.scale.Similarity
    val q10 = vecs.where(col("vec_id") < 10)
    time(s"semdedup-${k}x-vectors") {
      Similarity.semDedup(vecs, k = 8 * k, iters = 1, tau = 0.30)
        .write.format("noop").mode("overwrite").save()
    }
    time(s"pq-adc-${k}x-vectors") {
      Similarity.pqTopK(vecs, q10, 10, dim = 64, m = 8, ksub = 16)
        .write.format("noop").mode("overwrite").save()
    }
    time(s"ivfpq-${k}x-vectors") {
      Similarity.ivfPqTopK(vecs, q10, 10, dim = 64, m = 8, ksub = 16,
          nlist = 8 * k, nprobe = 3)
        .write.format("noop").mode("overwrite").save()
    }
    time(s"matryoshka-${k}x-vectors") {
      Similarity.truncatedRecall(vecs, q10, 10, Seq(8, 32), 64)
        .write.format("noop").mode("overwrite").save()
    }
    // the replicated frame sits on the crossJoin's few partitions —
    // spread before the CPU-bound kernels, as the queries do
    val docsSpread = docs.repartition(spark.sparkContext.defaultParallelism)
    time(s"neardup-gate-${k}x-docs") {
      val ix = graft.streaming.NearDupGate.buildIndex(
        docsSpread.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"))
        .localCheckpoint()
      import spark.implicits._
      graft.streaming.NearDupGate.flagged(
          docsSpread.where(col("doc_id") % 10 === 0)
            .select(col("doc_id"), col("text"))
            .as[graft.streaming.QualityDoc], ix)
        .write.format("noop").mode("overwrite").save()
    }
    time(s"dsir-${k}x-docs") {
      graft.scale.Dsir.weights(docsSpread, col("doc_id"), col("text"),
          graft.scale.TextOps.nTokens(col("text")) >= 20, buckets = 64)
        .write.format("noop").mode("overwrite").save()
    }

    // round-14: MEASURE the frozen-index candidate rows at k-fold corpus
    // instead of reasoning about them (VERDICT-r13 item 8). Each
    // NearDupGate (band, key) cell is one collect_list row a task must
    // hold; each SemanticGate cluster row likewise. The wide64 layout's
    // 65k buckets/band should cut the max cell by ~256x at the same
    // corpus; cand struct = (fp, id) = 16 B, member struct = 8 B id +
    // 64 x 8 B coordinates = 520 B.
    time(s"neardup-index-cells-${k}x-docs") {
      def cells(cfg: graft.streaming.NearDupGate.Config, label: String): Unit = {
        val st = graft.streaming.NearDupGate
          .buildIndex(docsSpread, col("doc_id"), col("text"), cfg)
          .agg(count(lit(1)).as("cells"), max(size(col("cands"))).as("mx"),
            avg(size(col("cands"))).as("av")).head()
        println(f"  $label: ${st.getLong(0)} cells, max ${st.getInt(1)} " +
          f"rows/cell (~${st.getInt(1) * 16 / 1024} KiB), avg ${st.getDouble(2)}%.1f")
      }
      cells(graft.streaming.NearDupGate.Config(), "32-bit 4x8")
      cells(graft.streaming.NearDupGate.wide64, "64-bit 4x16")
    }
    // round-15: the batch near-dup AUDITS at k-fold corpus, both
    // layouts — MEASURE the candidate-pair mass the grouped-index fold
    // scans (each probe row folds over its cell lists; pairs never
    // materialize in an exchange). sum(n_cands) is exactly the deduped
    // (probe, candidate) pair count the old per-cell SELF-join would
    // have EMITTED as rows — the quadratic mass the VERDICT-r14 finding
    // named; wide64's 256x bucket spread should cut it ~2 orders.
    time(s"audit-fold-${k}x-docs") {
      def pairs(cfg: graft.scale.Banding.Config, label: String): Unit = {
        val ix = graft.scale.Banding.buildIndex(docsSpread, col("doc_id"),
          col("text"), cfg).localCheckpoint()
        val st = graft.scale.Banding.withFlags(
            docsSpread.select(col("doc_id"), col("text")), ix,
            maxHamming = 3, cfg, lowerIdThan = Some("doc_id"))
          .agg(sum(col("n_cands").cast("long")).as("pairs"),
            max(col("n_cands")).as("mx"),
            sum(col("is_neardup").cast("long")).as("dups")).head()
        println(f"  $label: ${st.getLong(0)} candidate pairs folded, " +
          f"max ${st.getInt(1)} per doc, ${st.getLong(2)} near-dups")
      }
      pairs(graft.scale.Banding.Config(), "32-bit 4x8")
      pairs(graft.scale.Banding.wide64, "64-bit 4x16")
    }
    // round-16: the banding MEGA-CELL failure mode under EXACT-DUP skew
    // (VERDICT-r15 item 1/8) — 50% of the corpus collapses onto 3
    // boilerplate templates. Identical texts hash to the SAME
    // fingerprint, so every copy lands in ONE cell of EVERY band: the
    // raw index's max cell grows linearly with the corpus (widening the
    // layout cannot help — same fp, same key), while exact-dup
    // pre-collapse (selfAuditCollapsed's canonical banding) bounds
    // cells by DISTINCT near-dup mass. The raw AUDIT fold over such a
    // corpus is the quadratic mass itself (~(corpus/2)²/3 pairs), so
    // only the index cells are measured raw; verdict equality of the
    // collapsed audit is checked on a 1/16 slice (PropertySpec proves
    // it exhaustively on random corpora, both layouts).
    time(s"banding-boilerplate-${k}x-docs") {
      import graft.scale.Banding
      val boiler = docsSpread.select(col("doc_id"),
          when(col("doc_id") % 2 === 0,
            concat(lit("boilerplate template "),
              (col("doc_id") % 3).cast("string"),
              lit(" terms and conditions apply contact support please")))
            .otherwise(col("text")).as("text"))
        .localCheckpoint()
      val keyed = boiler.select(col("doc_id"), col("text"),
        md5(col("text")).as("h"))
      val canonDocs = keyed.join(
          keyed.groupBy(col("h")).agg(min(col("doc_id")).as("cid")), "h")
        .where(col("doc_id") === col("cid"))
        .select(col("doc_id"), col("text")).localCheckpoint()
      def cellStats(src: org.apache.spark.sql.DataFrame,
          cfg: Banding.Config, label: String): Unit = {
        val st = Banding.buildIndex(src, col("doc_id"), col("text"), cfg)
          .agg(count(lit(1)).as("cells"), max(size(col("cands"))).as("mx"),
            avg(size(col("cands"))).as("av")).head()
        println(f"  $label: ${st.getLong(0)} cells, max ${st.getInt(1)} " +
          f"rows/cell (~${st.getInt(1) * 16 / 1024} KiB), avg ${st.getDouble(2)}%.1f")
      }
      for ((cfg, l) <- Seq((Banding.Config(), "4x8"), (Banding.wide64, "wide64"))) {
        cellStats(boiler, cfg, s"raw $l")
        cellStats(canonDocs, cfg, s"collapsed $l")
      }
      val audited = Banding.selfAuditCollapsed(boiler, col("doc_id"),
          col("text"), maxHamming = 3)
        .agg(sum(col("is_neardup").cast("long")).as("dups"),
          count(lit(1)).as("n")).head()
      println(s"  collapsed self-audit: ${audited.getLong(1)} docs, " +
        s"${audited.getLong(0)} flagged near-dups")
      // % 16 < 2 keeps both parities: boilerplate copies (even) AND
      // fresh docs (odd), so the slice exercises members, canonicals,
      // and non-duplicated probes alike
      val slice = boiler.where(col("doc_id") % 16 < 2).localCheckpoint()
      val full = Banding.withFlags(slice,
          Banding.buildIndex(slice, col("doc_id"), col("text")),
          maxHamming = 3, lowerIdThan = Some("doc_id"))
        .select(col("doc_id"), col("min_hamming").as("fmh"),
          col("match_id").as("fmi"), col("is_neardup").as("fnd"))
      val mism = Banding.selfAuditCollapsed(slice, col("doc_id"),
          col("text"), maxHamming = 3)
        .join(full, "doc_id")
        .where(!(col("min_hamming") <=> col("fmh")) ||
          !(col("match_id") <=> col("fmi")) ||
          !(col("is_neardup") <=> col("fnd")))
        .count()
      println(s"  collapsed-vs-raw verdict mismatches on the 1/16 slice: $mism")
      require(mism == 0L, "selfAuditCollapsed must equal the raw audit")
    }

    // round-15: the bounded top-k aggregate under SKEW — one query owns
    // half the candidate mass (the shape a partition-key salting or AQE
    // skew-join cannot fix: it is one GROUP, not one partition, that is
    // hot). The map-side <= k buffers must collapse the hot group in
    // every task, so the exchange carries ~tasks x groups x k rows no
    // matter how skewed the group sizes are — measured via a listener.
    time(s"topk-skew-${k}x-candidates") {
      val nQ = 64
      val rowsPer = 100000L * k
      // query 0 owns ~50% of all candidates; 63 queries share the rest
      // spark.range is already spread over the default parallelism and
      // id % 2 == 0 puts hot-group rows in EVERY partition — no
      // repartition, so the only exchange the listener sees is the
      // aggregate's
      val cands = spark.range(rowsPer).select(
          when(col("id") % 2 === 0, 0L).otherwise(col("id") % (nQ - 1) + 1L)
            .as("query_id"),
          col("id").as("cand_id"),
          (pmod(col("id") * 2654435761L, lit(1000000L)).cast("double") / 1e4)
            .as("score"))
      val wrec = new java.util.concurrent.atomic.AtomicLong
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) wrec.addAndGet(m.shuffleWriteMetrics.recordsWritten)
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        graft.ops.TopK.byGroup(cands, Seq("query_id"), "score",
            asc = false, "cand_id", 10)
          .write.format("noop").mode("overwrite").save()
        Thread.sleep(2000) // listener bus drains async
      } finally spark.sparkContext.removeSparkListener(listener)
      println(f"  ${rowsPer} candidates (50%% in one group) -> " +
        f"${wrec.get()} exchanged rows (bound: tasks x $nQ groups x k=10)")
    }

    time(s"semgate-index-${k}x-vectors") {
      // k ∝ corpus (the SemDeDup contract): 8*k clusters at k-fold
      // vectors keeps expected members/cluster constant — the max row
      // printed is the skew the maxClusterSize guard would enforce
      val (_, members) = graft.streaming.SemanticGate.fit(vecs, k = 8 * k, iters = 1)
      val st = members.agg(count(lit(1)).as("cl"),
        max(size(col("cands"))).as("mx"), avg(size(col("cands"))).as("av")).head()
      println(f"  ${st.getLong(0)} clusters, max ${st.getInt(1)} members/row " +
        f"(~${st.getInt(1) * 520 / 1024} KiB), avg ${st.getDouble(2)}%.1f")
    }

    spark.stop()
  }
}
