package graft.queries

import graft.scale.{Bpe, Dedup, Dsir, Pii, Similarity, Splits, TextOps}
import graft.tables.Tables
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators over `documents`/`embeddings`:
  * dedup (exact, n-gram Jaccard, MinHash+LSH, SimHash), similarity search,
  * and text analysis. Oracle SQL for the hash-based ops is generated from
  * the same constants as the Scala implementation.
  */
object ScaleQueries extends QueryPack {

  /** The corpus file is a single parquet row group — one input split — so
    * a fully narrow regex/hash pipeline would run on ONE core no matter
    * the cluster size. Spread the (tiny) rows before the CPU-heavy map;
    * at real corpus scale the input arrives already split and this
    * repartition is dropped by the caller.
    */
  private def docsSpread(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir).repartition(s.sparkContext.defaultParallelism)

  /** Corpus + deterministic exact-dup fixture (the q253 technique): every
    * 25th doc mirrored under a 'mirror' source at doc_id + 1,000,000.
    * The small-SF corpus carries no natural exact dups (verified: zero
    * groups at sf0.01), so the dup-mass/leakage gates would be vacuous
    * without planted copies; at sf0.1 the 8 natural groups join in. The
    * oracle rebuilds the identical union ([[mirroredDocsSql]]).
    */
  private def mirroredDocs(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("text"), col("source"))
    d.unionByName(d.where(col("doc_id") % 25 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
        lit("mirror").as("source")))
  }

  /** The oracle twin of [[mirroredDocs]] (a FROM-able derived table). */
  private val mirroredDocsSql =
    """(SELECT doc_id, text, source FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text, 'mirror' FROM documents WHERE doc_id % 25 = 0)"""

  /** Deterministic PII fixture: the synthetic corpus carries no natural
    * emails/phones/IPs/digit runs (verified: zero regex hits at every
    * SF), so the PII queries gate the scrub battery on text AUGMENTED
    * from doc_id arithmetic — the oracle rebuilds the identical string,
    * making the redaction chain hash-checkable while the operator stays
    * generic. Mods 3/5/7/11 interleave so docs carry 0–4 PII kinds.
    */
  private def piiAugmented = {
    val id = col("doc_id")
    concat(col("text"),
      when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
        lit("@example.com now"))).otherwise(lit("")),
      when(id % 5 === 0, concat(lit(" call "), (id % 900 + 100).cast("string"),
        lit("-"), ((id + 37) % 900 + 100).cast("string"), lit("-"),
        (id % 9000 + 1000).cast("string"), lit(" today"))).otherwise(lit("")),
      when(id % 7 === 0, concat(lit(" from 10."), (id % 256).cast("string"),
        lit("."), ((id + 13) % 256).cast("string"), lit(".25 host")))
        .otherwise(lit("")),
      when(id % 11 === 0, concat(lit(" acct "),
        lpad((id % 1000000).cast("string"), 12, "0"), lit(" ref")))
        .otherwise(lit("")))
  }

  /** Deterministic LINE fixture for the Gopher duplicate-line rules
    * (q253): three overlapping text windows as base lines, plus
    * doc_id-gated repeats of the first two and one unique tail line —
    * mods 3/4/8/5 interleave so docs span 0–3 duplicate lines and both
    * flag outcomes. Empty windows (short texts) become empty lines the
    * operator excludes, identically in both engines.
    */
  private def linedAugmented = {
    val id = col("doc_id")
    val l0 = substring(col("text"), 1, 60)
    val l1 = substring(col("text"), 31, 60)
    val l2 = substring(col("text"), 61, 60)
    concat(l0, lit("\n"), l1, lit("\n"), l2,
      when(id % 3 === 0, concat(lit("\n"), l0)).otherwise(lit("")),
      when(id % 4 === 0, concat(lit("\n"), l1)).otherwise(lit("")),
      when(id % 8 === 0, concat(lit("\n"), l1)).otherwise(lit("")),
      when(id % 5 === 0, concat(lit("\nref "), (id % 100).cast("string")))
        .otherwise(lit("")))
  }

  /** The oracle twin of [[linedAugmented]]. */
  private val linedAugmentedSql =
    """substr(text, 1, 60) || chr(10) || substr(text, 31, 60) || chr(10) || substr(text, 61, 60)
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || substr(text, 1, 60) ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN chr(10) || substr(text, 31, 60) ELSE '' END
    || CASE WHEN doc_id % 8 = 0 THEN chr(10) || substr(text, 31, 60) ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN chr(10) || 'ref ' || (doc_id % 100)::VARCHAR ELSE '' END"""

  /** Deterministic fixture for the C4 cleaning battery (q267): the
    * corpus has no natural lines, terminal punctuation, or rule markers
    * (verified: zero hits at every SF), so the gate runs on text built
    * from doc_id arithmetic — three windowed base lines with id-gated
    * punctuation, one always-kept filler sentence, and id-gated rule
    * triggers (word-count stub, javascript boilerplate, lorem ipsum,
    * code brace, bad word). Mods 2/3/7/13/17/19 interleave so docs hit
    * every rule and both keep outcomes; the oracle rebuilds the
    * identical string.
    */
  private def c4Augmented = {
    val id = col("doc_id")
    concat(
      substring(col("text"), 1, 60), lit("."),
      lit("\n"), substring(col("text"), 31, 60),
      lit("\n"), substring(col("text"), 61, 60),
      when(id % 2 === 0, lit("!")).otherwise(lit("")),
      lit("\nthe quick brown fox jumps over the lazy dog again."),
      when(id % 3 === 0, lit("\na short stub line.")).otherwise(lit("")),
      when(id % 7 === 0,
        lit("\nplease enable javascript to view this page now."))
        .otherwise(lit("")),
      when(id % 13 === 0,
        lit("\nlorem ipsum dolor sit amet placeholder text here."))
        .otherwise(lit("")),
      when(id % 17 === 0,
        lit("\ncall function f() { return x; } to begin now."))
        .otherwise(lit("")),
      when(id % 19 === 0,
        lit("\nwin the casino jackpot bonus offers right here now."))
        .otherwise(lit("")))
  }

  /** The oracle twin of [[c4Augmented]]. */
  private val c4AugmentedSql =
    """substr(text, 1, 60) || '.'
    || chr(10) || substr(text, 31, 60)
    || chr(10) || substr(text, 61, 60)
    || CASE WHEN doc_id % 2 = 0 THEN '!' ELSE '' END
    || chr(10) || 'the quick brown fox jumps over the lazy dog again.'
    || CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'a short stub line.' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN chr(10) || 'please enable javascript to view this page now.' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet placeholder text here.' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'call function f() { return x; } to begin now.' ELSE '' END
    || CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'win the casino jackpot bonus offers right here now.' ELSE '' END"""

  /** q294's C4 lined view (the battery corpus has no natural lines):
    * the battery text itself (never a kept line — it ends in a
    * lang-marker token, not terminal punctuation) plus two always-kept
    * filler sentences, an id-gated third kept line (odd ids stay below
    * the 3-kept-line bar), and id-gated doc-level triggers (lorem /
    * brace / bad word), so the C4 gate hits both outcomes and every
    * doc-level rule on the delta slice.
    */
  private def c4Lined = {
    val id = col("doc_id")
    concat(col("text"),
      lit("\nthe quick brown fox jumps over the lazy dog again."),
      lit("\npack my box with five dozen liquor jugs today."),
      when(id % 2 === 0, lit("\na third kept sentence closes the block."))
        .otherwise(lit("")),
      when(id % 13 === 0,
        lit("\nlorem ipsum dolor sit amet placeholder here."))
        .otherwise(lit("")),
      when(id % 17 === 0, lit("\ncall function f() { return x; } now."))
        .otherwise(lit("")),
      when(id % 19 === 0,
        lit("\nwin the casino jackpot bonus offers right here now."))
        .otherwise(lit("")))
  }

  /** The oracle twin of [[c4Lined]] over a CTE exposing (doc_id, text). */
  private val c4LinedSql =
    """text
    || chr(10) || 'the quick brown fox jumps over the lazy dog again.'
    || chr(10) || 'pack my box with five dozen liquor jugs today.'
    || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'a third kept sentence closes the block.' ELSE '' END
    || CASE WHEN doc_id % 13 = 0 THEN chr(10) || 'lorem ipsum dolor sit amet placeholder here.' ELSE '' END
    || CASE WHEN doc_id % 17 = 0 THEN chr(10) || 'call function f() { return x; } now.' ELSE '' END
    || CASE WHEN doc_id % 19 = 0 THEN chr(10) || 'win the casino jackpot bonus offers right here now.' ELSE '' END"""

  /** q294's surrogate media payload: ids ≡ 0 (mod 3) collapse onto 5
    * shared templates (so delta docs at id % 30 == 0 re-post an indexed
    * payload), all others are unique — the media-dedup gate's
    * discriminating fixture.
    */
  private def mediaPayload = {
    val id = col("doc_id")
    when(id % 3 === 0, concat(lit("payload:"), (id % 5).cast("string")))
      .otherwise(concat(lit("payload:"), id.cast("string")))
  }

  /** The oracle twin of [[mediaPayload]]. */
  private val mediaPayloadSql =
    "CASE WHEN doc_id % 3 = 0 THEN 'payload:' || (doc_id % 5)::VARCHAR ELSE 'payload:' || doc_id::VARCHAR END"

  /** The oracle twin of [[piiAugmented]] (DuckDB string arithmetic). */
  private val piiAugmentedSql =
    """text
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 5 = 0 THEN ' call ' || (doc_id % 900 + 100)::VARCHAR || '-' || ((doc_id + 37) % 900 + 100)::VARCHAR || '-' || (doc_id % 9000 + 1000)::VARCHAR || ' today' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id + 13) % 256)::VARCHAR || '.25 host' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' acct ' || lpad((doc_id % 1000000)::VARCHAR, 12, '0') || ' ref' ELSE '' END"""

  /** Per-doc PII count columns over an augmented-text CTE `a(doc_id,
    * source, t)` plus the 4-step redaction chain — generated from
    * [[graft.scale.Pii.patterns]] so the oracle battery and the Spark
    * battery are the same constants.
    */
  private val piiCountsSql: String = Pii.patterns.map { case (name, p, _) =>
    s"len(regexp_extract_all(t, '$p'))::BIGINT AS n_${name}s"
  }.mkString(",\n    ")
  private val piiRedactSql: String = Pii.patterns.foldLeft("t") {
    case (acc, (_, p, tok)) => s"regexp_replace($acc, '$p', '$tok', 'g')"
  }

  /** Shared shingle CTEs (word 3-grams, lowercase, distinct per doc). */
  private val shingleCte =
    """tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
sh0 AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
        FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks)-2, 0)+1)) AS i FROM tok))"""

  private val sigSelect: String = {
    val cols = Dedup.perms.zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*hm + $b) % ${Dedup.P})::BIGINT AS mh$i"
    }.mkString(",\n    ")
    s"""h AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::UBIGINT % ${Dedup.P} AS hm FROM sh0),
sig AS (SELECT doc_id,
    $cols
  FROM h GROUP BY doc_id)"""
  }

  override val defs: Map[String, Q] = Map(
    "q28_dedup_exact" -> { (s, dir) =>
      Dedup.exactGroups(Tables.documents(s, dir), col("doc_id"), col("text"))
    },
    // PII detect/redact (the curation stage between q74's heuristics and
    // q242's learned filter): per doc, counts per detector on the
    // original text + the fingerprint and length delta of the scrubbed
    // text. One codegen regexp projection — no shuffle, no UDF.
    "q245_pii_scrub" -> { (s, dir) =>
      val d = docsSpread(s, dir)
        .select(col("doc_id"), piiAugmented.as("t"))
      val red = Pii.redact(col("t"))
      val counts = Pii.patterns.map { case (name, p, _) =>
        Pii.countOf(col("t"), p).as(s"n_${name}s")
      }
      d.select(col("doc_id") +: counts :+
          substring(md5(red), 1, 16).as("redacted_fp") :+
          (length(col("t")) - length(red)).cast("long").as("chars_delta"): _*)
        .withColumn("has_pii",
          Pii.patterns.map(p => col(s"n_${p._1}s")).reduce(_ + _) > 0)
    },
    // per-source PII incidence: the corpus-QA rollup a curation run
    // reports before/after the scrub. One narrow projection + one
    // source-keyed aggregation.
    "q246_pii_incidence" -> { (s, dir) =>
      val d = docsSpread(s, dir)
        .select(col("doc_id"), col("source"), piiAugmented.as("t"))
      val counts = Pii.patterns.map { case (name, p, _) =>
        Pii.countOf(col("t"), p).as(s"n_${name}s")
      }
      val per = d.select(col("source") +: counts: _*)
        .withColumn("total",
          Pii.patterns.map(p => col(s"n_${p._1}s")).reduce(_ + _))
      val aggs =
        sum(when(col("total") > 0, 1L).otherwise(0L)).as("docs_with_pii") +:
          Pii.patterns.map(p => sum(col(s"n_${p._1}s")).as(s"n_${p._1}s")) :+
          r6(avg(col("total"))).as("avg_pii_per_doc")
      per.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), aggs: _*)
    },
    // Gopher within-doc repetition report (Rae et al. 2021 table A1):
    // top-2/3/4-gram char mass + duplicated-5-gram token coverage, with
    // the paper's published thresholds as the flag.
    "q247_doc_repetition" -> { (s, dir) =>
      TextOps.gopherRepetition(docsSpread(s, dir), col("doc_id"), col("text"))
    },
    // Gopher duplicate-LINE rules (the table-A1 half q247 skips — the
    // synthetic corpus has no line structure, so the gate runs on text
    // LINED from doc_id arithmetic, the q245 fixture technique: the
    // oracle rebuilds the identical lines, making the dup-line math
    // hash-checkable while the operator stays generic).
    "q253_line_repetition" -> { (s, dir) =>
      TextOps.gopherLineStats(
        docsSpread(s, dir).select(col("doc_id"), linedAugmented.as("text")),
        col("doc_id"), col("text"))
    },
    // CCNet-style per-source perplexity filter: score every doc with the
    // q131 corpus-trigram LM, keep the top 70% per source (rounded score
    // rank, doc_id tie-break), report kept/dropped token mass and the
    // quality lift. One source-partitioned window + one aggregate.
    "q248_perplexity_filter" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      // LM scores through the FROZEN kernel (raw-bitwise-equal to the
      // explode+join+avg chain, ScaleSpec): the fit is one vocab-sized
      // aggregation and scoring a per-row projection — the join of the
      // full exploded trigram table back to the count table (a
      // corpus×doc-length shuffle at 100 TB) never happens
      val flm = graft.scale.Perplexity.fitLm(docs, col("text"))
      val d = docs.select(col("doc_id"), col("source"),
          TextOps.nTokens(col("text")).as("ntok"),
          r6(graft.scale.Perplexity.lmScore(flm, col("text"))).as("lm"))
        .localCheckpoint() // rank input: probe + local + totals passes
      // per-source rank via the partitioned two-pass GlobalOrder (a
      // Window.partitionBy(source) would funnel each source — >60% of a
      // Common-Crawl-scale corpus — through ONE task); the per-source
      // doc counts are a tiny groupBy broadcast back onto the rank
      val ranked = graft.ops.GlobalOrder.withRowNumberBy(d, Seq("source"),
          Seq(col("lm").desc_nulls_last, col("doc_id")), "rk")
        .join(broadcast(d.groupBy(col("source"))
          .agg(count(lit(1)).as("nsrc"))), Seq("source"))
      val kept = col("lm").isNotNull && col("rk") <= ceil(col("nsrc") * 0.7)
      ranked.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("ntok")).otherwise(0L)).as("kept_tokens"),
        sum(when(!kept, col("ntok")).otherwise(0L)).as("dropped_tokens"),
        r6(avg(when(kept, col("lm")))).as("kept_avg_lm"),
        r6(avg(col("lm"))).as("all_avg_lm"))
    },
    // the CURATION FUNNEL — the whole cleaning pipeline composed end to
    // end, per source: heuristic gate (q74) -> Gopher repetition gate
    // (q247) -> per-source perplexity cut (q248), with doc and token
    // mass surviving each cumulative stage. This is the report a 100 TB
    // curation run publishes; every stage is the already-gated operator,
    // joined doc-keyed, one source window for the perplexity rank.
    "q249_curation_funnel" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val t = col("text")
      // frozen-kernel LM scores, as in q248 — no exploded-table join
      val flm = graft.scale.Perplexity.fitLm(docs, col("text"))
      val base = docs.select(col("doc_id"), col("source"),
        TextOps.nTokens(t).as("ntok"),
        (!(TextOps.nTokens(t) < 20 || TextOps.stopwordRatio(t) < 0.05)).as("h"),
        r6(graft.scale.Perplexity.lmScore(flm, t)).as("lm"))
      val rep = TextOps.gopherRepetition(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("gopher_flag"))
      val joined = base
        .join(rep, Seq("doc_id"), "left")
        .localCheckpoint() // rank input: probe + local + totals passes
      // same scale shape as q248: partitioned two-pass per-source rank +
      // broadcast per-source counts, never a single-task source window
      val ranked = graft.ops.GlobalOrder.withRowNumberBy(joined,
          Seq("source"), Seq(col("lm").desc_nulls_last, col("doc_id")), "rk")
        .join(broadcast(joined.groupBy(col("source"))
          .agg(count(lit(1)).as("nsrc"))), Seq("source"))
      val s1 = col("h")
      val s2 = s1 && !coalesce(col("gopher_flag"), lit(false))
      val s3 = s2 && col("lm").isNotNull &&
        col("rk") <= ceil(col("nsrc") * 0.7)
      ranked.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("total_tokens"),
        sum(when(s1, 1L).otherwise(0L)).as("docs_heuristic"),
        sum(when(s1, col("ntok")).otherwise(0L)).as("tokens_heuristic"),
        sum(when(s2, 1L).otherwise(0L)).as("docs_repetition"),
        sum(when(s2, col("ntok")).otherwise(0L)).as("tokens_repetition"),
        sum(when(s3, 1L).otherwise(0L)).as("docs_final"),
        sum(when(s3, col("ntok")).otherwise(0L)).as("tokens_final"),
        r6(sum(when(s3, col("ntok")).otherwise(0L)).cast("double") /
          sum(col("ntok"))).as("survival_rate"))
    },
    // the perplexity gate FROZEN for serving (the deployed form of the
    // q248 filter): fit the corpus-trigram LM into an O(1)-lookup
    // kernel + one keep-threshold per source (min kept 4 dp score under
    // the GlobalOrder rank), then re-score the corpus through the
    // frozen projection and report the threshold-semantics keeps. Any
    // divergence between the frozen kernel and the batch LM chain (or
    // between the two rank machineries) hash-fails against the oracle's
    // independent replay.
    "q252_perplexity_gate" -> { (s, dir) =>
      val docs = Tables.documents(s, dir).select(col("doc_id"),
        col("source"), col("text"), TextOps.nTokens(col("text")).as("ntok"))
      val gate = graft.scale.Perplexity.fitGate(docs)
      val kept = gate.keep(col("source"), col("text"))
      docs.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        min(gate.threshold(col("source"))).as("threshold"),
        sum(when(kept, 1L).otherwise(0L)).as("n_kept"),
        sum(when(kept, col("ntok")).otherwise(0L)).as("kept_tokens"),
        r6(avg(gate.lmScore(col("text")))).as("avg_lm"))
    },
    // the promotion lifecycle for the CURATION stack (the q230/q250/q251
    // gate applied to the perplexity gate): fit the q252 gate, publish
    // it through ModelStore.perplexityGateRows (manifest by default),
    // read back, rebuild via ServedModel ("perplexity_gate" kind), and
    // prove the served keep column agrees with the fitted gate on EVERY
    // doc. Output = the re-exported meta + threshold rows (the lm slice
    // is vocab-sized — its row count gates it) + parity counts.
    "q254_gate_store" -> { (s, dir) =>
      import graft.scoring.ModelStore
      import graft.streaming.ServedModel
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val gate = graft.scale.Perplexity.fitGate(docs)
      val storeDir = scratchDir("graft_q254_gate")
      ModelStore.publish(s, storeDir,
        ModelStore.perplexityGateRows("cur", 1L, gate))
      val rows2 = ModelStore.rowsOf(s.read.parquet(storeDir), "cur", 1L)
      val built = ServedModel.of(rows2)
      val parity = docs.agg(count(lit(1)).as("n_scored"),
          sum(when(gate.keep(col("source"), col("text")).cast("double")
            === built.score, 1L).otherwise(0L)).as("n_agree"))
        .withColumn("n_manifest",
          lit(rows2.count(_.kind == "manifest").toLong))
      import s.implicits._
      val reexp = ModelStore.perplexityGateRows("cur", 1L,
        ModelStore.perplexityGateOf(ModelStore.body(rows2)))
      val nLm = reexp.count(_.part == "lm").toLong
      reexp.filterNot(_.part == "lm").toDF()
        .select(col("model_id"), col("kind"), col("part"), col("idx"),
          col("k"), r6(col("v1")).as("v1"), col("c2"))
        .withColumn("n_lm_rows", lit(nLm))
        .crossJoin(broadcast(parity))
    },
    // exact duplicate-SPAN dedup (the C4/RefinedWeb exact-substring pass
    // next to the fuzzy MinHash family, C4's any-repeat rule at k=8
    // tokens): per doc, how many positional 8-gram spans repeat anywhere
    // in the corpus and how many tokens sit under at least one such span
    // (exact interval union); dup_frac is the per-doc duplicated-token
    // share a cleaning pass would remove. One corpus-wide exchange (the
    // span-count aggregation), no all-pairs joins.
    "q240_dup_spans" -> { (s, dir) =>
      Dedup.duplicateSpanReport(Tables.documents(s, dir), col("doc_id"),
          col("text"), k = 8)
        .select(col("doc_id"), col("n_tokens"), col("n_spans"),
          col("n_dup_spans"), col("covered_tokens"),
          r6(when(col("n_tokens") > 0,
            col("covered_tokens").cast("double") / col("n_tokens"))
            .otherwise(lit(0.0))).as("dup_frac"))
    },
    // fastText-style model-based quality filter (the RefinedWeb-stage
    // sibling of q74's rule filter): hashed unigram+bigram frequencies
    // (TextOps.hashedNgramFeatures, 16 md5 buckets, vocabulary-free)
    // fed to the logistic GD trainer, distilling the q74 heuristic
    // label on the md5-80% train slice; every doc then carries the
    // learned quality margin + decision. Scale shape: featurization is
    // one narrow per-row projection (no explode/shuffle), the fit is
    // the q165 one-aggregate-per-step kernel over 16 columns.
    "q242_hashed_quality" -> { (s, dir) =>
      val B = 16
      val t = col("text")
      val y = when(TextOps.nTokens(t) < 20, 0L)
        .when(TextOps.stopwordRatio(t) < 0.05, 0L).otherwise(1L)
      val labels = Tables.documents(s, dir).select(col("doc_id"), y.as("y"))
      val f = TextOps.hashedNgramFeatures(Tables.documents(s, dir),
          col("doc_id"), col("text"), buckets = B)
        .join(labels, "doc_id")
        .localCheckpoint() // stats + 6 GD passes + the scoring pass
      val feats = (0 until B).map(b => s"f$b")
      val train = f.where(Splits.bucket(col("doc_id"), "hq", 5) =!= 0)
      val m = graft.scoring.Trainer.fitLogistic(train, feats, col("y"),
        iters = 6, lr = 0.5)
      val s4 = r6(graft.scoring.Trainer.margin(m))
      f.select(col("doc_id"), col("y"), s4.as("s"),
        (s4 > 0).cast("long").as("pred"))
    },
    // per-source quality caps (RefinedWeb-style curation): keep the top-k
    // highest-quality docs per source, report the kept/total mass and
    // quality lift per source. Ranking is the partitioned two-pass
    // GlobalOrder per-source rank (a Window.partitionBy(source) funnels
    // each source through ONE task — sources are few and huge at corpus
    // scale); quality is pre-rounded so the order is engine-identical.
    "q173_source_caps" -> { (s, dir) =>
      val k = 50
      val d = Tables.documents(s, dir).select(col("doc_id"), col("source"),
          r6(TextOps.qualityScore(col("text"))).as("q"))
        .localCheckpoint() // regex battery once, not per rank pass
      graft.ops.GlobalOrder.withRowNumberBy(d, Seq("source"),
          Seq(col("q").desc, col("doc_id")), "rk")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("rk") <= k, 1L).otherwise(0L)).as("n_kept"),
          r6(avg(when(col("rk") <= k, col("q")))).as("kept_avg_q"),
          r6(avg(col("q"))).as("all_avg_q"))
    },
    "q29_text_stats" -> { (s, dir) =>
      val t = col("text")
      docsSpread(s, dir).select(
        col("doc_id"),
        TextOps.nTokens(t).as("n_tokens"),
        TextOps.nBpeishTokens(t).as("n_bpeish_tokens"),
        r6(TextOps.punctRatio(t)).as("punct_ratio"),
        r6(TextOps.digitRatio(t)).as("digit_ratio"),
        r6(TextOps.stopwordRatio(t)).as("stopword_ratio"),
        r6(TextOps.avgTokenLen(t)).as("avg_token_len"),
        r6(TextOps.qualityScore(t)).as("quality_score"))
    },
    "q30_lang_id" -> { (s, dir) =>
      docsSpread(s, dir).select(
        col("doc_id"),
        TextOps.predictedLang(col("text")).as("predicted_lang"),
        col("lang"),
        (TextOps.predictedLang(col("text")) === col("lang")).as("correct"))
    },
    "q31_jaccard_topk" -> { (s, dir) =>
      Dedup.jaccardTopK(docsSpread(s, dir), col("doc_id"), col("text"),
          n = 3, dfCut = 50, k = 20)
        .select(col("doc1"), col("doc2"), col("inter"), r6(col("jaccard")).as("jaccard"))
    },
    "q32_minhash_signatures" -> { (s, dir) =>
      Dedup.minhashSignatures(docsSpread(s, dir), col("doc_id"), col("text"), n = 3)
    },
    "q33_minhash_pairs" -> { (s, dir) =>
      Dedup.minhashPairs(docsSpread(s, dir), col("doc_id"), col("text"), n = 3)
        .select(col("doc1"), col("doc2"), r6(col("jaccard")).as("jaccard"))
    },
    "q34_simhash" -> { (s, dir) =>
      Dedup.simhash(docsSpread(s, dir), col("doc_id"), col("text"))
    },
    // directional containment |A∩B|/|A| over the same LSH candidates —
    // the asymmetric near-dup that catches embedded/quoted documents
    "q116_containment" -> { (s, dir) =>
      Dedup.containmentPairs(docsSpread(s, dir), col("doc_id"), col("text"), n = 3)
        .select(col("doc1"), col("doc2"), col("inter"),
          r6(col("containment_1")).as("containment_1"),
          r6(col("containment_2")).as("containment_2"))
    },
    "q50_tfidf" -> { (s, dir) =>
      TextOps.tfidfTopK(docsSpread(s, dir), col("doc_id"), col("text"), k = 3)
        .select(col("doc_id"), col("term"), col("rank"), r6(col("tfidf")).as("tfidf"))
    },
    "q44_embedding_dups" -> { (s, dir) =>
      Similarity.cosineDupPairs(Tables.embeddings(s, dir), tau = 0.5)
        .select(col("id1"), col("id2"), r6(col("cos")).as("cos"))
    },
    "q35_ann_cosine" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 10), k = 10)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"),
          r6(col("cos")).as("cos"))
    },
    // corpus-trigram LM score: the perplexity-filter miniature (alien
    // text scores low under the corpus trigram distribution)
    "q131_trigram_lm" -> { (s, dir) =>
      // widen: the trigram explode is the cost and runs twice (counts +
      // score join) — on a one-split local scan it was fully serial
      TextOps.trigramLmScore(widen(Tables.documents(s, dir)),
          col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_trigrams"), r6(col("lm_score")).as("lm_score"))
    },
    // hard-negative mining: top-5 most-similar DIFFERENT-label vectors
    // per query (what a contrastive loss trains against)
    "q132_hard_negatives" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.hardNegatives(emb, emb.where(col("vec_id") < 10), k = 5)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"),
          r6(col("cos")).as("cos"))
    },
    // kNN label-consistency screen: flag vectors whose 5 nearest
    // neighbors mostly carry a DIFFERENT label (mislabeled-example
    // detection — the embedding-space QA pass of a training pipeline)
    "q137_knn_consistency" -> { (s, dir) =>
      // audit-sample the queries: label QA is a sampled screen, and the
      // exact all-pairs form must stay bench-sized (the corpus-scale
      // path prunes candidates through the q56/q59 LSH/IVF buckets)
      val emb = Tables.embeddings(s, dir)
      val labels = emb.select(col("vec_id"), col("label"))
      Similarity.cosineTopK(emb, emb.where(col("vec_id") < 1000), k = 5)
        .join(broadcast(labels.select(col("vec_id").as("query_id"), col("label").as("ql"))),
          "query_id")
        .join(broadcast(labels.select(col("vec_id").as("nbr_id"), col("label").as("nl"))),
          "nbr_id")
        .groupBy(col("query_id").as("vec_id"), col("ql").as("label"))
        .agg(count(when(col("nl") === col("ql"), 1)).as("knn_agree"))
        .withColumn("suspected", col("knn_agree") * 2 < 5)
    },
    // reciprocal-rank fusion of the cosine and euclidean rankers: the
    // calibration-free way to combine retrieval lists; fused order uses
    // the ROUNDED score so float noise cannot reorder
    "q143_rrf" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val emb = Tables.embeddings(s, dir)
      val q = emb.where(col("vec_id") < 10)
      val fused = Similarity.rrf(Seq(
        Similarity.cosineTopK(emb, q, 10),
        Similarity.euclidTopK(emb, q, 10)), c = 60)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(r6(col("rrf_score")).desc, col("nbr_id").asc)
      fused.withColumn("fused_rank", row_number().over(w))
        .where(col("fused_rank") <= 5)
        .select(col("query_id"), col("nbr_id"),
          col("fused_rank").cast("long").as("fused_rank"), col("n_lists"),
          r6(col("rrf_score")).as("rrf_score"))
    },
    // Gopher-style repetition screen: duplicate-word fraction + heaviest
    // unigram/bigram character mass (char-mass max is tie-break-free)
    "q145_repetition" -> { (s, dir) =>
      TextOps.repetitionStats(docsSpread(s, dir), col("doc_id"), col("text"))
        .select(col("doc_id"), col("n_words"), col("n_distinct_words"),
          r6(col("dup_word_frac")).as("dup_word_frac"),
          r6(col("top_unigram_char_frac")).as("top_unigram_char_frac"),
          r6(col("top_bigram_char_frac")).as("top_bigram_char_frac"))
    },
    // C4-style corpus boilerplate screen on word 3-grams: doc-frequency
    // cut at >=3 docs, flag docs that are mostly boilerplate
    "q146_boilerplate" -> { (s, dir) =>
      Dedup.boilerplateReport(docsSpread(s, dir), col("doc_id"), col("text"),
          n = 3, minDf = 3, flagFrac = 0.5)
        .select(col("doc_id"), col("n_shingles"), col("n_boiler"),
          r6(col("boiler_frac")).as("boiler_frac"), col("flagged"))
    },
    // benchmark decontamination: corpus docs sharing any word 5-gram
    // with the probe (eval) subset doc_id % 11 == 0
    "q147_decontam" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      Dedup.contaminationReport(
          docs.where(col("doc_id") % 11 =!= 0),
          docs.where(col("doc_id") % 11 === 0),
          col("doc_id"), col("text"), n = 5)
        .select(col("doc_id"), col("n_shingles"), col("n_contaminated"),
          r6(col("contaminated_frac")).as("contaminated_frac"),
          col("contaminated"))
    },
    // temperature-scaled mixture weights per source (alpha=0.7, 1M-token
    // budget): the multinomial sampling schedule for a multi-source corpus
    "q148_mixture_weights" -> { (s, dir) =>
      Splits.mixtureWeights(Tables.documents(s, dir), col("source"),
          TextOps.nTokens(col("text")), alpha = 0.7, budgetTokens = 1000000L)
        .select(col("source"), col("n_docs"), col("tokens"),
          r6(col("weight")).as("weight"), r6(col("epochs")).as("epochs"))
    },
    // incremental dedup: the new batch (doc_id % 10 == 0) vs the existing
    // corpus index — asymmetric LSH, best index match per new doc
    "q154_incremental_dedup" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      Dedup.incrementalDedup(
          docs.where(col("doc_id") % 10 =!= 0),
          docs.where(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"), n = 3, tau = 0.5)
        .select(col("doc_id"), col("match_id"),
          r6(col("jaccard")).as("jaccard"), col("is_dup"))
    },
    // MinHash sketch calibration: signature estimate vs exact Jaccard
    // over the LSH candidates (MAE + bias of the 16-hash estimator)
    "q157_minhash_calibration" -> { (s, dir) =>
      Dedup.minhashCalibration(docsSpread(s, dir), col("doc_id"), col("text"), n = 3)
        .select(col("n_pairs"), r6(col("mae")).as("mae"), r6(col("bias")).as("bias"))
    },
    // int8 scalar-quantization QA: 20 worst-reconstructed vectors
    "q156_quant_error" -> { (s, dir) =>
      Similarity.quantError(Tables.embeddings(s, dir))
        .orderBy(r6(col("mse_ppm")).desc, col("vec_id").asc)
        .limit(20)
        .select(col("vec_id"), r6(col("mse_ppm")).as("mse_ppm"))
    },
    // OOV-rate screen against a corpus-derived reference vocabulary
    // (top-20 tokens): per-doc out-of-vocabulary token fraction — the
    // tokenizer-fit signal. Vocab is tiny by construction -> broadcast.
    "q152_oov_rate" -> { (s, dir) =>
      val toks = docsSpread(s, dir).select(col("doc_id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
      val vocab = toks.groupBy(col("tok")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("tok").asc).limit(20).select(col("tok"))
      toks.join(broadcast(vocab.withColumn("in_v", lit(1))), Seq("tok"), "left")
        .groupBy(col("doc_id")).agg(
          count(lit(1)).as("n_tokens"),
          count(when(col("in_v").isNull, 1)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          r6(col("n_oov").cast("double") / col("n_tokens")).as("oov_rate"))
    },
    // lang x source chi-squared independence + Cramér's V: the corpus
    // balance diagnostic. Zero cells contribute e, so the full cross
    // product of the (tiny) margins is enumerated, not just observed cells.
    "q153_lang_source_chi2" -> { (s, dir) =>
      val d = Tables.documents(s, dir)
      val obs = d.groupBy(col("lang"), col("source")).agg(count(lit(1)).as("o"))
      val rowT = d.groupBy(col("lang")).agg(count(lit(1)).as("rt"))
      val colT = d.groupBy(col("source")).agg(count(lit(1)).as("ct"))
      val n = d.agg(count(lit(1)).as("n"))
      val cells = rowT.crossJoin(colT).join(obs, Seq("lang", "source"), "left")
        .crossJoin(broadcast(n))
        .select(col("lang"), col("source"), col("n"),
          coalesce(col("o"), lit(0L)).as("o"),
          (col("rt") * col("ct") / col("n")).as("e"))
      val l = rowT.agg(count(lit(1)).as("nl"))
      val sc = colT.agg(count(lit(1)).as("ns"))
      cells.agg(
          first(col("n")).as("n_docs"),
          sum((col("o") - col("e")) * (col("o") - col("e")) / col("e")).as("chi2"))
        .crossJoin(broadcast(l)).crossJoin(broadcast(sc))
        .select(col("n_docs"), ((col("nl") - 1) * (col("ns") - 1)).as("dof"),
          r6(col("chi2")).as("chi2"),
          r6(sqrt(col("chi2") / (col("n_docs") *
            least(col("nl") - 1, col("ns") - 1)))).as("cramers_v"))
    },
    // embedding-dimension correlation screen: one-pass mergeable Gram
    // aggregate, pair corr derived closed-form from the single Gram row;
    // top-40 by ROUNDED |corr| with (i, j) tie-breaks
    "q149_dim_corr" -> { (s, dir) =>
      Similarity.dimCorrPairs(Tables.embeddings(s, dir))
        .orderBy(r6(abs(col("corr"))).desc, col("i").asc, col("j").asc)
        .limit(40)
        .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"),
          r6z(col("corr")).as("corr"))
    },
    // top principal component of the embedding corpus (scale/Pca):
    // ONE mergeable GramAgg pass reduces n×d to a d(d+3)/2 buffer, then
    // the 64×64 eigensolve is model-size driver arithmetic — rounded
    // covariance entries + per-iteration re-rounded power iterates, so
    // the DuckDB oracle replays the identical chain.
    "q187_pca_power" -> { (s, dir) =>
      import s.implicits._
      val r = graft.scale.Pca.topComponent(
        Tables.embeddings(s, dir), col("embedding"), iters = 6)
      r.loadings.zipWithIndex
        .map { case (ld, i) => (i.toLong, ld, r.lambda, r.explainedRatio) }
        .toSeq.toDF("dim", "loading", "lambda", "explained_ratio")
    },
    // per-source Zipf slope: log-log regression of token frequency on
    // rank — the corpus-health fingerprint (natural text ~ -1)
    "q150_zipf_slope" -> { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val counts = docsSpread(s, dir)
        .select(col("source"),
          explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
        .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
      val ranked = counts.withColumn("rnk", row_number().over(
        Window.partitionBy(col("source")).orderBy(col("cnt").desc, col("tok").asc)))
      ranked.groupBy(col("source")).agg(
        count(lit(1)).as("n_types"),
        sum(col("cnt")).cast("long").as("n_tokens"),
        r6(regr_slope(log(col("cnt")), log(col("rnk")))).as("zipf_slope"))
    },
    // BPE vocabulary induction (scale/Bpe): 5 merge rounds over the
    // letter-word frequency table — the tokenizer-training step of an
    // LLM pipeline. Pure integer/string windows partitioned by WORD;
    // only the 1-row argmax reaches the driver per round; the oracle
    // replays the identical greedy merge chain (closed-form
    // left-to-right merge — see Bpe's island/parity argument).
    "q186_bpe_merges" -> { (s, dir) =>
      val words = Tables.documents(s, dir)
        .select(explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq"))
      Bpe.fit(words, col("word"), col("freq"), rounds = 5)
        .map(m => s.range(0, 1, 1, 1).select(lit(m.round).as("round"),
          lit(m.left).as("merge_left"), lit(m.right).as("merge_right"),
          lit(m.count).as("cnt"), lit(m.vocabAfter).as("vocab_after")))
        .reduce(_.unionByName(_))
    },
    // the PROJECTION side of q187: score every embedding against the
    // fitted loadings (literal array through the ArrayDot kernel — one
    // narrow pass, no join) and summarize per label: the class-
    // separation-along-PC1 screen an embedding QA pipeline runs.
    "q190_pca_project" -> { (s, dir) =>
      val r = graft.scale.Pca.topComponent(
        Tables.embeddings(s, dir), col("embedding"), iters = 6)
      val v = array(r.loadings.map(lit).toIndexedSeq: _*)
      Tables.embeddings(s, dir)
        .select(col("label").cast("long").as("label"),
          Similarity.dot(col("embedding"), v).as("proj"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          r6(avg(col("proj"))).as("mean_proj"),
          r6(stddev_pop(col("proj"))).as("std_proj"),
          r6(min(col("proj"))).as("min_proj"),
          r6(max(col("proj"))).as("max_proj"))
    },
    // autoencoder-style anomaly detection, closed form (reference
    // models/advanced_models.py:107-142 builds a reconstruction
    // autoencoder, :452-456 fits it on NORMAL rows only, :480-487 uses
    // reconstruction error as the anomaly score): fit the top principal
    // component on label-0 embeddings, score EVERY embedding by its
    // squared reconstruction residual ||x−μ||² − ((x−μ)·v)², and report
    // per-label error moments plus the detector's AUC at flagging
    // label ≠ 0. Scale shape: one GramAgg pass over the fit slice fits
    // the model; scoring is a join-free narrow pass of three ArrayDot
    // kernels against literal arrays; only the d-sized model touches the
    // driver.
    "q192_recon_anomaly" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val r = graft.scale.Pca.topComponent(
        emb.where(col("label") === 0), col("embedding"), iters = 6)
      val scored = emb.select(col("label").cast("long").as("label"),
        r6(graft.scale.Pca.reconstructionError(col("embedding"), r)).as("err"))
      val aucDf = graft.feedback.Drift.auc(scored, col("label") =!= 0L, col("err"))
        .select(r6(col("auc")).as("auc"))
      scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          r6(avg(col("err"))).as("mean_err"),
          r6(stddev_pop(col("err"))).as("std_err"),
          r6(min(col("err"))).as("min_err"),
          r6(max(col("err"))).as("max_err"))
        .crossJoin(broadcast(aucDf))
    },
    // pretraining mixture solver (the DoReMi-style budgeting step of an
    // LLM data pipeline — engine extension): target mixture weights per
    // source (deterministic from the source index), available tokens per
    // source, and the LARGEST total token budget T with w_s·T <= avail_s
    // for every source. The binding source saturates (rate 1); everything
    // else downsamples to w_s·T. Closed form T = min_s avail_s/w_s; the
    // binding test is exact integer cross-multiplication (a_s·w_t vs
    // a_t·w_s), no float argmin. One token-count aggregate reduces the
    // corpus to |sources| model-size rows; all joins broadcast.
    "q195_mixture_budget" -> { (s, dir) =>
      val base = Tables.documents(s, dir)
        .groupBy(col("source"))
        .agg(sum(TextOps.nTokens(col("text"))).as("tokens"))
        // uncapped suffix (oracle parity: DuckDB substr(source, 4) runs
        // to end-of-string — a fixed-length cap would silently diverge on
        // longer source ids)
        .withColumn("wraw", expr("substring(source, 4)").cast("long") % 4 + 1)
      val sw = base.agg(sum(col("wraw")).as("sw"))
      val withRatio = base.crossJoin(broadcast(sw))
        .withColumn("ratio", col("tokens").cast("double") * col("sw") / col("wraw"))
      val tmin = withRatio.agg(min(col("ratio")).as("t"))
      val peers = base.select(col("tokens").as("t2"), col("wraw").as("w2"))
      val binding = withRatio.crossJoin(broadcast(peers))
        .groupBy(col("source"), col("tokens"), col("wraw"), col("sw"))
        .agg(max(when(col("t2") * col("wraw") < col("tokens") * col("w2"), 1)
          .otherwise(0)).as("beat"))
      binding.crossJoin(broadcast(tmin)).select(
        col("source"), col("tokens"),
        r6(col("wraw").cast("double") / col("sw")).as("weight"),
        r6(col("t")).as("budget_tokens"),
        r6(col("wraw") * col("t") / col("sw")).as("sampled_tokens"),
        r6(col("wraw") * col("t") / col("sw") / col("tokens")).as("rate"),
        (col("beat") === 0).as("binding"))
    },
    // the k-dim bottleneck variant of q192 (the reference autoencoder's
    // encoding_dim > 1, models/advanced_models.py:113-127): THREE
    // components via power iteration + Hotelling deflation — the rounded
    // λ/v deflation keeps both engines on a bit-identical matrix chain —
    // and the residual subtracts every component's projection. Same
    // single Gram pass; scoring grows one ArrayDot kernel per component.
    "q196_recon_anomaly_k" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val cs = graft.scale.Pca.topComponents(
        emb.where(col("label") === 0), col("embedding"), k = 3, iters = 6)
      val scored = emb.select(col("label").cast("long").as("label"),
        r6(graft.scale.Pca.reconstructionError(col("embedding"), cs)).as("err"))
      val aucDf = graft.feedback.Drift.auc(scored, col("label") =!= 0L, col("err"))
        .select(r6(col("auc")).as("auc"))
      scored.groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          r6(avg(col("err"))).as("mean_err"),
          r6(stddev_pop(col("err"))).as("std_err"),
          r6(min(col("err"))).as("min_err"),
          r6(max(col("err"))).as("max_err"))
        .crossJoin(broadcast(aucDf))
    },
    // the ENCODER side of q186: price the learned 5-merge vocabulary on
    // every corpus slice. The merge chain runs once at VOCABULARY scale
    // (distinct words); per-source cost is then a word-level join —
    // never a re-tokenization of the corpus. compression = tokens/chars.
    "q189_bpe_encode" -> { (s, dir) =>
      val ws = Tables.documents(s, dir).select(col("source"),
        explode(regexp_extract_all(lower(col("text")),
          lit("[a-z]+"), lit(0))).as("word"))
      val swf = ws.groupBy(col("source"), col("word"))
        .agg(count(lit(1)).as("freq")).localCheckpoint() // feeds fit + report
      val words = swf.groupBy(col("word")).agg(sum(col("freq")).as("freq"))
      val (_, toks) = Bpe.fitWithTokens(words, col("word"), col("freq"), rounds = 5)
      val tw = toks.groupBy(col("word")).agg(count(lit(1)).as("ntok"))
      swf.join(tw, "word")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_words"),
          sum(col("freq") * length(col("word"))).cast("long").as("chars"),
          sum(col("freq") * col("ntok")).cast("long").as("tokens"))
        .select(col("source"), col("n_words"), col("chars"), col("tokens"),
          r6(col("tokens").cast("double") / col("chars")).as("compression"))
    },
    // PMI collocations: phrase mining before vocabulary building —
    // top-20 adjacent-token pairs by pointwise mutual information,
    // ranked on the ROUNDED score so float noise cannot reorder
    "q141_collocations" -> { (s, dir) =>
      TextOps.collocations(Tables.documents(s, dir), col("text"), minCount = 5)
        .select(col("a"), col("b"), col("cab").as("c_ab"),
          r6(col("pmi")).as("pmi"))
        .orderBy(col("pmi").desc, col("a").asc, col("b").asc)
        .limit(20)
    },
    "q55_winnowing" -> { (s, dir) =>
      // the kernel map is CPU-bound and the corpus file is one input
      // split — spread the rows first (standard small-input/expensive-map
      // repartition; at real corpus scale the input splits already give
      // this parallelism and the repartition collapses to a no-op cost)
      TextOps.winnowFingerprints(docsSpread(s, dir),
        col("doc_id"), col("text"), k = 8, w = 4)
    },
    "q56_ann_lsh" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.lshTopK(emb, emb.where(col("vec_id") < 10), k = 10,
          planes = lshPlanes, dim = lshDim)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"),
          r6(col("cos")).as("cos"))
    },
    // ANN recall QA: per-probe recall@10 of the LSH path (q56) against
    // the exact cosine top-10 (q35) — the acceptance report an engineer
    // reads before trusting the approximate path at corpus scale. Both
    // rankings are already deterministic (rounded-stable cos + id ties),
    // so the intersection is exact; hash-gated like everything else.
    "q175_ann_recall" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val exact = Similarity.cosineTopK(emb, probes, k = 10)
        .select(col("query_id"), col("nbr_id"))
      val ann = Similarity.lshTopK(emb, probes, k = 10,
          planes = lshPlanes, dim = lshDim)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
      exact.join(ann, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_exact"), col("n_hit"),
          r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
    },
    "q57_neardup_groups" -> { (s, dir) =>
      Dedup.neardupGroups(docsSpread(s, dir), col("doc_id"), col("text"),
        n = 3, tau = 0.5)
    },
    // graded retrieval QA for the approximate path (the q175 recall
    // gate's ranked sibling): per probe, NDCG@10 of the LSH list with
    // binary gains from the exact top-10, and MRR of the exact nearest
    // neighbor — position-aware quality, where recall alone cannot see
    // that the true neighbor sits last
    "q266_ann_ndcg" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val exact = Similarity.cosineTopK(emb, probes, k = 10)
        .select(col("query_id"), col("nbr_id"), col("rank"))
      val ann = Similarity.lshTopK(emb, probes, k = 10,
          planes = lshPlanes, dim = lshDim)
        .select(col("query_id"), col("nbr_id"), col("rank"))
      val idcg = (1 to 10).map(i => 1.0 / (math.log(i + 1.0) / math.log(2.0))).sum
      val hit = exact.select(col("query_id"), col("nbr_id"), lit(1).as("hit"))
      val top1 = exact.where(col("rank") === 1)
        .select(col("query_id"), col("nbr_id").as("top1"))
      val d = ann.join(hit, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_ann"),
          sum(when(col("hit") === 1,
            lit(1.0) / log(2.0, col("rank").cast("double") + 1.0))
            .otherwise(0.0)).as("dcg"))
      val m = ann.join(broadcast(top1), "query_id")
        .where(col("nbr_id") === col("top1"))
        .groupBy(col("query_id")).agg(min(col("rank")).as("r1"))
      d.join(broadcast(m), Seq("query_id"), "left")
        .select(col("query_id"), col("n_ann"),
          r6(col("dcg") / lit(idcg)).as("ndcg"),
          r6(coalesce(lit(1.0) / col("r1"), lit(0.0))).as("mrr"))
    },
    // C4 cleaning battery (Raffel et al. 2020 §2.2): line rules
    // (terminal punctuation, >=5 words, no javascript boilerplate) +
    // doc rules (>=3 kept lines, no lorem ipsum, no code brace, no bad
    // word), rolled up per source. The battery itself is a PURE
    // projection (scale/C4.scala, PlanSpec-gated zero-exchange before
    // the rollup) on the doc_id-arithmetic line fixture the oracle
    // rebuilds identically.
    "q267_c4_rules" -> { (s, dir) =>
      val d = docsSpread(s, dir).select(
        col("doc_id") +: col("source") +: graft.scale.C4.statsCols(c4Augmented): _*)
      d.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("c4_kept"), 1L).otherwise(0L)).as("docs_kept"),
        sum(col("n_lines")).as("lines_total"),
        sum(col("n_kept_lines")).as("lines_kept"),
        sum(when(col("c4_kept"), col("kept_chars")).otherwise(0L)).as("kept_chars"),
        sum(when(col("has_lorem"), 1L).otherwise(0L)).as("docs_lorem"),
        sum(when(col("has_brace"), 1L).otherwise(0L)).as("docs_brace"),
        sum(when(col("has_badword"), 1L).otherwise(0L)).as("docs_badword"),
        r6(sum(when(col("c4_kept"), 1L).otherwise(0L)).cast("double") /
          count(lit(1))).as("keep_rate"))
    },
    // Okapi BM25 top-10 retrieval over the corpus inverted index
    // (scale/Retrieval.scala): eval queries = docs 0..7, each query its
    // distinct token set. Scores are float sums, so ranking happens on
    // the ROUNDED score (engine quantum, doc tie-break) via the bounded
    // native TopK aggregate — never a single-task per-query window (or
    // a full-candidate exchange) over corpus-scale candidate lists.
    "q268_bm25" -> { (s, dir) =>
      val pairs = graft.scale.Retrieval.bm25Pairs(docsSpread(s, dir),
        col("doc_id"), col("text"), col("doc_id") < 8)
      // bounded top-k: the native aggregate collapses each query's
      // corpus-scale candidate list map-side (one pass, no checkpoint)
      graft.ops.TopK.byGroup(
          pairs.select(col("query_id"), col("doc_id").as("nbr_id"),
            r6(col("bm25")).as("bm25")),
          Seq("query_id"), "bm25", asc = false, "nbr_id", 10)
        .select(col("query_id"), col("nbr_id"), col("rank"), col("bm25"))
    },
    // per-source unigram KL divergence vs the corpus distribution — the
    // mixture-QA number a pretraining budgeter watches (a source whose
    // language distribution drifts from the corpus is over- or
    // under-represented in the mix). Term-keyed joins + source-keyed
    // aggregation; source and corpus totals are tiny broadcasts.
    "q269_source_kl" -> { (s, dir) =>
      TextOps.sourceUnigramKl(docsSpread(s, dir), col("source"), col("text"))
        .select(col("source"), col("n_tokens"), col("vocab"),
          r6(col("kl")).as("kl"))
    },
    // hybrid retrieval: BM25 lexical ranks fused with exact-cosine
    // embedding ranks by reciprocal-rank fusion (c=60, the q143
    // combiner) — the standard lexical + two-tower ensemble, joined on
    // the shared doc/vec id space. Both top-10 lists and the fused rank
    // go through the scale-safe machinery.
    "q270_hybrid_rrf" -> { (s, dir) =>
      val pairs = graft.scale.Retrieval.bm25Pairs(docsSpread(s, dir),
        col("doc_id"), col("text"), col("doc_id") < 8)
      val lex = graft.ops.TopK.byGroup(
          pairs.select(col("query_id"), col("doc_id").as("nbr_id"),
            r6(col("bm25")).as("score")),
          Seq("query_id"), "score", asc = false, "nbr_id", 10)
        .select(col("query_id"), col("nbr_id"), col("rank"))
      val emb = Tables.embeddings(s, dir)
      val sem = Similarity.cosineTopK(emb, emb.where(col("vec_id") < 8), k = 10)
        .select(col("query_id"), col("nbr_id"), col("rank"))
      val fused = Similarity.rrf(Seq(lex, sem), c = 60)
        .select(col("query_id"), col("nbr_id"), col("n_lists"),
          r6(col("rrf_score")).as("rrf_score"))
      graft.ops.TopK.byGroup(fused, Seq("query_id"), "rrf_score",
          asc = false, "nbr_id", 10, payload = Seq("n_lists"))
        .select(col("query_id"), col("nbr_id"), col("n_lists"),
          col("rank").as("fused_rank"), col("rrf_score"))
    },
    // index-pruning QA (the q175 recall gate's lexical sibling):
    // impact-ordered posting truncation keeps each term's top-128
    // postings by tf — a query term then touches at most 128 candidates
    // no matter how common the term — and the gate reports recall@10 of
    // the pruned index against the exact one. ONE shared token index;
    // both bounded ranks ride the native TopK aggregate (per-term for
    // the truncation, per-query for the top-k).
    "q271_bm25_truncated" -> { (s, dir) =>
      val tf = graft.scale.Retrieval.tokenIndex(docsSpread(s, dir),
        col("doc_id"), col("text"), col("doc_id") < 8)
      def top10(pairs: org.apache.spark.sql.DataFrame) =
        graft.ops.TopK.byGroup(
            pairs.select(col("query_id"), col("doc_id").as("nbr_id"),
              r6(col("bm25")).as("bm25")),
            Seq("query_id"), "bm25", asc = false, "nbr_id", 10)
      val exact = top10(graft.scale.Retrieval.bm25PairsFromIndex(tf))
        .select(col("query_id"), col("nbr_id"))
      val approx = top10(graft.scale.Retrieval.bm25PairsFromIndex(tf,
          pruneTo = Some(128)))
        .select(col("query_id"), col("nbr_id"), lit(1L).as("hit"))
      exact.join(approx, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("hit"), lit(0L))).as("n_hit"))
        .select(col("query_id"), col("n_exact"), col("n_hit"),
          r6(col("n_hit").cast("double") / col("n_exact")).as("recall"))
    },
    // temperature-based mixture sampling (the multilingual/multi-source
    // sampling rule): p_i ∝ n_i^α with α=0.3 flattens the source
    // distribution; under a fixed token budget the report shows each
    // source's sampling share and effective epochs (how many times its
    // corpus is replayed — the over-sampling a budgeter watches for
    // small sources). One source-keyed aggregate + a 1-row broadcast.
    "q272_mixture_temperature" -> { (s, dir) =>
      val nTok = pow(col("n_tokens").cast("double"), 0.3)
      val m = docsSpread(s, dir).groupBy(col("source"))
        .agg(sum(TextOps.nTokens(col("text"))).as("n_tokens"))
      val tot = m.agg(sum(pow(col("n_tokens").cast("double"), 0.3)).as("z"))
      m.crossJoin(broadcast(tot))
        .select(col("source"), col("n_tokens"),
          r6(nTok / col("z")).as("p_sample"),
          r6((lit(10000000L) * (nTok / col("z"))) / col("n_tokens")).as("epochs"))
    },
    // the standing-query (prospective-search / alerting) lifecycle gate:
    // fit ONE standing BM25 query (doc 3's 16 rarest terms + frozen
    // corpus stats), publish -> read -> rebuild -> serve through the
    // promotion machinery, and roll the served per-row scores up per
    // source. Any divergence between the store round trip, the kind
    // dispatch, or the frozen O(topTerms) projection and the oracle's
    // independent replay of the fit+score chain hash-fails.
    "q273_bm25_standing" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val m = graft.scale.Retrieval.fitStanding(docs, col("doc_id"),
        col("text"), col("doc_id") === 3L, topTerms = 16).head
      val path = scratchDir("graft_q273_models")
      graft.scoring.ModelStore.publish(s, path,
        graft.scoring.ModelStore.bm25QueryRows("standing", 1L, m))
      val store = s.read.parquet(path)
      val served = graft.streaming.ServedModel.of(
        graft.scoring.ModelStore.rowsOf(store, "standing", 1L))
      val nman = store.where(col("kind") === "manifest").count()
      docsSpread(s, dir).where(col("doc_id") =!= 3L)
        .select(col("source"), r6(served.score).as("s4"))
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(when(col("s4") > 4.0, 1L).otherwise(0L)).as("n_alerts"),
          r6(avg(col("s4"))).as("avg_score"),
          max(col("s4")).as("max_score"))
        .withColumn("n_manifest", lit(nman))
    },
    // RAG-style document chunking: fixed 64-token windows at stride 48
    // (16-token overlap), each chunk fingerprinted — the table an
    // embedding/retrieval pipeline actually indexes. Pure per-doc array
    // arithmetic + ONE explode whose output IS the product (the chunk
    // table); no shuffle, no state — at 100 TB the chunker is a map.
    "q274_chunking" -> { (s, dir) =>
      TextOps.chunks(docsSpread(s, dir), col("doc_id"), col("text"))
    },
    // chunk-grain exact dedup: a chunk whose fingerprint appears more
    // than once in the corpus is redundant embedding/indexing work —
    // the RAG-side twin of the q28 exact-dedup report. fp-keyed
    // aggregation + join back (the q240 duplicate-span shape), rolled
    // up per source.
    "q275_chunk_dedup" -> { (s, dir) =>
      val chunks = TextOps.chunks(docsSpread(s, dir), col("doc_id"),
          col("text"), keep = Seq("source"))
        .localCheckpoint() // chunk build feeds the count AND the join back
      val cnt = chunks.groupBy(col("chunk_fp")).agg(count(lit(1)).as("c"))
      chunks.join(cnt, "chunk_fp")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_chunks"),
          sum(when(col("chunk_tokens") === 64, 1L).otherwise(0L)).as("full_chunks"),
          sum(when(col("c") > 1, 1L).otherwise(0L)).as("dup_instances"),
          sum(when(col("c") > 1, col("chunk_tokens")).otherwise(0L)).as("dup_tokens"),
          r6(sum(when(col("c") > 1, 1L).otherwise(0L)).cast("double") /
            count(lit(1))).as("dup_rate"))
    },
    "q67_hash_split" -> { (s, dir) =>
      // deterministic train/valid/test assignment (scale/Splits): salted
      // md5 bucket — narrow, no RNG state, reproducible on any engine and
      // any cluster size, stable under re-runs and repartitions: the
      // properties a 100 TB training-data split actually needs.
      val bucket = graft.scale.Splits.bucket(col("doc_id"))
      Tables.documents(s, dir).select(
        col("doc_id"), bucket.as("bucket"),
        graft.scale.Splits.assign(bucket).as("split"))
    },
    "q73_contamination" -> { (s, dir) =>
      // train/eval contamination audit: a valid/test doc whose normalized
      // fingerprint also appears in train leaks training text into eval.
      // fp-keyed equi-join of eval docs against distinct train
      // fingerprints — both sides shrink to (fp) before the shuffle.
      val base = Tables.documents(s, dir).select(col("doc_id"),
        graft.scale.Splits.assign(graft.scale.Splits.bucket(col("doc_id"))).as("split"),
        TextOps.fingerprint(col("text")).as("fp"))
      val trainFps = base.where(col("split") === "train")
        .select(col("fp").as("tfp")).distinct()
      base.where(col("split") =!= "train")
        .join(trainFps, col("fp") === col("tfp"), "left")
        .select(col("doc_id"), col("split"), col("tfp").isNotNull.as("contaminated"))
    },
    "q74_quality_filter" -> { (s, dir) =>
      // C4-style quality gate with per-rule drop reasons: first failing
      // rule wins (too_short before low_stopword), survivors 'kept'.
      // One narrow projection — the filter itself costs nothing at scale.
      val t = col("text")
      val reason = when(TextOps.nTokens(t) < 20, "too_short")
        .when(TextOps.stopwordRatio(t) < 0.05, "low_stopword")
        .otherwise("kept")
      docsSpread(s, dir).select(col("doc_id"), reason.as("reason"),
        (reason === "kept").as("keep"))
    },
    "q77_rolling_hash" -> { (s, dir) =>
      // Rabin rolling-hash fingerprints (native O(1)/position kernel);
      // oracle recomputes each sampled hash with the naive polynomial
      TextOps.rollingFingerprints(docsSpread(s, dir), col("doc_id"), col("text"),
        k = 8, stride = 16)
    },
    "q65_token_zipf" -> { (s, dir) =>
      // corpus vocabulary head: token frequencies ranked Zipf-style.
      // Two-level plan: per-partition pre-aggregation -> one exchange on
      // token -> global top-k (rank window over the tiny aggregate).
      import org.apache.spark.sql.expressions.Window
      val toks = docsSpread(s, dir).select(
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
      // top-50 FIRST (TakeOrderedAndProject: per-partition top-k, then a
      // 50-row merge) — a bare global rank window would funnel the whole
      // vocabulary through one task; the rank then runs over 50 rows
      val head = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("tok").asc).limit(50)
      // 50 rows post-limit: rank via a window-free triangular self-join
      // (count of rows at-or-before in the total order)
      val prior = head.select(col("tok").as("__t2"), col("cnt").as("__c2"))
      head.join(prior, col("__c2") > col("cnt") ||
          (col("__c2") === col("cnt") && col("__t2") <= col("tok")))
        .groupBy(col("tok"), col("cnt"))
        .agg(count(lit(1)).cast("int").as("rnk"))
    },
    "q59_ann_ivf" -> { (s, dir) =>
      // iters = 0: seed-vector quantizer only. Lloyd refinement averages
      // floats across partitions (summation order not reproducible between
      // engines), so the refined variant is test-gated (ScaleSpec recall)
      // while this seeded form is oracle-exact end to end.
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfTopK(emb, emb.where(col("vec_id") < 10), k = 10,
          nlist = 8, nprobe = 3, iters = 0)
        .select(col("query_id"), col("nbr_id"), col("rank").cast("long").as("rank"),
          r6(col("cos")).as("cos"))
    },
    // DSIR importance resampling (Xie et al. 2023): score every doc by
    // hashed-unigram log importance weight against the q74-kept quality
    // slice (add-one-smoothed 64-bucket multinomials), keep the top 50%
    // per source. The model is ONE corpus aggregation down to 64 rows;
    // per-doc scoring re-joins the broadcast weight table; the per-source
    // rank is the partitioned two-pass GlobalOrder (q248's scale shape).
    "q256_dsir" -> { (s, dir) =>
      val docs = docsSpread(s, dir) // tokenization is CPU-bound; spread
      val t = col("text")
      val tgt = !(TextOps.nTokens(t) < 20 || TextOps.stopwordRatio(t) < 0.05)
      val per = Dsir.weights(docs, col("doc_id"), t, tgt, buckets = 64)
      val full = docs.select(col("doc_id"), col("source"))
        .join(per, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"),
          coalesce(col("n_toks"), lit(0L)).as("n_toks"),
          coalesce(r6(col("dsir_w")), lit(0.0)).as("score"))
        .localCheckpoint() // rank input: probe + local + totals passes
      val ranked = graft.ops.GlobalOrder.withRowNumberBy(full, Seq("source"),
          Seq(col("score").desc, col("doc_id")), "rk")
        .join(broadcast(full.groupBy(col("source"))
          .agg(count(lit(1)).as("nsrc"))), Seq("source"))
      ranked.select(col("doc_id"), col("source"), col("n_toks"),
        col("score"), (col("rk") <= ceil(col("nsrc") * 0.5)).as("kept"))
    },
    // product-quantization ADC search (Jégou et al. 2011): 8 subspaces ×
    // 16-centroid codebooks compress each 64-float vector to 8 codes; a
    // query sums lookup-table entries instead of touching vectors — the
    // memory-compressed ANN regime (8 bytes/vector). Codebooks are the
    // q59-style deterministic seed quantizer, so the whole chain is
    // oracle-exact; ranking is over rounded ADC (code-sharing candidates
    // have EQUAL true distance — raw float sums would leave the tie to
    // summation order).
    "q257_pq_adc" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.pqTopK(emb, emb.where(col("vec_id") < 10), k = 10,
          dim = 64, m = 8, ksub = 16)
        .select(col("query_id"), col("nbr_id"),
          col("rank").cast("long").as("rank"), col("adc"))
    },
    // trained-vs-seed PQ codebook QA (VERDICT-r13 item 4): per probe,
    // recall@10 against the exact euclid top-10 for BOTH quantizers —
    // the seed codebooks (q257) and the per-subspace rounded-Lloyd
    // trained ones (one fused chain over all 8 subspaces; every refined
    // coordinate re-rounds through the engine quantum, so the oracle
    // replays the identical codebook matrix). The number a deployment
    // reads before paying for codebook training.
    "q277_pq_trained" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val exact = Similarity.euclidTopK(emb, probes, k = 10)
        .select(col("query_id"), col("nbr_id"))
      val seed = Similarity.pqTopK(emb, probes, k = 10,
          dim = 64, m = 8, ksub = 16)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("sh"))
      val trained = Similarity.pqTopKTrained(emb, probes, k = 10,
          dim = 64, m = 8, ksub = 16, iters = 1)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("th"))
      exact.join(seed, Seq("query_id", "nbr_id"), "left")
        .join(trained, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("sh"), lit(0L))).as("seed_hits"),
          sum(coalesce(col("th"), lit(0L))).as("trained_hits"),
          r6(sum(coalesce(col("sh"), lit(0L))).cast("double") / count(lit(1)))
            .as("seed_recall"),
          r6(sum(coalesce(col("th"), lit(0L))).cast("double") / count(lit(1)))
            .as("trained_recall"))
    },
    // cross-doc line dedup (the CCNet/RefinedWeb boilerplate-line strip
    // that runs BEFORE document-level dedup): lines appearing in >= 2
    // distinct docs are shared; per doc, shared line instances + the
    // char mass they carry + the flag at 0.30 rounded shared-char
    // fraction. Same lined fixture as q253 — its 'ref N' lines and the
    // corpus's exact-dup texts provide genuine cross-doc repeats.
    "q264_line_dedup" -> { (s, dir) =>
      TextOps.crossDocLineReport(
        docsSpread(s, dir).select(col("doc_id"), linedAugmented.as("text")),
        col("doc_id"), col("text"))
    },
    // supervised language ID (the learned upgrade of q30's marker
    // heuristic): hashed char-trigram naive Bayes — model = classes×64
    // integers (one corpus aggregation, broadcast everywhere), test-side
    // argmax on the rounded posterior, confusion matrix on the md5-20%
    // hold-out. fastText-shaped (Joulin et al. 2016), vocabulary-free.
    // The synthetic corpus draws the SAME token distribution for every
    // lang value (measured: NB ≈ chance), so — the q245/q253 fixture
    // technique — the text is augmented with a deterministic per-lang
    // marker the oracle rebuilds identically, making the gate test
    // DISCRIMINATION (learned markers win the hold-out), not just
    // mechanics.
    "q263_lang_nb" -> { (s, dir) =>
      val marked = concat(col("text"), lit(" "), col("lang"),
        lit(" "), col("lang"), lit(" "), col("lang"))
      graft.scale.LangId.nbConfusion(docsSpread(s, dir), col("doc_id"),
          marked, col("lang"),
          Splits.bucket(col("doc_id"), "lid", 5) =!= 0, buckets = 64)
        .select(col("lang"), col("pred"), col("n_docs"))
    },
    // CCNet's FIRST filter joins the funnel (VERDICT-r13 gap 3): the
    // q263-fitted lang classifier gates the WHOLE corpus (train slice
    // included — a funnel gates everything, not just the hold-out), and
    // only target-language docs spend the later gates' budget. Per
    // source: docs/tokens, lang-gate keeps, how many of those carry the
    // TRUE target label (gate precision mass), and the
    // lang-then-heuristic survivors — the q249 funnel's head stages with
    // the new first gate. Same marker fixture as q263 so the gate tests
    // DISCRIMINATION; model = one corpus aggregation, broadcast; gate =
    // per-doc argmax over classes rows (doc-keyed, bounded); rollup =
    // one source-keyed aggregation.
    "q276_lang_funnel" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      val marked = concat(col("text"), lit(" "), col("lang"),
        lit(" "), col("lang"), lit(" "), col("lang"))
      val pred = graft.scale.LangId.nbPredictionsAll(docs, col("doc_id"),
          marked, col("lang"),
          Splits.bucket(col("doc_id"), "lid", 5) =!= 0, buckets = 64)
        .select(col("doc_id"), col("pred"))
      val t = col("text")
      val base = docs.select(col("doc_id"), col("source"), col("lang"),
        TextOps.nTokens(t).as("ntok"),
        (!(TextOps.nTokens(t) < 20 || TextOps.stopwordRatio(t) < 0.05)).as("h"))
      val lk = col("pred").isin("en", "de", "es")
      base.join(pred, Seq("doc_id"), "left")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(when(lk, 1L).otherwise(0L)).as("lang_kept_docs"),
          sum(when(lk && col("pred") === col("lang"), 1L).otherwise(0L))
            .as("lang_correct_docs"),
          sum(when(lk && col("h"), 1L).otherwise(0L)).as("survivors"),
          sum(when(lk && col("h"), col("ntok")).otherwise(0L))
            .as("survivor_tokens"))
    },
    // per-gate marginal attribution over the q249 funnel battery: for
    // each source, the docs/tokens dropped by EXACTLY one gate (the mass
    // that gate alone is responsible for — what relaxing it would buy)
    // vs the multi-gate overlap. Same flags, same scale shape as q249;
    // one extra conditional-sum aggregation.
    "q262_gate_attribution" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val t = col("text")
      val flm = graft.scale.Perplexity.fitLm(docs, col("text"))
      val base = docs.select(col("doc_id"), col("source"),
        TextOps.nTokens(t).as("ntok"),
        (!(TextOps.nTokens(t) < 20 || TextOps.stopwordRatio(t) < 0.05)).as("h"),
        r6(graft.scale.Perplexity.lmScore(flm, t)).as("lm"))
      val rep = TextOps.gopherRepetition(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), col("gopher_flag"))
      val joined = base.join(rep, Seq("doc_id"), "left")
        .localCheckpoint() // rank input: probe + local + totals passes
      val ranked = graft.ops.GlobalOrder.withRowNumberBy(joined,
          Seq("source"), Seq(col("lm").desc_nulls_last, col("doc_id")), "rk")
        .join(broadcast(joined.groupBy(col("source"))
          .agg(count(lit(1)).as("nsrc"))), Seq("source"))
      val fh = !col("h")
      val fg = coalesce(col("gopher_flag"), lit(false))
      val fp = !(col("lm").isNotNull && col("rk") <= ceil(col("nsrc") * 0.7))
      val nf = fh.cast("int") + fg.cast("int") + fp.cast("int")
      def only(f: org.apache.spark.sql.Column) = f && nf === 1
      ranked.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(when(nf === 0, 1L).otherwise(0L)).as("kept_docs"),
        sum(when(only(fh), 1L).otherwise(0L)).as("only_heuristic_docs"),
        sum(when(only(fh), col("ntok")).otherwise(0L)).as("only_heuristic_tokens"),
        sum(when(only(fg), 1L).otherwise(0L)).as("only_repetition_docs"),
        sum(when(only(fg), col("ntok")).otherwise(0L)).as("only_repetition_tokens"),
        sum(when(only(fp), 1L).otherwise(0L)).as("only_perplexity_docs"),
        sum(when(only(fp), col("ntok")).otherwise(0L)).as("only_perplexity_tokens"),
        sum(when(nf >= 2, 1L).otherwise(0L)).as("overlap_docs"),
        sum(when(nf >= 2, col("ntok")).otherwise(0L)).as("overlap_tokens"))
    },
    // dedup-aware mixture rebudget: the q195 DoReMi-style solver run on
    // DEDUPED token mass — exact dedup (q28's min-id canonicals) changes
    // which source binds and how large the feasible budget is, the
    // decision a curation run re-makes after every cleaning pass. Both
    // budgets reported; the binding test stays exact integer
    // cross-multiplication on the deduped masses.
    "q261_dedup_budget" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val keepF = Dedup.exactGroups(docs, col("doc_id"), col("text"))
        .select(col("doc_id"), (col("doc_id") === col("canonical_id")).as("keep"))
      val base = docs.join(keepF, "doc_id")
        .groupBy(col("source"))
        .agg(sum(TextOps.nTokens(col("text"))).as("tokens_raw"),
          sum(when(col("keep"), TextOps.nTokens(col("text")))
            .otherwise(0L)).as("tokens_dedup"))
        .withColumn("wraw", expr("substring(source, 4)").cast("long") % 4 + 1)
        .localCheckpoint() // model-size rows feeding two budget solves
      val sw = base.agg(sum(col("wraw")).as("sw"))
      val withR = base.crossJoin(broadcast(sw))
        .withColumn("ratio_raw",
          col("tokens_raw").cast("double") * col("sw") / col("wraw"))
        .withColumn("ratio_dd",
          col("tokens_dedup").cast("double") * col("sw") / col("wraw"))
      val tmins = withR.agg(min(col("ratio_raw")).as("t_raw"),
        min(col("ratio_dd")).as("t_dd"))
      val peers = base.select(col("tokens_dedup").as("t2"), col("wraw").as("w2"))
      val binding = withR.crossJoin(broadcast(peers))
        .groupBy(col("source"), col("tokens_raw"), col("tokens_dedup"),
          col("wraw"), col("sw"))
        .agg(max(when(col("t2") * col("wraw") < col("tokens_dedup") * col("w2"),
          1).otherwise(0)).as("beat"))
      binding.crossJoin(broadcast(tmins)).select(
        col("source"), col("tokens_raw"), col("tokens_dedup"),
        r6(lit(1.0) - col("tokens_dedup").cast("double") / col("tokens_raw"))
          .as("dup_token_frac"),
        r6(col("wraw").cast("double") / col("sw")).as("weight"),
        r6(col("t_raw")).as("budget_raw"),
        r6(col("t_dd")).as("budget_dedup"),
        r6(col("wraw") * col("t_dd") / col("sw")).as("sampled_dedup"),
        when(col("tokens_dedup") > 0,
          r6(col("wraw") * col("t_dd") / col("sw") / col("tokens_dedup")))
          .as("rate_dedup"),
        (col("beat") === 0).as("binding_dedup"))
    },
    // the batch twin of the streaming near-dup gate (NearDupGate):
    // yesterday's corpus (doc_id % 10 != 0) is the frozen simhash band
    // index; today's delta is checked candidate-by-candidate — banded
    // equi-join, per-doc min hamming + lowest-id best match, flag at
    // hamming <= 3 (lossless by pigeonhole over 4x8-bit bands). The
    // stream serves the IDENTICAL function (StreamingSpec parity); this
    // gate pins it to the DuckDB oracle.
    "q260_neardup_delta" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{NearDupGate, QualityDoc}
      val docs = docsSpread(s, dir) // simhash is CPU-bound; spread the split
      // the flag side joins the index once PER BAND — checkpoint it or
      // the whole simhash+group subtree recomputes four times
      val index = NearDupGate.buildIndex(
        docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"))
        .localCheckpoint()
      val delta = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")).as[QualityDoc]
      NearDupGate.flagged(delta, index, maxHamming = 3)
        .select(col("doc_id"), col("simhash"),
          col("n_cands").cast("long").as("n_cands"),
          col("min_hamming").cast("long").as("min_hamming"),
          col("match_id"), col("is_neardup"))
    },
    // matryoshka truncation sweep (Kusupati et al. 2022): recall@10 of
    // exact prefix-dimension search (d = 8/16/32) vs the full 64 dims —
    // the dimension-budget dial an embedding deployment reads before
    // shipping truncated vectors (4–8× memory/bandwidth). One generic
    // plan over the exploded dim set; per-(query, d) hit counts.
    "q259_matryoshka" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.truncatedRecall(emb, emb.where(col("vec_id") < 10), k = 10,
          dims = Seq(8, 16, 32), fullDim = 64)
        .select(col("query_id"), col("d"), col("n_hits"), col("recall"))
    },
    // IVF-PQ composed (the FAISS IndexIVFPQ shape): coarse seed quantizer
    // routes each query to 3 of 8 inverted lists; candidates inside them
    // are scanned by asymmetric distance over RESIDUAL codes (vector −
    // coarse centroid, 8×16 codebooks) with a per-probed-list lookup
    // table. The full two-level chain is deterministic and oracle-exact.
    "q258_ivfpq" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.ivfPqTopK(emb, emb.where(col("vec_id") < 10), k = 10,
          dim = 64, m = 8, ksub = 16, nlist = 8, nprobe = 3)
        .select(col("query_id"), col("nbr_id"),
          col("rank").cast("long").as("rank"), col("adc"))
    },
    // incremental SemDeDup — the delta-vs-frozen-corpus member of the
    // semantic family, completing the dedup matrix's incremental column
    // (exact/minhash→q154, simhash→q260, semantic→here): yesterday's
    // corpus clusters once, delta vectors place into the frozen
    // centroids and compare against that one cluster's INDEX members
    // only — Σ|delta_c|·|index_c|, never delta×corpus.
    "q265_semdedup_delta" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      Similarity.semDedupDelta(emb.where(col("vec_id") % 10 =!= 0),
          emb.where(col("vec_id") % 10 === 0), k = 8, iters = 1, tau = 0.30)
        .select(col("vec_id"), col("cluster_id"), col("n_index_mates"),
          col("n_dups"), col("best_cos"), col("best_match_id"), col("kept"))
    },
    // SemDeDup (Abbas et al. 2023): k-means-partitioned semantic dedup —
    // pairwise cosine ONLY between cluster-mates (Σ|c|², never n²), prune
    // everything with a lower-id mate above τ in rounded cosine. Unlike
    // q59, the Lloyd refinement IS oracle-gated here: every centroid
    // coordinate re-rounds through the engine quantum between iterations
    // (the q170-kmeans discipline), so both engines replay the identical
    // centroid matrix.
    "q255_semdedup" -> { (s, dir) =>
      Similarity.semDedup(Tables.embeddings(s, dir), k = 8, iters = 1,
          tau = 0.30)
        .select(col("vec_id"), col("cluster_id"), col("cluster_n"),
          col("n_prev_dups"), col("max_prev_cos"), col("kept"))
    },
    // cross-modal dedup consensus (VERDICT-r13 "multimodal" gap): the
    // text-space near-dup verdict (banded simhash, complete at hamming
    // <= 3 by pigeonhole) joined against the embedding-space verdict
    // (q255 SemDeDup prune) over the paired documents ⋈ embeddings
    // corpus — per source, the agreement/conflict matrix a pipeline
    // reads before trusting either gate alone. The oracle's text side
    // is a brute-force n² hamming scan (equal to the banded set at the
    // threshold); the Spark side stays band-keyed equi-joins.
    "q278_crossmodal" -> { (s, dir) =>
      graft.scale.Multimodal.dedupConsensus(docsSpread(s, dir),
        Tables.embeddings(s, dir), col("doc_id"), col("text"), col("source"))
    },
    // corpus-adaptive stopword discovery: the top-32 terms by DOCUMENT
    // frequency — the list a language-agnostic quality heuristic (q74's
    // stopword ratio, Gopher's stop-word rule) needs when the corpus
    // language is unknown. df from one token-index pass; the GLOBAL
    // top-k rank rides GlobalOrder.withRowNumber (vocabulary-scale
    // input — a bare Window.orderBy would funnel it through one task);
    // the df tie-break sorts the term's UTF-8 BYTES so the rank matches
    // DuckDB's binary collation on any corpus, not just ASCII.
    "q289_df_stopwords" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      val tf = graft.scale.Retrieval.tokenIndex(docs, col("doc_id"),
        col("text"), lit(false))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .localCheckpoint() // rank input: probe + local + totals passes
      graft.ops.GlobalOrder.withRowNumber(dfT,
          Seq(col("df").desc, encode(col("term"), "utf-8").asc), "rank")
        .where(col("rank") <= 32)
        .crossJoin(broadcast(Tables.documents(s, dir)
          .agg(count(lit(1)).as("n_docs"))))
        .select(col("term"), col("df"), col("rank"),
          r6(col("df").cast("double") / col("n_docs")).as("df_frac"))
    },
    // incremental CHUNK-grain novelty (the sub-document dedup a daily
    // crawl runs after doc-level gates: a doc whose fingerprint is novel
    // but whose chunks all sit in yesterday's index adds no training
    // mass): both sides chunked by the q274 chunker, the frozen index =
    // distinct chunk fps of yesterday's corpus, delta chunks probe it
    // with ONE fp-keyed join. Per delta doc: chunks, known chunks,
    // novel rate, and the novel-token estimate (stride overlap makes
    // token mass an estimate — the chunker's documented accounting).
    "q288_chunk_novelty" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      val idx = TextOps.chunks(docs.where(col("doc_id") % 10 =!= 0),
          col("doc_id"), col("text"))
        .select(col("chunk_fp").as("kfp")).distinct()
        .withColumn("known", lit(true))
      TextOps.chunks(docs.where(col("doc_id") % 10 === 0),
          col("doc_id"), col("text"))
        .join(idx, col("chunk_fp") === col("kfp"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("known"), 1L).otherwise(0L)).as("n_known"),
          r6(lit(1.0) - sum(when(col("known"), 1L).otherwise(0L)).cast("double")
            / count(lit(1))).as("novel_rate"),
          sum(when(col("known").isNull, col("chunk_tokens")).otherwise(0L))
            .as("novel_tokens"))
    },
    // FUZZY train/eval contamination (the near-dup upgrade of q73's
    // exact screen): an eval doc within simhash hamming 3 of any train
    // doc leaks paraphrased training text the exact fingerprint cannot
    // see. Banded cross-split equi-join (complete by pigeonhole), per
    // (source, split) leak incidence — the audit an eval suite runs
    // before trusting its numbers.
    "q287_fuzzy_contamination" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      val split = Splits.assign(Splits.bucket(col("doc_id")))
      val rep = graft.scale.Dedup.fuzzyContamination(
        docs.select(col("doc_id"), col("text"), split.as("sp")),
        col("doc_id"), col("text"), col("sp") =!= "train")
      docs.select(col("doc_id"), col("source"), split.as("split"))
        .where(col("split") =!= "train")
        .join(rep.select(col("eval_id").as("doc_id"), col("leaked")),
          Seq("doc_id"), "left")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(coalesce(col("leaked"), lit(false)), 1L).otherwise(0L))
            .as("n_leaked"),
          r6(sum(when(coalesce(col("leaked"), lit(false)), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("leak_rate"))
    },
    // RAG retrieval at the CHUNK grain — the serving granularity of a
    // retrieval-augmented pipeline (a long doc matches on one passage,
    // not its whole body): the q274 chunker emits chunk text, chunks
    // join the inverted index under surrogate ids (1e6 + doc*1000 +
    // chunk), docs 0..3 stand as queries, and the q268 BM25 dataflow +
    // GlobalOrder rank return the top-5 CHUNKS per query (query docs
    // excluded from the retrieved side).
    "q286_chunk_bm25" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      // the surrogate packs chunk_id into 3 decimal digits: a doc with
      // >= 1000 chunks (~48k+ tokens at w=64/stride=48) would ALIAS
      // another doc's chunk ids — fail loudly instead of silently
      // colliding (the oracle replays the same packing, so the gate
      // could not catch it)
      val chunkNo = when(col("chunk_id") >= 1000, raise_error(lit(
        "q286: a doc has >= 1000 chunks - the 1e6+doc*1000+chunk " +
          "surrogate would alias across docs; widen the multiplier")))
        .otherwise(col("chunk_id"))
      val ch = TextOps.chunks(docs, col("doc_id"), col("text"), emitText = true)
        .select((lit(1000000L) + col("doc_id") * 1000L + chunkNo).as("cid"),
          col("chunk_text").as("t"), lit(false).as("isq"))
      val qs = docs.where(col("doc_id") < 4)
        .select(col("doc_id").as("cid"), col("text").as("t"), lit(true).as("isq"))
      val pairs = graft.scale.Retrieval.bm25Pairs(ch.unionByName(qs),
        col("cid"), col("t"), col("isq"))
      val rounded = pairs.where(col("doc_id") >= 1000000L)
        .select(col("query_id"), col("doc_id").as("chunk_id"),
          r6(col("bm25")).as("bm25"))
      graft.ops.TopK.byGroup(rounded, Seq("query_id"), "bm25",
          asc = false, "chunk_id", 5)
        .select(col("query_id"), col("chunk_id"), col("rank"), col("bm25"))
    },
    // vector-corpus health screen: per label, the embedding-norm
    // distribution — zero vectors break cosine, collapsed norms signal
    // an encoder fault, and norm drift between labels is the first
    // symptom of a mixed-encoder corpus. One narrow kernel projection +
    // one label-keyed aggregate.
    "q285_embedding_norms" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      emb.select(col("label"), Similarity.norm(col("embedding")).as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vecs"),
          sum(when(col("nrm") === 0.0, 1L).otherwise(0L)).as("n_zero"),
          r6(min(col("nrm"))).as("min_norm"),
          r6(max(col("nrm"))).as("max_norm"),
          r6(avg(col("nrm"))).as("avg_norm"))
    },
    // duplicate-mass curve: per exact-dup GROUP SIZE, how many groups /
    // docs / tokens sit there and the token mass dedup would delete
    // (every copy past the canonical) — the "how duplicated is my
    // corpus" histogram a dedup budget starts from. One fingerprint
    // aggregation + one size-keyed rollup; members of a group share
    // identical text, so per-group token math is closed-form.
    // (the small-SF corpus has no natural exact dups, so — the q253
    // fixture technique — every 25th doc is mirrored under a 'mirror'
    // source, deterministically rebuilt by the oracle; at sf0.1 the 8
    // natural dup groups join the planted ones)
    "q282_dup_mass" -> { (s, dir) =>
      val g = mirroredDocs(s, dir).select(md5(col("text")).as("fp"),
          TextOps.nTokens(col("text")).as("ntok"))
        .groupBy(col("fp"))
        .agg(count(lit(1)).as("group_size"), max(col("ntok")).as("ntok"))
      g.groupBy(col("group_size")).agg(
          count(lit(1)).as("n_groups"),
          sum(col("group_size")).as("n_docs"),
          sum(col("ntok") * col("group_size")).as("n_tokens"),
          sum(col("ntok") * (col("group_size") - 1)).as("excess_tokens"))
        .select(col("group_size"), col("n_groups"), col("n_docs"),
          col("n_tokens"), col("excess_tokens"))
    },
    // cross-source contamination matrix: per unordered source pair, the
    // content fingerprints BOTH sources carry and the cross-source doc
    // pair count — where exact-dup mass leaks between provenances (the
    // QA that decides whether per-source dedup budgets can be trusted
    // independently). (fp, source) pre-aggregation, then one fp-keyed
    // equi-join — never all-pairs over docs.
    "q283_source_leakage" -> { (s, dir) =>
      val d = mirroredDocs(s, dir)
        .select(md5(col("text")).as("fp"), col("source"))
        .groupBy(col("fp"), col("source")).agg(count(lit(1)).as("c"))
      d.as("a").join(d.as("b"),
          col("a.fp") === col("b.fp") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("source_a"), col("b.source").as("source_b"))
        .agg(count(lit(1)).as("shared_fps"),
          sum(col("a.c") * col("b.c")).as("doc_pairs"))
    },
    // curriculum ordering by reference-LM perplexity (the easy->hard
    // schedule curriculum pretraining consumes): rank each source's docs
    // by the corpus trigram-LM score and cut them into 4 exact NTILE
    // phases — per (source, phase), docs / token mass / mean score. The
    // rank is the partitioned two-pass GlobalOrder and the phase is the
    // closed-form ntileOf over (rank, source count): no single-task
    // source window anywhere (q173's scale contract).
    "q281_curriculum" -> { (s, dir) =>
      val docs = Tables.documents(s, dir)
      val t = col("text")
      val flm = graft.scale.Perplexity.fitLm(docs, col("text"))
      val base = docs.select(col("doc_id"), col("source"),
          TextOps.nTokens(t).as("ntok"),
          r6(graft.scale.Perplexity.lmScore(flm, t)).as("lm"))
        .localCheckpoint() // rank input: probe + local + totals passes
      val ranked = graft.ops.GlobalOrder.withRowNumberBy(base, Seq("source"),
          Seq(col("lm").desc_nulls_last, col("doc_id")), "rk")
        .join(broadcast(base.groupBy(col("source"))
          .agg(count(lit(1)).as("nsrc"))), Seq("source"))
      ranked.select(col("source"), col("ntok"), col("lm"),
          graft.ops.GlobalOrder.ntileOf(col("rk"), col("nsrc"), 4).as("phase"))
        .groupBy(col("source"), col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          r6(avg(col("lm"))).as("avg_lm"))
        .select(col("source"), col("phase").cast("long").as("phase"),
          col("n_docs"), col("n_tokens"), col("avg_lm"))
    },
    // the wide64 near-dup gate (q260's corpus-scale layout), oracle-gated:
    // 64-bit simhash kernel fingerprints, 4x16-bit banding (65k buckets
    // per band — the per-(band,key) row growth fix the r13 verdict
    // demanded), flags today's delta against yesterday's frozen index.
    // Spark side: band-keyed equi-joins; oracle side: brute-force banded
    // scan — identical candidate sets by construction.
    "q284_neardup_wide" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{NearDupGate, QualityDoc}
      val docs = docsSpread(s, dir)
      val cfg = NearDupGate.wide64
      val index = NearDupGate.buildIndex(
        docs.where(col("doc_id") % 10 =!= 0), col("doc_id"), col("text"), cfg)
        .localCheckpoint()
      val delta = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("text")).as[QualityDoc]
      NearDupGate.flagged(delta, index, maxHamming = 3, cfg)
        .select(col("doc_id"), col("simhash"),
          col("n_cands").cast("long").as("n_cands"),
          col("min_hamming").cast("long").as("min_hamming"),
          col("match_id"), col("is_neardup"))
    },
    // q278 at the CORPUS-SCALE layout (VERDICT-r14 item 2): the same
    // cross-modal consensus matrix with the text verdict banded 4x16
    // over the 64-bit kernel — 65k buckets/band, the spread the audit
    // needs once cells outgrow tasks. Same grouped-index fold shape;
    // only the fingerprint/layout changes, and the oracle's brute-force
    // 64-bit hamming scan equals the banded set at hamming <= 3 by
    // pigeonhole.
    "q290_crossmodal_wide" -> { (s, dir) =>
      graft.scale.Multimodal.dedupConsensus(docsSpread(s, dir),
        Tables.embeddings(s, dir), col("doc_id"), col("text"), col("source"),
        cfg = graft.scale.Banding.wide64)
    },
    // q287 at the CORPUS-SCALE layout (VERDICT-r14 item 2): fuzzy
    // train/eval contamination over the 64-bit fingerprint, wide64
    // banding. The leak verdict (exists train doc at hamming <= 3) is
    // layout-independent by pigeonhole, so the oracle replays it as a
    // brute-force 64-bit cross-split scan.
    "q291_fuzzy_wide" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      val split = Splits.assign(Splits.bucket(col("doc_id")))
      val rep = graft.scale.Dedup.fuzzyContamination(
        docs.select(col("doc_id"), col("text"), split.as("sp")),
        col("doc_id"), col("text"), col("sp") =!= "train",
        cfg = graft.scale.Banding.wide64)
      docs.select(col("doc_id"), col("source"), split.as("split"))
        .where(col("split") =!= "train")
        .join(rep.select(col("eval_id").as("doc_id"), col("leaked")),
          Seq("doc_id"), "left")
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_eval"),
          sum(when(coalesce(col("leaked"), lit(false)), 1L).otherwise(0L))
            .as("n_leaked"),
          r6(sum(when(coalesce(col("leaked"), lit(false)), 1L).otherwise(0L))
            .cast("double") / count(lit(1))).as("leak_rate"))
    },
    // trained-vs-seed COARSE quantizer QA (VERDICT-r14 item 3 — the
    // coarse-level twin of q277's PQ-level report): per probe, recall@10
    // against the exact cosine top-10 for the q59 seed IVF and for the
    // rounded-Lloyd-trained coarse quantizer (1 refinement step, every
    // coordinate re-rounded through the engine quantum so the oracle
    // replays the identical centroid matrix). The number a deployment
    // reads before paying for coarse training.
    "q292_ivf_coarse" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val exact = Similarity.cosineTopK(emb, probes, k = 10)
        .select(col("query_id"), col("nbr_id"))
      val seed = Similarity.ivfTopK(emb, probes, k = 10,
          nlist = 8, nprobe = 3, iters = 0)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("sh"))
      val trained = Similarity.ivfTopKTrained(emb, probes, k = 10,
          nlist = 8, nprobe = 3, coarseIters = 1)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("th"))
      exact.join(seed, Seq("query_id", "nbr_id"), "left")
        .join(trained, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("sh"), lit(0L))).as("seed_hits"),
          sum(coalesce(col("th"), lit(0L))).as("trained_hits"),
          r6(sum(coalesce(col("sh"), lit(0L))).cast("double") / count(lit(1)))
            .as("seed_recall"),
          r6(sum(coalesce(col("th"), lit(0L))).cast("double") / count(lit(1)))
            .as("trained_recall"))
    },
    // cross-modal consensus DRILL-DOWN (VERDICT-r14 item 6): q278
    // reports per-source totals; this is the pair-grain audit a
    // pipeline acts on — for each doc where the two gates DISAGREE, the
    // doc, its best text match (lowest id at min hamming — only when
    // the text gate fired: a sem_only doc has NO text match at the
    // threshold, and banded min-hamming above it is layout-dependent),
    // its best semantic mate (highest 4 dp cosine, lowest id on ties),
    // and both verdicts, top-10 per (source, conflict kind) by match
    // strength (closest hamming / highest cosine first). Ranks ride the
    // bounded TopKAgg; joins are the q278 shapes — no new exchanges.
    "q293_crossmodal_pairs" -> { (s, dir) =>
      val base = docsSpread(s, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val cfg = graft.scale.Banding.Config()
      val index = graft.scale.Banding.buildIndex(base, col("doc_id"),
        col("text"), cfg)
      val flags = graft.scale.Banding.withFlags(
          base.select(col("doc_id"), col("text")), index, maxHamming = 3,
          cfg, lowerIdThan = Some("doc_id"))
        .select(col("doc_id"), col("is_neardup").as("td"),
          col("min_hamming"), col("match_id"))
      val sem = Similarity.semDedup(Tables.embeddings(s, dir), k = 8,
          iters = 1, tau = 0.30, withBestPrev = true)
        .select(col("vec_id").as("doc_id"), (!col("kept")).as("sd"),
          col("max_prev_cos"), col("best_prev_id"))
      val dis = base.select(col("doc_id"), col("source"))
        .join(flags, Seq("doc_id"))
        .join(sem, Seq("doc_id")) // inner: paired docs only, as q278 judges
        .where(col("td") =!= col("sd"))
        .select(col("doc_id"), col("source"),
          when(col("td"), lit("text_only")).otherwise(lit("sem_only"))
            .as("kind"),
          when(col("td"), col("min_hamming").cast("long")).as("text_hamming"),
          when(col("td"), col("match_id")).as("text_match_id"),
          col("max_prev_cos"), col("best_prev_id").as("sem_match_id"),
          // one ascending strength key: closest text match first for
          // text_only, highest cosine first for sem_only (4 dp values —
          // negation exact)
          when(col("td"), col("min_hamming").cast("double"))
            .otherwise(-col("max_prev_cos")).as("strength"))
      graft.ops.TopK.byGroup(dis, Seq("source", "kind"), "strength",
          asc = true, "doc_id", 10,
          payload = Seq("text_hamming", "text_match_id", "max_prev_cos",
            "sem_match_id"))
        .select(col("source"), col("kind"), col("rank"), col("doc_id"),
          col("text_hamming"), col("text_match_id"),
          col("max_prev_cos"), col("sem_match_id"))
    },
    // the FULL live-gate battery as a HASH-GATED batch funnel
    // (VERDICT-r14 item 7): CurationCounters.flaggedDocs — the exact
    // projection the streaming dashboard serves — run in batch over the
    // delta slice of a marked + PII-planted corpus, aggregated by the
    // shared batchTotals into the CurationTotals columns, against a
    // DuckDB oracle that independently replays EVERY gate: the q276
    // lang NB, the q74 heuristic, the q247 Gopher battery, the q245 PII
    // battery, the q242 logistic-quality GD chain, the q252 frozen
    // perplexity thresholds, the q260 frozen near-dup index, and (round
    // 16) the q267 C4 battery over the lined view plus the q296
    // media-payload exact dedup vs the frozen fingerprint index.
    // StreamingSpec pins the streaming processor's running totals to
    // batchTotals on the same corpus, so this one hash gate transitively
    // gates the live funnel end-state. Fixtures: lang markers (q263) so
    // the first gate discriminates; the q245 PII plants MINUS the %5
    // phone clause (delta ids are multiples of 10, so a %5 plant would
    // mark every delta doc and the incidence column would be vacuous);
    // models fit on the full corpus, flags served on the
    // doc_id % 10 == 0 delta (the q260 delta convention — an indexed
    // doc would trivially near-dup itself).
    "q294_battery_funnel" -> { (s, dir) =>
      import s.implicits._
      import graft.streaming.{CurationCounters, NearDupGate, SourcedDoc}
      val B = 16
      val id = col("doc_id")
      val piiPlant = concat(col("text"),
        when(id % 3 === 0, concat(lit(" contact user"), id.cast("string"),
          lit("@example.com now"))).otherwise(lit("")),
        when(id % 7 === 0, concat(lit(" from 10."), (id % 256).cast("string"),
          lit("."), ((id + 13) % 256).cast("string"), lit(".25 host")))
          .otherwise(lit("")),
        when(id % 11 === 0, concat(lit(" acct "),
          lpad((id % 1000000).cast("string"), 12, "0"), lit(" ref")))
          .otherwise(lit("")))
      val batt = concat(piiPlant, lit(" "), col("lang"),
        lit(" "), col("lang"), lit(" "), col("lang"))
      val corpus = docsSpread(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), batt.as("text"))
        .localCheckpoint() // fits + serve: stats, 6 GD passes, lm, index
      val t = col("text")
      val y = when(TextOps.nTokens(t) < 20, 0L)
        .when(TextOps.stopwordRatio(t) < 0.05, 0L).otherwise(1L)
      // the five fit/index chains are independent functions of the
      // shared corpus checkpoint — run them concurrently (guide §2.6);
      // each chain's job sequence and fitted values are unchanged.
      // mediaIx: the frozen media-payload fingerprint index (q296
      // grain) — the surrogate payload collapses ids ≡ 0 (mod 3) onto
      // 5 shared templates, so a delta doc (id % 30 == 0) re-posts an
      // indexed payload and the fixture discriminates
      val fits = parAll(Seq(
        () => {
          val f = TextOps.hashedNgramFeatures(corpus, col("doc_id"), t, B)
            .join(corpus.select(col("doc_id"), y.as("y")), "doc_id")
            .localCheckpoint() // stats + 6 GD passes
          graft.scoring.Trainer.fitLogistic(
            f.where(Splits.bucket(col("doc_id"), "hq", 5) =!= 0),
            (0 until B).map(b => s"f$b"), col("y"), iters = 6, lr = 0.5)
        },
        () => graft.scale.Perplexity.fitGate(
          corpus.select(col("doc_id"), col("source"), t)),
        () => NearDupGate.buildIndex(
          corpus.where(col("doc_id") % 10 =!= 0), col("doc_id"), t)
          .localCheckpoint(),
        () => graft.scale.LangId.fit(corpus, col("doc_id"), t,
          col("lang"), Splits.bucket(col("doc_id"), "lid", 5) =!= 0,
          buckets = 64),
        () => corpus.where(col("doc_id") % 10 =!= 0)
          .select(md5(mediaPayload).as("media_fp")).distinct()
          .localCheckpoint()))
      val m = fits(0).asInstanceOf[graft.scoring.Trainer.LogisticModel]
      val gate = fits(1).asInstanceOf[graft.scale.Perplexity.Gate]
      val index = fits(2).asInstanceOf[org.apache.spark.sql.DataFrame]
      val langNb = fits(3).asInstanceOf[graft.scale.LangId.LangNb]
      val mediaIx = fits(4).asInstanceOf[org.apache.spark.sql.DataFrame]
      val delta = corpus.where(col("doc_id") % 10 === 0)
        .select(col("doc_id"), col("source"), t).as[SourcedDoc]
      CurationCounters.batchTotals(CurationCounters.flaggedDocs(
        delta, m, B, gate, Some(index),
        langGate = Some((langNb, Seq("en", "de", "es"))),
        c4Gate = Some((c4Lined, graft.scale.C4.defaultBadWords)),
        mediaGate = Some((md5(mediaPayload), mediaIx))))
    },
    // the q289 discovery APPLIED as a gate (closing the loop the
    // corpus-adaptive stop list exists for): per doc, the instance
    // ratio of the learned top-32-df terms — q74's stopword-ratio
    // heuristic with the LEARNED list in place of the hardcoded English
    // one, usable on a corpus of unknown language; per source, the keep
    // incidence at the q74 thresholds (ntok >= 20, ratio >= 0.05).
    // Shapes: the q289 GlobalOrder rank for the 32-term list (never a
    // bare global window), then one broadcast term join + doc/source
    // rollups.
    "q295_adaptive_stop_gate" -> { (s, dir) =>
      val docs = docsSpread(s, dir)
      val tf = graft.scale.Retrieval.tokenIndex(docs, col("doc_id"),
        col("text"), lit(false))
      val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
        .localCheckpoint() // rank input: probe + local + totals passes
      val stops = graft.ops.GlobalOrder.withRowNumber(dfT,
          Seq(col("df").desc, encode(col("term"), "utf-8").asc), "rank")
        .where(col("rank") <= 32).select(col("term"))
      val hits = tf.join(broadcast(stops), Seq("term"))
        .groupBy(col("doc_id")).agg(sum(col("tfc")).as("stop_hits"))
      val ar = r6(coalesce(col("stop_hits"), lit(0L)).cast("double") /
        greatest(col("ntok"), lit(1L)))
      val keep = col("ntok") >= 20 && col("ar") >= 0.05
      docs.select(col("doc_id"), col("source"),
          TextOps.nTokens(col("text")).as("ntok"))
        .join(hits, Seq("doc_id"), "left")
        .select(col("source"), col("ntok"), ar.as("ar"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(keep, 1L).otherwise(0L)).as("n_kept"),
          r6(avg(col("ar"))).as("avg_ratio"),
          sum(when(keep, col("ntok")).otherwise(0L)).as("kept_tokens"))
    },
    // media-grain exact dedup (the multimodal twin of q282's token
    // accounting): identical PAYLOAD BYTES across the mirrored corpus,
    // with the BYTES a storage dedup would reclaim — the number an
    // object-store pipeline budgets, vs the token mass a training
    // pipeline budgets. One payload-fingerprint aggregation + one
    // fp-keyed join; the canonical is the global min doc id, so the
    // 'mirror' source carries the duplicate byte mass.
    "q296_media_dedup" -> { (s, dir) =>
      val md = mirroredDocs(s, dir)
      val m = graft.scale.Multimodal.mediaTable(md)
        .select(col("doc_id"), md5(col("media")).as("fp"),
          col("meta.n_bytes").cast("long").as("n_bytes"),
          col("meta.origin").as("source"))
      val canon = m.groupBy(col("fp")).agg(min(col("doc_id")).as("canonical_id"))
      m.join(canon, Seq("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_media"),
          sum(when(col("doc_id") === col("canonical_id"), 1L).otherwise(0L))
            .as("n_canonical"),
          sum(col("n_bytes")).as("bytes_total"),
          sum(when(col("doc_id") =!= col("canonical_id"), col("n_bytes"))
            .otherwise(0L)).as("bytes_dup"))
    },
    // trained-coarse IVF-PQ QA (VERDICT-r15 item 3 — the q292/q277
    // discipline completed for the full two-level composition): per
    // probe, recall@10 against the exact euclid top-10 for the q258
    // SEED coarse quantizer vs the rounded-Lloyd TRAINED one
    // (coarseIters = 1), both over the identical seed residual
    // codebooks. The oracle replays the trained coarse matrix (one
    // Lloyd step, every coordinate re-rounded through the engine
    // quantum) and BOTH residual chains end-to-end.
    "q297_ivfpq_coarse" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val exact = Similarity.euclidTopK(emb, probes, k = 10)
        .select(col("query_id"), col("nbr_id"))
      val seed = Similarity.ivfPqTopK(emb, probes, k = 10,
          dim = 64, m = 8, ksub = 16, nlist = 8, nprobe = 3)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("sh"))
      val trained = Similarity.ivfPqTopK(emb, probes, k = 10,
          dim = 64, m = 8, ksub = 16, nlist = 8, nprobe = 3,
          coarseIters = 1)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("th"))
      exact.join(seed, Seq("query_id", "nbr_id"), "left")
        .join(trained, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("sh"), lit(0L))).as("seed_hits"),
          sum(coalesce(col("th"), lit(0L))).as("trained_hits"),
          r6(sum(coalesce(col("sh"), lit(0L))).cast("double") / count(lit(1)))
            .as("seed_recall"),
          r6(sum(coalesce(col("th"), lit(0L))).cast("double") / count(lit(1)))
            .as("trained_recall"))
    },
    // the exact-dup pre-collapsed SELF-audit as an oracle-gated query
    // (VERDICT-r15 item 1's API, hash-gated end-to-end): over the
    // mirrored corpus (the q296 exact-dup fixture — the raw corpus has
    // no natural exact dups at sf0.01), Banding.selfAuditCollapsed
    // bands only min-id canonicals and re-attaches members; the oracle
    // replays canonicalization + a brute-force 32-bit hamming scan.
    // min_hamming/match_id are reported ONLY where the gate fires
    // (<= 3): there banding is complete by pigeonhole, so the banded
    // values equal brute force for ANY layout; above the threshold they
    // are layout-dependent and stay NULL (the q293 discipline).
    "q298_collapsed_audit" -> { (s, dir) =>
      graft.scale.Banding.selfAuditCollapsed(mirroredDocs(s, dir),
          col("doc_id"), col("text"), maxHamming = 3)
        .select(col("doc_id"), col("canonical_id"),
          col("is_neardup").as("is_dup"),
          when(col("is_neardup"), col("min_hamming").cast("long"))
            .as("nd_hamming"),
          when(col("is_neardup"), col("match_id")).as("nd_match"))
    },
    // two-stage retrieval QA (the FAISS re-rank serving shape): PQ ADC
    // shortlists 100 candidates per probe, exact squared-euclidean
    // re-ranks them to 10; per probe, recall@10 of the raw ADC top-10
    // vs the re-ranked top-10 against the exact top-10. Re-rank recall
    // provably dominates (exact rank within a superset <= global rank);
    // the shortlist broadcasts so the exact kernel never scans the
    // corpus per query.
    "q280_pq_rerank" -> { (s, dir) =>
      val emb = Tables.embeddings(s, dir)
      val probes = emb.where(col("vec_id") < 10)
      val exact = Similarity.euclidTopK(emb, probes, k = 10)
        .select(col("query_id"), col("nbr_id"))
      val pq = Similarity.pqTopK(emb, probes, k = 10, dim = 64, m = 8, ksub = 16)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("ph"))
      val rr = Similarity.pqRerankTopK(emb, probes, k = 10, shortlist = 100,
          dim = 64, m = 8, ksub = 16)
        .select(col("query_id"), col("nbr_id"), lit(1L).as("rh"))
      exact.join(pq, Seq("query_id", "nbr_id"), "left")
        .join(rr, Seq("query_id", "nbr_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).as("n_exact"),
          sum(coalesce(col("ph"), lit(0L))).as("pq_hits"),
          sum(coalesce(col("rh"), lit(0L))).as("rerank_hits"),
          r6(sum(coalesce(col("ph"), lit(0L))).cast("double") / count(lit(1)))
            .as("pq_recall"),
          r6(sum(coalesce(col("rh"), lit(0L))).cast("double") / count(lit(1)))
            .as("rerank_recall"))
    },
    // the Gopher QUALITY rules (Rae et al. 2021 table A1 — the
    // non-repetition half the engine was missing): word-count and
    // mean-word-length bounds, #/ellipsis symbol ratios, bullet and
    // ellipsis line fractions, alphabetic-word fraction, stop-word
    // presence — per doc, as ONE pure projection (PlanSpec-gated
    // shuffle-free, stream-servable like the repetition kernel).
    "q279_gopher_quality" -> { (s, dir) =>
      TextOps.gopherQuality(docsSpread(s, dir), col("doc_id"), col("text"))
    })

  /** LSH config for q56; the oracle embeds the identical md5-derived
    * hyperplane coefficients as SQL literals.
    */

  /** Round-0 BPE tokenization CTE: one row per (word, char position). */
  private val bpeTok1: String = """tok1 AS MATERIALIZED (
  SELECT word, freq, pos, substr(word, pos, 1) AS tok
  FROM (SELECT word, freq,
          unnest(generate_series(1, length(word))) AS pos
        FROM words))"""

  /** One BPE merge round as static CTEs (q186/q189 oracles): pair window
    * → 1-row argmax → closed-form greedy merge (islands/parity — see
    * scale/Bpe). Multi-referenced CTEs are MATERIALIZED so the unrolled
    * chain cannot inline-blow-up; `withVocab` adds the post-merge
    * distinct-token count (q186's vocab_after column).
    */
  private def bpeRound(t: Int, withVocab: Boolean): String = {
    val voc =
      if (withVocab)
        s""",
voc$t AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tok${t + 1})"""
      else ""
    s"""p$t AS (SELECT word, freq, pos, tok,
    row_number() OVER (PARTITION BY word ORDER BY pos) AS rn,
    lead(tok) OVER (PARTITION BY word ORDER BY pos) AS nxt
  FROM tok$t),
best$t AS MATERIALIZED (
  SELECT tok AS a, nxt AS b, CAST(sum(freq) AS BIGINT) AS cnt
  FROM p$t WHERE nxt IS NOT NULL GROUP BY 1, 2
  ORDER BY cnt DESC, a, b LIMIT 1),
q$t AS (SELECT p.word, p.freq, p.pos, p.tok, p.rn, p.nxt, b.a, b.b,
    CASE WHEN p.tok = b.a AND p.nxt = b.b THEN 1 ELSE 0 END AS mt,
    row_number() OVER (
      PARTITION BY p.word, CASE WHEN p.tok = b.a THEN 1 ELSE 0 END
      ORDER BY p.rn) AS arn
  FROM p$t p CROSS JOIN best$t b),
r$t AS (SELECT *,
    CASE WHEN mt = 1 AND (a <> b OR (row_number() OVER (
        PARTITION BY word, CASE WHEN tok = a THEN 1 ELSE 0 END, rn - arn
        ORDER BY rn)) % 2 = 1) THEN 1 ELSE 0 END AS ms
  FROM q$t),
tok${t + 1} AS MATERIALIZED (
  SELECT word, freq, pos, CASE WHEN ms = 1 THEN a || b ELSE tok END AS tok
  FROM (SELECT *, lag(ms) OVER (PARTITION BY word ORDER BY rn) AS pms
        FROM r$t)
  WHERE coalesce(pms, 0) = 0)$voc"""
  }

  /** Shared PCA oracle chain (q187/q190/q192): explicit sum-based
    * covariance (matching the GramAgg closed form), rounded entries, then
    * 6 normalize-and-round power iterations — one static CTE block per
    * iteration, ending at `v6` (the fitted loadings). `fitWhere`
    * restricts the FIT population (q192 fits on normal rows only); the
    * scoring CTE `x` always spans the whole corpus. Built at object
    * level (not inline in the map) so the interpolated builder stays a
    * plain expression.
    */
  /** One rounded power-iteration step (u = C·v, v = round(u/‖u‖)) as two
    * CTEs — the SINGLE recipe both the base chain (suffix "") and every
    * deflation chain (suffix "_c{c}") instantiate, so the normalization/
    * rounding convention can never diverge between components.
    */
  private def pcaIterCte(cov: String, sfx: String)(t: Int): String = {
    val pv = s"v${t - 1}$sfx"
    s"""u$t$sfx AS MATERIALIZED (
  SELECT $cov.i AS i, sum($cov.c * pv0.v) AS u
  FROM $cov JOIN $pv pv0 ON $cov.j = pv0.i GROUP BY 1),
v$t$sfx AS MATERIALIZED (
  SELECT i, round(u / (SELECT sqrt(sum(u * u)) FROM u$t$sfx) + 5e-11, 4) AS v
  FROM u$t$sfx)"""
  }

  private def pcaChainCtes(fitWhere: String): String = {
    val iter = pcaIterCte("cv", "") _
    // with no fit filter, xf IS x — don't materialize the unnest twice
    val xfCte =
      if (fitWhere == "TRUE") "xf AS (SELECT * FROM x)"
      else s"""xf AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
    unnest(embedding)::DOUBLE AS v
  FROM embeddings WHERE $fitWhere)"""
    s"""x AS MATERIALIZED (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
    unnest(embedding)::DOUBLE AS v
  FROM embeddings),
$xfCte,
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM embeddings WHERE $fitWhere),
m AS MATERIALIZED (SELECT i, sum(v) AS s FROM xf GROUP BY 1),
cv AS MATERIALIZED (
  SELECT a.i AS i, b.i AS j,
    round(sum(a.v * b.v) / any_value(nn.n)
      - (any_value(ma.s) / any_value(nn.n)) * (any_value(mb.s) / any_value(nn.n))
      + 5e-11, 4) AS c
  FROM xf a
  JOIN xf b ON a.vec_id = b.vec_id
  CROSS JOIN nn
  JOIN m ma ON ma.i = a.i
  JOIN m mb ON mb.i = b.i
  GROUP BY a.i, b.i),
v0 AS (SELECT i, 1.0::DOUBLE AS v FROM m),
${(1 to 6).map(iter).mkString(",\n")}"""
  }

  private val pcaPowerSql: String =
    s"""WITH ${pcaChainCtes("TRUE")},
lam AS (SELECT round(sum(a.v * cv.c * b.v) + 5e-11, 4) AS lambda,
    sum(a.v * cv.c * b.v) AS lam_raw
  FROM cv JOIN v6 a ON cv.i = a.i JOIN v6 b ON cv.j = b.i),
tr AS (SELECT sum(c) AS trace FROM cv WHERE i = j)
SELECT CAST(v6.i AS BIGINT) AS dim, v6.v AS loading, lam.lambda AS lambda,
  round(lam.lam_raw / tr.trace + 5e-11, 4) AS explained_ratio
FROM v6, lam, tr"""

  /** q190 oracle: project every embedding onto the fitted `v6` loadings
    * (the x-join dot; summation-order noise vs the Spark kernel stays
    * far below the 4dp quantum) and summarize per label.
    */
  private val pcaProjectSql: String =
    s"""WITH ${pcaChainCtes("TRUE")},
proj AS MATERIALIZED (
  SELECT x.vec_id, sum(x.v * v6.v) AS p
  FROM x JOIN v6 ON x.i = v6.i GROUP BY 1)
SELECT CAST(e.label AS BIGINT) AS label, count(*) AS n,
  round(avg(p.p) + 5e-11, 4) AS mean_proj,
  round(stddev_pop(p.p) + 5e-11, 4) AS std_proj,
  round(min(p.p) + 5e-11, 4) AS min_proj,
  round(max(p.p) + 5e-11, 4) AS max_proj
FROM proj p JOIN embeddings e ON p.vec_id = e.vec_id
GROUP BY 1"""

  /** Component c ≥ 2 of the deflation chain (q196): the rounded Rayleigh
    * λ of the previous component, Hotelling deflation with the ROUNDED
    * λ/v (every input 4dp-exact ⇒ both engines build the bit-identical
    * deflated matrix), then the same 6-iteration rounded power chain on
    * it. Names: lam_c{c-1}, cv{c}, v{t}_c{c}.
    */
  private def pcaDeflateChain(c: Int): String = {
    val prevCov = if (c == 2) "cv" else s"cv${c - 1}"
    val prevV = if (c == 2) "v6" else s"v6_c${c - 1}"
    val iter = pcaIterCte(s"cv$c", s"_c$c") _
    s"""lam_c${c - 1} AS (SELECT round(sum(a.v * p.c * b.v) + 5e-11, 4) AS l
  FROM $prevCov p JOIN $prevV a ON p.i = a.i JOIN $prevV b ON p.j = b.i),
cv$c AS MATERIALIZED (
  SELECT p.i AS i, p.j AS j,
    round(p.c - lam_c${c - 1}.l * va.v * vb.v + 5e-11, 4) AS c
  FROM $prevCov p JOIN $prevV va ON p.i = va.i JOIN $prevV vb ON p.j = vb.i, lam_c${c - 1}),
v0_c$c AS (SELECT i, 1.0::DOUBLE AS v FROM m),
${(1 to 6).map(iter).mkString(",\n")}"""
  }

  /** q192/q196 oracle: fit k components on label-0 rows only (the
    * chain's `fitWhere` + deflation for c ≥ 2), rebuild the 4dp
    * centering vector from the fit sums, score EVERY embedding by its
    * squared k-dim reconstruction residual ||x−μ||² − Σ_c ((x−μ)·v_c)²,
    * then report per-label error moments plus the detector's mid-rank
    * AUC at flagging label ≠ 0. The residual is expanded to
    * xx − 2xμ + μμ − Σ (xv_c − μv_c)² so both engines evaluate the same
    * dot products; summation-order noise sits far below the 4dp quantum
    * that rounds `err` before any ranking or aggregation.
    */
  private def reconAnomalySqlK(k: Int): String = {
    def vName(c: Int) = if (c == 1) "v6" else s"v6_c$c"
    val extra = (2 to k).map(pcaDeflateChain).map(s => s",\n$s").mkString
    val mvCtes = (1 to k).map(c =>
      s"""cmv$c AS (SELECT sum(mu.mu * ${vName(c)}.v) AS mv FROM mu JOIN ${vName(c)} ON mu.i = ${vName(c)}.i)""")
      .mkString(",\n")
    val xvSel = (1 to k).map(c => s"sum(x.v * ${vName(c)}.v) AS xv$c")
      .mkString(",\n    ")
    val vJoins = (1 to k).map(c => s" JOIN ${vName(c)} ON x.i = ${vName(c)}.i")
      .mkString
    val projTerms = (1 to k).map(c =>
      s"""
      - (sc.xv$c - cmv$c.mv) * (sc.xv$c - cmv$c.mv)""").mkString
    val mvFrom = (1 to k).map(c => s"cmv$c").mkString(", ")
    s"""WITH ${pcaChainCtes("label = 0")}$extra,
mu AS MATERIALIZED (
  SELECT m.i AS i, round(m.s / nn.n + 5e-11, 4) AS mu FROM m, nn),
cmm AS (SELECT sum(mu * mu) AS mm FROM mu),
$mvCtes,
sc AS MATERIALIZED (
  SELECT x.vec_id,
    sum(x.v * x.v) AS xx,
    sum(x.v * mu.mu) AS xm,
    $xvSel
  FROM x JOIN mu ON x.i = mu.i$vJoins
  GROUP BY 1),
er AS MATERIALIZED (
  SELECT CAST(e.label AS BIGINT) AS label,
    round(sc.xx - 2 * sc.xm + cmm.mm$projTerms + 5e-11, 4) AS err
  FROM sc JOIN embeddings e ON sc.vec_id = e.vec_id, cmm, $mvFrom),
${sqlAuc("au", "(SELECT (label <> 0)::INT AS y, err FROM er)", "err")},
auc AS (SELECT ${sqlR4("auc")} AS auc FROM au)
SELECT er.label, count(*) AS n,
  round(avg(err) + 5e-11, 4) AS mean_err,
  round(stddev_pop(err) + 5e-11, 4) AS std_err,
  round(min(err) + 5e-11, 4) AS min_err,
  round(max(err) + 5e-11, 4) AS max_err,
  auc.auc AS auc
FROM er, auc
GROUP BY er.label, auc.auc"""
  }

  private val lshPlanes = 8
  private val lshDim = 64

  /** The q56 LSH bucket as SQL: identical md5-derived hyperplane
    * coefficients as literals (Double.toString is shortest-round-trip, so
    * DuckDB parses back the same binary double and every projection sum
    * is bit-equal). Shared by the ANN query and the recall QA oracle.
    */
  private lazy val lshBucketSql: String = (0 until lshPlanes).map { p =>
    val proj = (0 until lshDim).map { d =>
      s"embedding[${d + 1}]::DOUBLE * ${Similarity.planeCoef(p, d)}"
    }.mkString(" + ")
    s"(CASE WHEN ($proj) > 0 THEN ${1L << p} ELSE 0 END)"
  }.mkString(" + ")

  /** Shared CTE stack reproducing [[Dedup.minhashPairs]]: band keys ->
    * candidate pairs -> shingle intersections (+ per-doc set sizes).
    */
  private val minhashPairsCtes: String = {
    val bandRows = Dedup.bands.zipWithIndex.map { case (rows, bi) =>
      s"SELECT doc_id, $bi AS band, concat_ws('_', ${rows.map(r => s"mh$r").mkString(", ")}) AS key FROM sig"
    }.mkString("\n  UNION ALL ")
    s"""$shingleCte,
$sigSelect,
bk AS (
  $bandRows),
cand AS (SELECT DISTINCT x.doc_id AS doc1, y.doc_id AS doc2
         FROM bk x JOIN bk y ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh0 GROUP BY 1),
inter AS (SELECT c.doc1, c.doc2, count(*) AS inter
          FROM cand c JOIN sh0 a ON a.doc_id = c.doc1 JOIN sh0 b ON b.doc_id = c.doc2 AND b.shingle = a.shingle
          GROUP BY 1, 2)"""
  }

  /** Shared Gopher-fraction CTE chain (ends in `grf`: doc_id, n_tokens,
    * rounded top-2/3/4 char + dup-5 token fractions) — used by the q247
    * report and the q249 funnel so the two oracles replay ONE battery.
    */
  private val gopherCtesSql =
    """grb AS (SELECT doc_id,
    coalesce(regexp_extract_all(lower(text), '\S+'), CAST([] AS VARCHAR[])) AS toks
  FROM documents),
grbase AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
    CAST(length(array_to_string(toks, '')) AS BIGINT) AS word_chars, toks
  FROM grb),
g2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS gram
       FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
             FROM grbase WHERE len(toks) >= 2)),
g3 AS (SELECT doc_id, array_to_string(toks[i:i+2], ' ') AS gram
       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 1)) AS i
             FROM grbase WHERE len(toks) >= 3)),
g4 AS (SELECT doc_id, array_to_string(toks[i:i+3], ' ') AS gram
       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 2)) AS i
             FROM grbase WHERE len(toks) >= 4)),
t2 AS (SELECT doc_id, max(c * glen) AS mass FROM (
        SELECT doc_id, count(*) AS c, length(gram) - 1 AS glen
        FROM g2 GROUP BY doc_id, gram) GROUP BY 1),
t3 AS (SELECT doc_id, max(c * glen) AS mass FROM (
        SELECT doc_id, count(*) AS c, length(gram) - 2 AS glen
        FROM g3 GROUP BY doc_id, gram) GROUP BY 1),
t4 AS (SELECT doc_id, max(c * glen) AS mass FROM (
        SELECT doc_id, count(*) AS c, length(gram) - 3 AS glen
        FROM g4 GROUP BY doc_id, gram) GROUP BY 1),
s5 AS (SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
        array_to_string(toks[i:i+4], ' ') AS span
       FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 3)) AS i
             FROM grbase WHERE len(toks) >= 5)),
d5 AS (SELECT doc_id, pos FROM (
        SELECT doc_id, pos, count(*) OVER (PARTITION BY doc_id, span) AS c
        FROM s5) WHERE c > 1),
cv AS (SELECT doc_id,
        greatest(0, (pos + 5) - greatest(pos,
          coalesce(max(pos + 5) OVER (PARTITION BY doc_id ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS contrib
       FROM d5),
p5 AS (SELECT doc_id, sum(contrib) AS dup5 FROM cv GROUP BY 1),
grf AS (SELECT grbase.doc_id, grbase.n_tokens,
  round(coalesce(t2.mass::DOUBLE / grbase.word_chars, 0.0) + 5e-11, 4) AS top2_char_frac,
  round(coalesce(t3.mass::DOUBLE / grbase.word_chars, 0.0) + 5e-11, 4) AS top3_char_frac,
  round(coalesce(t4.mass::DOUBLE / grbase.word_chars, 0.0) + 5e-11, 4) AS top4_char_frac,
  round(coalesce(p5.dup5::DOUBLE / grbase.n_tokens, 0.0) + 5e-11, 4) AS dup5_token_frac
FROM grbase LEFT JOIN t2 ON grbase.doc_id = t2.doc_id
  LEFT JOIN t3 ON grbase.doc_id = t3.doc_id
  LEFT JOIN t4 ON grbase.doc_id = t4.doc_id
  LEFT JOIN p5 ON grbase.doc_id = p5.doc_id)"""

  private val gopherFlagSql =
    "top2_char_frac > 0.20 OR top3_char_frac > 0.18 OR top4_char_frac > 0.16 OR dup5_token_frac > 0.15"

  override val oracle: Map[String, String] = Map(
    "q245_pii_scrub" ->
      s"""WITH a AS (SELECT doc_id, $piiAugmentedSql AS t FROM documents),
c AS (SELECT doc_id, t,
    $piiCountsSql,
    $piiRedactSql AS red
  FROM a)
SELECT doc_id, n_emails, n_ipv4s, n_phones, n_digit_runs,
  substr(md5(red), 1, 16) AS redacted_fp,
  (length(t) - length(red))::BIGINT AS chars_delta,
  (n_emails + n_ipv4s + n_phones + n_digit_runs) > 0 AS has_pii
FROM c""",
    "q246_pii_incidence" ->
      s"""WITH a AS (SELECT doc_id, source, $piiAugmentedSql AS t FROM documents),
c AS (SELECT doc_id, source,
    $piiCountsSql
  FROM a),
p AS (SELECT *, n_emails + n_ipv4s + n_phones + n_digit_runs AS total FROM c)
SELECT source, count(*) AS n_docs,
  sum(CASE WHEN total > 0 THEN 1 ELSE 0 END)::BIGINT AS docs_with_pii,
  sum(n_emails)::BIGINT AS n_emails, sum(n_ipv4s)::BIGINT AS n_ipv4s,
  sum(n_phones)::BIGINT AS n_phones, sum(n_digit_runs)::BIGINT AS n_digit_runs,
  round(avg(total) + 5e-11, 4) AS avg_pii_per_doc
FROM p GROUP BY 1""",
    "q247_doc_repetition" ->
      s"""WITH $gopherCtesSql
SELECT *, $gopherFlagSql AS gopher_flag
FROM grf""",
    "q249_curation_funnel" ->
      s"""WITH $gopherCtesSql,
hb AS (SELECT doc_id, source,
  len(regexp_extract_all(text, '\\S+'))::BIGINT AS ntok,
  NOT (len(regexp_extract_all(text, '\\S+')) < 20
    OR len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\\S+')), 1) < 0.05) AS h
  FROM documents),
lmb AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents),
lmx AS (SELECT doc_id, substr(t, i, 3) AS tri
        FROM lmb, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
lmc AS (SELECT tri, count(*) AS c FROM lmx GROUP BY 1),
lmtt AS (SELECT sum(c)::DOUBLE AS tt FROM lmc),
lm AS (SELECT lmx.doc_id, round(avg(ln(lmc.c::DOUBLE / lmtt.tt)) + 5e-11, 4) AS lm
       FROM lmx JOIN lmc USING (tri) CROSS JOIN lmtt GROUP BY 1),
gfl AS (SELECT doc_id, $gopherFlagSql AS gflag FROM grf),
r AS (SELECT hb.doc_id, hb.source, hb.ntok, hb.h, gfl.gflag, lm.lm,
        row_number() OVER (PARTITION BY hb.source
          ORDER BY lm.lm DESC NULLS LAST, hb.doc_id) AS rk,
        count(*) OVER (PARTITION BY hb.source) AS nsrc
      FROM hb LEFT JOIN gfl ON hb.doc_id = gfl.doc_id
        LEFT JOIN lm ON hb.doc_id = lm.doc_id),
k AS (SELECT *, h AS s1,
        (h AND NOT coalesce(gflag, false)) AS s2,
        (h AND NOT coalesce(gflag, false)
          AND lm IS NOT NULL AND rk <= ceil(nsrc * 0.7)) AS s3
      FROM r)
SELECT source, count(*) AS n_docs, sum(ntok)::BIGINT AS total_tokens,
  sum(CASE WHEN s1 THEN 1 ELSE 0 END)::BIGINT AS docs_heuristic,
  sum(CASE WHEN s1 THEN ntok ELSE 0 END)::BIGINT AS tokens_heuristic,
  sum(CASE WHEN s2 THEN 1 ELSE 0 END)::BIGINT AS docs_repetition,
  sum(CASE WHEN s2 THEN ntok ELSE 0 END)::BIGINT AS tokens_repetition,
  sum(CASE WHEN s3 THEN 1 ELSE 0 END)::BIGINT AS docs_final,
  sum(CASE WHEN s3 THEN ntok ELSE 0 END)::BIGINT AS tokens_final,
  round(sum(CASE WHEN s3 THEN ntok ELSE 0 END)::DOUBLE / sum(ntok) + 5e-11, 4) AS survival_rate
FROM k GROUP BY 1""",
    "q265_semdedup_delta" ->
      """WITH idx AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 != 0),
dlt AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 10 = 0),
c0 AS (SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM idx ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM idx e CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM a1, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
ai AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM idx e CROSS JOIN c1 c) WHERE rn = 1),
adt AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM dlt e CROSS JOIN c1 c) WHERE rn = 1),
p AS MATERIALIZED (
  SELECT d.vec_id, i.vec_id AS iid,
    round((SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(d.embedding) AS x, unnest(i.embedding) AS y))
      / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(d.embedding) AS x)))
      / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(i.embedding) AS y))) + 5e-11, 4) AS cos
  FROM adt d JOIN ai i ON d.cid = i.cid),
per AS (SELECT vec_id, count(*) AS n_index_mates,
    CAST(sum(CASE WHEN cos >= 0.30 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups
  FROM p GROUP BY 1),
best AS (SELECT vec_id, cos AS best_cos, iid AS best_match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, iid ASC) AS rn FROM p)
  WHERE rn = 1)
SELECT d.vec_id, d.cid::BIGINT AS cluster_id,
  coalesce(per.n_index_mates, 0) AS n_index_mates,
  coalesce(per.n_dups, 0) AS n_dups,
  best.best_cos, best.best_match_id,
  coalesce(per.n_dups, 0) = 0 AS kept
FROM adt d LEFT JOIN per USING (vec_id) LEFT JOIN best USING (vec_id)""",
    "q264_line_dedup" ->
      s"""WITH a AS (SELECT doc_id, $linedAugmentedSql AS t FROM documents),
l AS MATERIALIZED (
  SELECT doc_id, ln FROM a, unnest(string_split(t, chr(10))) AS u(ln)
  WHERE length(ln) > 0),
c AS (SELECT ln, count(DISTINCT doc_id) AS ndocs FROM l GROUP BY 1),
d AS (SELECT l.doc_id, count(*) AS n_lines,
    sum(CASE WHEN c.ndocs >= 2 THEN 1 ELSE 0 END) AS n_shared_lines,
    sum(length(l.ln)) AS line_chars,
    sum(CASE WHEN c.ndocs >= 2 THEN length(l.ln) ELSE 0 END) AS shared_chars
  FROM l JOIN c USING (ln) GROUP BY 1)
SELECT a.doc_id,
  coalesce(d.n_lines, 0)::BIGINT AS n_lines,
  coalesce(d.n_shared_lines, 0)::BIGINT AS n_shared_lines,
  CASE WHEN d.line_chars > 0
    THEN round(d.shared_chars::DOUBLE / d.line_chars + 5e-11, 4) END AS shared_char_frac,
  coalesce(CASE WHEN d.line_chars > 0
    THEN round(d.shared_chars::DOUBLE / d.line_chars + 5e-11, 4) END >= 0.30,
    false) AS boilerplate_flag
FROM a LEFT JOIN d USING (doc_id)""",
    "q263_lang_nb" ->
      """WITH base AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('lid:' || doc_id), 1, 8))::UBIGINT % 5 != 0 AS tr,
    lower(regexp_replace(text || ' ' || lang || ' ' || lang || ' ' || lang,
      '\s+', ' ', 'g')) AS t
  FROM documents),
tri AS MATERIALIZED (
  SELECT doc_id, lang, tr,
    ('0x' || substr(md5('lidb:' || substr(t, i, 3)), 1, 8))::UBIGINT % 64 AS b
  FROM base, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
cnt AS MATERIALIZED (SELECT lang, b, count(*) AS c FROM tri WHERE tr GROUP BY 1, 2),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM cnt GROUP BY 1),
pri AS (SELECT lang, count(*) AS n FROM base WHERE tr GROUP BY 1),
nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM pri),
model AS (SELECT tot.lang AS cand, tot.tc, ln(pri.n::DOUBLE / nn.nn) AS logprior
  FROM tot JOIN pri USING (lang) CROSS JOIN nn),
sc AS (SELECT t.doc_id, t.lang, m.cand, m.logprior,
    sum(ln((coalesce(c.c, 0) + 1)::DOUBLE / (m.tc + 64))) AS ll
  FROM tri t CROSS JOIN model m
    LEFT JOIN cnt c ON c.lang = m.cand AND c.b = t.b
  WHERE NOT t.tr
  GROUP BY 1, 2, 3, 4),
p AS (SELECT lang, cand AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY round(logprior + ll + 5e-11, 4) DESC, cand ASC) AS rn FROM sc)
  WHERE rn = 1)
SELECT lang, pred, CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2""",
    "q276_lang_funnel" ->
      """WITH base AS (
  SELECT doc_id, lang,
    ('0x' || substr(md5('lid:' || doc_id), 1, 8))::UBIGINT % 5 != 0 AS tr,
    lower(regexp_replace(text || ' ' || lang || ' ' || lang || ' ' || lang,
      '\s+', ' ', 'g')) AS t
  FROM documents),
tri AS MATERIALIZED (
  SELECT doc_id, lang, tr,
    ('0x' || substr(md5('lidb:' || substr(t, i, 3)), 1, 8))::UBIGINT % 64 AS b
  FROM base, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
cnt AS MATERIALIZED (SELECT lang, b, count(*) AS c FROM tri WHERE tr GROUP BY 1, 2),
tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM cnt GROUP BY 1),
pri AS (SELECT lang, count(*) AS n FROM base WHERE tr GROUP BY 1),
nn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM pri),
model AS (SELECT tot.lang AS cand, tot.tc, ln(pri.n::DOUBLE / nn.nn) AS logprior
  FROM tot JOIN pri USING (lang) CROSS JOIN nn),
sc AS (SELECT t.doc_id, m.cand, m.logprior,
    sum(ln((coalesce(c.c, 0) + 1)::DOUBLE / (m.tc + 64))) AS ll
  FROM tri t CROSS JOIN model m
    LEFT JOIN cnt c ON c.lang = m.cand AND c.b = t.b
  GROUP BY 1, 2, 3),
p AS (SELECT doc_id, cand AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY round(logprior + ll + 5e-11, 4) DESC, cand ASC) AS rn FROM sc)
  WHERE rn = 1),
hb AS (SELECT doc_id, source, lang,
  len(regexp_extract_all(text, '\S+'))::BIGINT AS ntok,
  NOT (len(regexp_extract_all(text, '\S+')) < 20
    OR len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\S+')), 1) < 0.05) AS h
  FROM documents),
j AS (SELECT hb.*, p.pred,
    coalesce(p.pred IN ('en', 'de', 'es'), FALSE) AS lk
  FROM hb LEFT JOIN p USING (doc_id))
SELECT source, count(*)::BIGINT AS n_docs,
  sum(ntok)::BIGINT AS n_tokens,
  sum(CASE WHEN lk THEN 1 ELSE 0 END)::BIGINT AS lang_kept_docs,
  sum(CASE WHEN lk AND pred = lang THEN 1 ELSE 0 END)::BIGINT AS lang_correct_docs,
  sum(CASE WHEN lk AND h THEN 1 ELSE 0 END)::BIGINT AS survivors,
  sum(CASE WHEN lk AND h THEN ntok ELSE 0 END)::BIGINT AS survivor_tokens
FROM j GROUP BY 1""",
    "q262_gate_attribution" ->
      s"""WITH $gopherCtesSql,
hb AS (SELECT doc_id, source,
  len(regexp_extract_all(text, '\\S+'))::BIGINT AS ntok,
  NOT (len(regexp_extract_all(text, '\\S+')) < 20
    OR len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\\S+')), 1) < 0.05) AS h
  FROM documents),
lmb AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM documents),
lmx AS (SELECT doc_id, substr(t, i, 3) AS tri
        FROM lmb, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
lmc AS (SELECT tri, count(*) AS c FROM lmx GROUP BY 1),
lmtt AS (SELECT sum(c)::DOUBLE AS tt FROM lmc),
lm AS (SELECT lmx.doc_id, round(avg(ln(lmc.c::DOUBLE / lmtt.tt)) + 5e-11, 4) AS lm
       FROM lmx JOIN lmc USING (tri) CROSS JOIN lmtt GROUP BY 1),
gfl AS (SELECT doc_id, $gopherFlagSql AS gflag FROM grf),
r AS (SELECT hb.doc_id, hb.source, hb.ntok, hb.h, gfl.gflag, lm.lm,
        row_number() OVER (PARTITION BY hb.source
          ORDER BY lm.lm DESC NULLS LAST, hb.doc_id) AS rk,
        count(*) OVER (PARTITION BY hb.source) AS nsrc
      FROM hb LEFT JOIN gfl ON hb.doc_id = gfl.doc_id
        LEFT JOIN lm ON hb.doc_id = lm.doc_id),
m AS (SELECT *,
        (CASE WHEN NOT h THEN 1 ELSE 0 END
         + CASE WHEN coalesce(gflag, false) THEN 1 ELSE 0 END
         + CASE WHEN NOT (lm IS NOT NULL AND rk <= ceil(nsrc * 0.7)) THEN 1 ELSE 0 END) AS nf,
        NOT h AS fh, coalesce(gflag, false) AS fg,
        NOT (lm IS NOT NULL AND rk <= ceil(nsrc * 0.7)) AS fp
      FROM r)
SELECT source, count(*) AS n_docs,
  sum(CASE WHEN nf = 0 THEN 1 ELSE 0 END)::BIGINT AS kept_docs,
  sum(CASE WHEN fh AND nf = 1 THEN 1 ELSE 0 END)::BIGINT AS only_heuristic_docs,
  sum(CASE WHEN fh AND nf = 1 THEN ntok ELSE 0 END)::BIGINT AS only_heuristic_tokens,
  sum(CASE WHEN fg AND nf = 1 THEN 1 ELSE 0 END)::BIGINT AS only_repetition_docs,
  sum(CASE WHEN fg AND nf = 1 THEN ntok ELSE 0 END)::BIGINT AS only_repetition_tokens,
  sum(CASE WHEN fp AND nf = 1 THEN 1 ELSE 0 END)::BIGINT AS only_perplexity_docs,
  sum(CASE WHEN fp AND nf = 1 THEN ntok ELSE 0 END)::BIGINT AS only_perplexity_tokens,
  sum(CASE WHEN nf >= 2 THEN 1 ELSE 0 END)::BIGINT AS overlap_docs,
  sum(CASE WHEN nf >= 2 THEN ntok ELSE 0 END)::BIGINT AS overlap_tokens
FROM m GROUP BY 1""",
    "q248_perplexity_filter" ->
      """WITH b AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
x AS (SELECT doc_id, substr(t, i, 3) AS tri
      FROM b, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
c AS (SELECT tri, count(*) AS c FROM x GROUP BY 1),
tt AS (SELECT sum(c)::DOUBLE AS tt FROM c),
lm AS (SELECT x.doc_id, round(avg(ln(c.c::DOUBLE / tt.tt)) + 5e-11, 4) AS lm
       FROM x JOIN c USING (tri) CROSS JOIN tt GROUP BY 1),
d AS (SELECT doc_id, source,
        len(regexp_extract_all(text, '\S+'))::BIGINT AS ntok
      FROM documents),
r AS (SELECT d.doc_id, d.source, d.ntok, lm.lm,
        row_number() OVER (PARTITION BY d.source
          ORDER BY lm.lm DESC NULLS LAST, d.doc_id) AS rk,
        count(*) OVER (PARTITION BY d.source) AS nsrc
      FROM d LEFT JOIN lm ON d.doc_id = lm.doc_id),
k AS (SELECT *, (lm IS NOT NULL AND rk <= ceil(nsrc * 0.7)) AS kept FROM r)
SELECT source, count(*) AS n_docs,
  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  sum(CASE WHEN kept THEN ntok ELSE 0 END)::BIGINT AS kept_tokens,
  sum(CASE WHEN NOT kept THEN ntok ELSE 0 END)::BIGINT AS dropped_tokens,
  round(avg(CASE WHEN kept THEN lm END) + 5e-11, 4) AS kept_avg_lm,
  round(avg(lm) + 5e-11, 4) AS all_avg_lm
FROM k GROUP BY 1""",
    "q254_gate_store" ->
      """WITH b AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
x AS (SELECT doc_id, substr(t, i, 3) AS tri
      FROM b, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
c AS (SELECT tri, count(*) AS c FROM x GROUP BY 1),
tt AS (SELECT sum(c)::DOUBLE AS tt FROM c),
lm AS (SELECT x.doc_id, round(avg(ln(c.c::DOUBLE / tt.tt)) + 5e-11, 4) AS lm
       FROM x JOIN c USING (tri) CROSS JOIN tt GROUP BY 1),
d AS (SELECT doc_id, source FROM documents),
r AS (SELECT d.doc_id, d.source, lm.lm,
        row_number() OVER (PARTITION BY d.source
          ORDER BY lm.lm DESC NULLS LAST, d.doc_id) AS rk,
        count(*) OVER (PARTITION BY d.source) AS nsrc
      FROM d LEFT JOIN lm ON d.doc_id = lm.doc_id),
th AS (SELECT source, min(lm) AS threshold FROM r
       WHERE lm IS NOT NULL AND rk <= ceil(nsrc * 0.7) GROUP BY 1),
nv AS (SELECT count(*)::BIGINT AS n FROM c),
nt AS (SELECT count(*)::BIGINT AS n FROM th),
mc AS (SELECT count(*)::BIGINT AS n FROM documents)
SELECT CAST('cur' AS VARCHAR) AS model_id,
  CAST('perplexity_gate' AS VARCHAR) AS kind, CAST('meta' AS VARCHAR) AS part,
  CAST(0 AS BIGINT) AS idx, CAST(NULL AS VARCHAR) AS k,
  CAST(0.7 AS DOUBLE) AS v1, nt.n AS c2, nv.n AS n_lm_rows,
  mc.n AS n_scored, mc.n AS n_agree, CAST(1 AS BIGINT) AS n_manifest
FROM nv, nt, mc
UNION ALL
SELECT 'cur', 'perplexity_gate', 'th',
  CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT), source,
  threshold, CAST(NULL AS BIGINT), nv.n, mc.n, mc.n, CAST(1 AS BIGINT)
FROM th, nv, mc""",
    "q253_line_repetition" ->
      s"""WITH a AS (SELECT doc_id, $linedAugmentedSql AS t FROM documents),
l AS (SELECT doc_id, ln FROM (
    SELECT doc_id, unnest(string_split(t, chr(10))) AS ln FROM a)
  WHERE length(ln) > 0),
g AS (SELECT doc_id, ln, count(*) AS c, length(ln)::BIGINT AS len
      FROM l GROUP BY 1, 2),
d AS (SELECT doc_id, sum(c)::BIGINT AS n_lines,
        sum(c * len)::BIGINT AS line_chars,
        sum(c - 1)::BIGINT AS dup_lines,
        sum((c - 1) * len)::BIGINT AS dup_chars
      FROM g GROUP BY 1),
f AS (SELECT a.doc_id, coalesce(d.n_lines, 0) AS n_lines,
        round(coalesce(d.dup_lines::DOUBLE / d.n_lines, 0.0) + 5e-11, 4) AS dup_line_frac,
        round(coalesce(d.dup_chars::DOUBLE / d.line_chars, 0.0) + 5e-11, 4) AS dup_line_char_frac
      FROM a LEFT JOIN d ON a.doc_id = d.doc_id)
SELECT doc_id, n_lines, dup_line_frac, dup_line_char_frac,
  (dup_line_frac > 0.30 OR dup_line_char_frac > 0.20) AS line_flag
FROM f""",
    "q252_perplexity_gate" ->
      """WITH b AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
x AS (SELECT doc_id, substr(t, i, 3) AS tri
      FROM b, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
c AS (SELECT tri, count(*) AS c FROM x GROUP BY 1),
tt AS (SELECT sum(c)::DOUBLE AS tt FROM c),
lm AS (SELECT x.doc_id, round(avg(ln(c.c::DOUBLE / tt.tt)) + 5e-11, 4) AS lm
       FROM x JOIN c USING (tri) CROSS JOIN tt GROUP BY 1),
d AS (SELECT doc_id, source,
        len(regexp_extract_all(text, '\S+'))::BIGINT AS ntok
      FROM documents),
r AS (SELECT d.doc_id, d.source, d.ntok, lm.lm,
        row_number() OVER (PARTITION BY d.source
          ORDER BY lm.lm DESC NULLS LAST, d.doc_id) AS rk,
        count(*) OVER (PARTITION BY d.source) AS nsrc
      FROM d LEFT JOIN lm ON d.doc_id = lm.doc_id),
th AS (SELECT source, min(lm) AS threshold FROM r
       WHERE lm IS NOT NULL AND rk <= ceil(nsrc * 0.7) GROUP BY 1),
g AS (SELECT r.source, r.ntok, r.lm, th.threshold,
        (r.lm IS NOT NULL AND th.threshold IS NOT NULL
          AND r.lm >= th.threshold) AS kept
      FROM r LEFT JOIN th ON r.source = th.source)
SELECT source, count(*) AS n_docs, min(threshold) AS threshold,
  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  sum(CASE WHEN kept THEN ntok ELSE 0 END)::BIGINT AS kept_tokens,
  round(avg(lm) + 5e-11, 4) AS avg_lm
FROM g GROUP BY 1""",
    "q175_ann_recall" -> {
      s"""WITH qp AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
ex0 AS (SELECT qp.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(qp.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(qp.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN qp WHERE e.vec_id != qp.query_id),
ex AS MATERIALIZED (SELECT query_id, nbr_id FROM (
  SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM ex0) WHERE rank <= 10),
cb AS (SELECT vec_id, embedding, ($lshBucketSql)::BIGINT AS bucket FROM embeddings),
qb AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM cb WHERE vec_id < 10),
an0 AS (SELECT qb.query_id, cb.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(qb.qe) AS x, unnest(cb.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(qb.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(cb.embedding) AS y))) AS cos
      FROM cb JOIN qb USING (bucket) WHERE cb.vec_id != qb.query_id),
ann AS MATERIALIZED (SELECT query_id, nbr_id FROM (
  SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank
  FROM an0) WHERE rank <= 10)
SELECT ex.query_id, count(*) AS n_exact,
  CAST(sum(CASE WHEN ann.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
  round(sum(CASE WHEN ann.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS recall
FROM ex LEFT JOIN ann ON ex.query_id = ann.query_id AND ex.nbr_id = ann.nbr_id
GROUP BY 1"""
    },
    "q173_source_caps" ->
      """WITH b AS (
  SELECT doc_id, source,
    len(regexp_extract_all(text, '\S+')) AS n_tokens,
    (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
    len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS stopword_ratio,
    length(regexp_replace(text, '\s', '', 'g'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS avg_token_len
  FROM documents),
q AS (
  SELECT doc_id, source,
    round(0.25*least(n_tokens/50.0, 1.0) + 0.25*(1.0 - least(punct_ratio*10.0, 1.0))
      + 0.25*least(stopword_ratio*10.0, 1.0) + 0.25*least(avg_token_len/5.0, 1.0) + 5e-11, 4) AS q
  FROM b),
r AS (
  SELECT source, q,
    row_number() OVER (PARTITION BY source ORDER BY q DESC, doc_id) AS rk
  FROM q)
SELECT source, count(*) AS n_docs,
  CAST(sum(CASE WHEN rk <= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
  round(avg(CASE WHEN rk <= 50 THEN q END) + 5e-11, 4) AS kept_avg_q,
  round(avg(q) + 5e-11, 4) AS all_avg_q
FROM r GROUP BY 1""",
    "q28_dedup_exact" ->
      """SELECT doc_id,
  min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id,
  count(*) OVER (PARTITION BY md5(text)) AS dup_count,
  substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fingerprint
FROM documents""",
    // positional 8-gram spans -> global span counts -> duplicated spans
    // joined back -> per-doc interval-union coverage via the running
    // max-end window (same integer arithmetic as the engine)
    "q240_dup_spans" ->
      """WITH b AS (
  SELECT doc_id,
    coalesce(regexp_extract_all(lower(text), '\S+'), CAST([] AS VARCHAR[])) AS toks
  FROM documents),
bn AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens, toks FROM b),
sp AS (
  SELECT doc_id, CAST(i - 1 AS BIGINT) AS pos,
    array_to_string(toks[i:i+7], ' ') AS span
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 6)) AS i
        FROM bn WHERE len(toks) >= 8)),
c AS (SELECT span, count(*) AS c FROM sp GROUP BY 1),
dup AS (SELECT sp.doc_id, sp.pos FROM sp JOIN c ON sp.span = c.span WHERE c.c > 1),
cv AS (
  SELECT doc_id,
    greatest(0, (pos + 8) - greatest(pos,
      coalesce(max(pos + 8) OVER (PARTITION BY doc_id ORDER BY pos
        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0))) AS contrib
  FROM dup),
pd AS (SELECT doc_id, CAST(sum(contrib) AS BIGINT) AS covered_tokens,
    count(*) AS n_dup_spans
  FROM cv GROUP BY 1)
SELECT bn.doc_id, bn.n_tokens,
  greatest(bn.n_tokens - 7, 0) AS n_spans,
  coalesce(pd.n_dup_spans, 0) AS n_dup_spans,
  coalesce(pd.covered_tokens, 0) AS covered_tokens,
  round(CASE WHEN bn.n_tokens > 0
    THEN CAST(coalesce(pd.covered_tokens, 0) AS DOUBLE)/bn.n_tokens
    ELSE 0.0 END + 5e-11, 4) AS dup_frac
FROM bn LEFT JOIN pd ON bn.doc_id = pd.doc_id""",
    "q242_hashed_quality" -> locally {
      // hashed-gram frequency replay (unnest unigrams+bigrams, md5
      // bucket, per-doc conditional sums), q74 label, md5 train slice,
      // then the q165 unrolled-GD chain over the 16 bucket features and
      // the per-doc rounded margin + decision
      val B = 16
      val iters = 6
      val idx = 0 until B
      val pfSel = idx.map(i =>
        s"sum(CASE WHEN b = $i THEN 1 ELSE 0 END)::DOUBLE / count(*) AS f$i")
        .mkString(",\n    ")
      val featSel = idx.map(i => s"coalesce(pf.f$i, 0.0) AS x$i").mkString(", ")
      s"""WITH tok AS (
  SELECT doc_id,
    coalesce(regexp_extract_all(lower(text), '\\S+'), CAST([] AS VARCHAR[])) AS toks
  FROM documents),
lab AS (
  SELECT doc_id,
    CASE WHEN len(regexp_extract_all(text, '\\S+')) < 20 THEN 0
         WHEN len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE
              / greatest(len(regexp_extract_all(text, '\\S+')), 1) < 0.05 THEN 0
         ELSE 1 END AS y
  FROM documents),
g1 AS (SELECT doc_id, unnest(toks) AS g FROM tok),
g2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM tok WHERE len(toks) >= 2)),
bk AS (SELECT doc_id, ('0x' || substr(md5('hng:' || g), 1, 8))::UBIGINT % $B AS b
  FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2)),
pf AS (SELECT doc_id,
    $pfSel
  FROM bk GROUP BY doc_id),
feats AS MATERIALIZED (
  SELECT l.doc_id, CAST(l.y AS DOUBLE) AS y, $featSel
  FROM lab l LEFT JOIN pf ON l.doc_id = pf.doc_id),
tr AS (SELECT * FROM feats
  WHERE ('0x' || substr(md5('hq:' || doc_id), 1, 8))::UBIGINT % 5 <> 0),
s AS MATERIALIZED (SELECT ${sqlStats(idx)} FROM tr),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM tr, s),
${sqlGd("i", "d", idx, iters, "0.5")},
da AS (SELECT t.doc_id, t.y, ${sqlStd(idx)} FROM feats t, s),
sc AS (SELECT doc_id, CAST(y AS BIGINT) AS y,
  ${sqlR4(sqlMargin(s"i$iters", idx, "da"))} AS s
  FROM da, i$iters)
SELECT doc_id, y, s, CAST(CASE WHEN s > 0 THEN 1 ELSE 0 END AS BIGINT) AS pred
FROM sc"""
    },
    "q29_text_stats" ->
      """WITH b AS (
  SELECT doc_id, text,
    len(regexp_extract_all(text, '\S+')) AS n_tokens,
    len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpeish_tokens,
    (length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')))::DOUBLE / length(text) AS punct_ratio,
    (length(text) - length(regexp_replace(text, '[0-9]', '', 'g')))::DOUBLE / length(text) AS digit_ratio,
    len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS stopword_ratio,
    length(regexp_replace(text, '\s', '', 'g'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS avg_token_len
  FROM documents)
SELECT doc_id, n_tokens, n_bpeish_tokens,
  round(punct_ratio+ 5e-11, 4) AS punct_ratio,
  round(digit_ratio+ 5e-11, 4) AS digit_ratio,
  round(stopword_ratio+ 5e-11, 4) AS stopword_ratio,
  round(avg_token_len+ 5e-11, 4) AS avg_token_len,
  round(0.25*least(n_tokens/50.0, 1.0) + 0.25*(1.0 - least(punct_ratio*10.0, 1.0))
    + 0.25*least(stopword_ratio*10.0, 1.0) + 0.25*least(avg_token_len/5.0, 1.0)+ 5e-11, 4) AS quality_score
FROM b""",
    "q30_lang_id" -> {
      val counts = TextOps.langMarkers.map { case (l, pat) =>
        s"len(regexp_extract_all(lower(text), '$pat')) AS c_$l"
      }.mkString(",\n    ")
      s"""WITH c AS (
  SELECT doc_id, lang,
    $counts
  FROM documents)
SELECT doc_id,
  CASE WHEN c_zh > greatest(c_en, c_de, c_fr, c_es) THEN 'zh'
       WHEN c_es > greatest(c_en, c_de, c_fr) THEN 'es'
       WHEN c_fr > greatest(c_en, c_de) THEN 'fr'
       WHEN c_de > c_en THEN 'de'
       ELSE 'en' END AS predicted_lang,
  lang,
  (CASE WHEN c_zh > greatest(c_en, c_de, c_fr, c_es) THEN 'zh'
       WHEN c_es > greatest(c_en, c_de, c_fr) THEN 'es'
       WHEN c_fr > greatest(c_en, c_de) THEN 'fr'
       WHEN c_de > c_en THEN 'de'
       ELSE 'en' END) = lang AS correct
FROM c"""
    },
    "q31_jaccard_topk" ->
      s"""WITH $shingleCte,
rare AS (SELECT shingle FROM (SELECT shingle, count(DISTINCT doc_id) AS df FROM sh0 GROUP BY 1) WHERE df <= 50),
kept AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1),
pairs AS (SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
          FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id GROUP BY 1, 2)
SELECT doc1, doc2, inter,
  round(inter::DOUBLE/(s1.sz + s2.sz - inter)+ 5e-11, 4) AS jaccard
FROM pairs JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
ORDER BY inter::DOUBLE/(s1.sz + s2.sz - inter) DESC, doc1 ASC, doc2 ASC LIMIT 20""",
    "q32_minhash_signatures" ->
      s"""WITH $shingleCte,
$sigSelect
SELECT * FROM sig""",
    "q33_minhash_pairs" ->
      s"""WITH $minhashPairsCtes
SELECT i.doc1, i.doc2, round(i.inter::DOUBLE/(s1.sz + s2.sz - i.inter)+ 5e-11, 4) AS jaccard
FROM inter i JOIN sizes s1 ON i.doc1 = s1.doc_id JOIN sizes s2 ON i.doc2 = s2.doc_id""",
    "q116_containment" ->
      s"""WITH $minhashPairsCtes
SELECT i.doc1, i.doc2, i.inter,
  round(i.inter::DOUBLE / s1.sz + 5e-11, 4) AS containment_1,
  round(i.inter::DOUBLE / s2.sz + 5e-11, 4) AS containment_2
FROM inter i JOIN sizes s1 ON i.doc1 = s1.doc_id JOIN sizes s2 ON i.doc2 = s2.doc_id""",
    "q57_neardup_groups" ->
      s"""WITH RECURSIVE $minhashPairsCtes,
jac AS MATERIALIZED (
  SELECT i.doc1, i.doc2
  FROM inter i JOIN sizes s1 ON i.doc1 = s1.doc_id JOIN sizes s2 ON i.doc2 = s2.doc_id
  WHERE i.inter::DOUBLE/(s1.sz + s2.sz - i.inter) >= 0.5),
edges AS MATERIALIZED (
  SELECT doc1 AS a, doc2 AS b FROM jac UNION SELECT doc2, doc1 FROM jac),
reach(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON e.a = r.node),
comp AS (SELECT src AS doc_id, min(node) AS canonical_id FROM reach GROUP BY src),
gs AS (SELECT canonical_id, count(*) AS group_size FROM comp GROUP BY 1)
SELECT c.doc_id, c.canonical_id, g.group_size FROM comp c JOIN gs g USING (canonical_id)""",
    "q34_simhash" -> {
      val sums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fp = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM t),
s AS (SELECT doc_id,
    $sums
  FROM h GROUP BY doc_id)
SELECT doc_id, ($fp)::BIGINT AS simhash FROM s"""
    },
    "q50_tfidf" ->
      """WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term,
    tf.tfc::DOUBLE / dl.len * (ln((1 + n.n)::DOUBLE / (1 + dfr.df)) + 1.0) AS tfidf
  FROM tf JOIN dl USING (doc_id) JOIN dfr USING (term) CROSS JOIN n),
r AS (SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rank
  FROM scored)
SELECT doc_id, term, rank, round(tfidf + 5e-11, 4) AS tfidf FROM r WHERE rank <= 3""",
    "q44_embedding_dups" ->
      """SELECT a.vec_id AS id1, b.vec_id AS id2,
  round((SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
    / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(a.embedding) AS x)))
    / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(b.embedding) AS y)))+ 5e-11, 4) AS cos
FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
WHERE (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
    / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(a.embedding) AS x)))
    / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(b.embedding) AS y))) >= 0.5""",
    "q56_ann_lsh" -> {
      val bucket = lshBucketSql
      s"""WITH c AS (SELECT vec_id, embedding, ($bucket)::BIGINT AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM c WHERE vec_id < 10),
s AS (SELECT q.query_id, c.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(c.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(c.embedding) AS y))) AS cos
      FROM c JOIN q USING (bucket) WHERE c.vec_id != q.query_id),
r AS (SELECT query_id, nbr_id, cos,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id, nbr_id, rank, round(cos+ 5e-11, 4) AS cos FROM r WHERE rank <= 10"""
    },
    "q266_ann_ndcg" -> {
      val bucket = lshBucketSql
      s"""WITH c AS (SELECT vec_id, embedding, ($bucket)::BIGINT AS bucket FROM embeddings),
q AS (SELECT vec_id AS query_id, embedding AS qe, bucket FROM c WHERE vec_id < 10),
s AS (SELECT q.query_id, c.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(c.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(c.embedding) AS y))) AS cos
      FROM c JOIN q USING (bucket) WHERE c.vec_id != q.query_id),
ann AS MATERIALIZED (SELECT query_id, nbr_id, rank FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
  WHERE rank <= 10),
es AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
ex AS MATERIALIZED (SELECT query_id, nbr_id, rank FROM (
    SELECT query_id, nbr_id,
      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM es)
  WHERE rank <= 10),
idcg AS (SELECT sum(1.0 / log2(i + 1)) AS v FROM unnest(range(1, 11)) AS t(i)),
d AS (SELECT a.query_id, count(*) AS n_ann,
    sum(CASE WHEN x.nbr_id IS NOT NULL THEN 1.0 / log2(a.rank + 1) ELSE 0 END) AS dcg
  FROM ann a LEFT JOIN ex x ON a.query_id = x.query_id AND a.nbr_id = x.nbr_id
  GROUP BY 1),
m AS (SELECT a.query_id, min(a.rank) AS r1
  FROM ann a JOIN ex x ON a.query_id = x.query_id AND a.nbr_id = x.nbr_id AND x.rank = 1
  GROUP BY 1)
SELECT d.query_id, d.n_ann::BIGINT AS n_ann,
  round(d.dcg / idcg.v + 5e-11, 4) AS ndcg,
  round(coalesce(1.0 / m.r1, 0.0) + 5e-11, 4) AS mrr
FROM d CROSS JOIN idcg LEFT JOIN m ON d.query_id = m.query_id"""
    },
    "q59_ann_ivf" ->
      """WITH cent AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
a AS (
  SELECT e.vec_id, e.embedding, c.cid,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) AS d2
  FROM embeddings e CROSS JOIN cent c),
asg AS (
  SELECT vec_id, embedding, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn FROM a)
  WHERE rn = 1),
qd AS (
  SELECT e.vec_id AS query_id, e.embedding AS qe, c.cid,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) AS d2
  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 10),
probes AS (
  SELECT query_id, qe, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) AS rn FROM qd)
  WHERE rn <= 3),
s AS (
  SELECT p.query_id, a.vec_id AS nbr_id,
    (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(p.qe) AS x, unnest(a.embedding) AS y))
    / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(p.qe) AS x)))
    / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS y))) AS cos
  FROM asg a JOIN probes p USING (cid) WHERE a.vec_id != p.query_id),
r AS (SELECT query_id, nbr_id, cos,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id, nbr_id, rank, round(cos+ 5e-11, 4) AS cos FROM r WHERE rank <= 10""",
    "q261_dedup_budget" ->
      """WITH k AS (
  SELECT doc_id, source,
    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ntok,
    doc_id = min(doc_id) OVER (PARTITION BY md5(text)) AS keep
  FROM documents),
b AS MATERIALIZED (
  SELECT source, CAST(sum(ntok) AS BIGINT) AS tokens_raw,
    CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT) AS tokens_dedup,
    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS wraw
  FROM k GROUP BY source),
sw AS (SELECT CAST(sum(wraw) AS BIGINT) AS sw FROM b),
r AS (SELECT b.*, sw.sw,
    CAST(tokens_raw AS DOUBLE) * sw.sw / wraw AS ratio_raw,
    CAST(tokens_dedup AS DOUBLE) * sw.sw / wraw AS ratio_dd
  FROM b, sw),
t AS (SELECT min(ratio_raw) AS t_raw, min(ratio_dd) AS t_dd FROM r),
bd AS (SELECT r.source, r.tokens_raw, r.tokens_dedup, r.wraw, r.sw,
    max(CASE WHEN p.tokens_dedup * r.wraw < r.tokens_dedup * p.wraw THEN 1 ELSE 0 END) AS beat
  FROM r, b p GROUP BY 1, 2, 3, 4, 5)
SELECT bd.source, bd.tokens_raw, bd.tokens_dedup,
  round(1.0 - CAST(bd.tokens_dedup AS DOUBLE) / bd.tokens_raw + 5e-11, 4) AS dup_token_frac,
  round(CAST(bd.wraw AS DOUBLE) / bd.sw + 5e-11, 4) AS weight,
  round(t.t_raw + 5e-11, 4) AS budget_raw,
  round(t.t_dd + 5e-11, 4) AS budget_dedup,
  round(bd.wraw * t.t_dd / bd.sw + 5e-11, 4) AS sampled_dedup,
  CASE WHEN bd.tokens_dedup > 0
    THEN round(bd.wraw * t.t_dd / bd.sw / bd.tokens_dedup + 5e-11, 4) END AS rate_dedup,
  bd.beat = 0 AS binding_dedup
FROM bd, t""",
    "q260_neardup_delta" -> {
      val sums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpExpr = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      val bandMatch = (0 until 4).map { b =>
        s"((d.simhash >> ${b * 8}) & 255) = ((i.simhash >> ${b * 8}) & 255)"
      }.mkString(" OR ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM t),
fp AS MATERIALIZED (SELECT doc_id, ($fpExpr)::BIGINT AS simhash
  FROM (SELECT doc_id, $sums FROM h GROUP BY doc_id)),
idx AS (SELECT doc_id, simhash FROM fp WHERE doc_id % 10 != 0),
dlt AS MATERIALIZED (
  SELECT d.doc_id, f.simhash FROM documents d LEFT JOIN fp f USING (doc_id)
  WHERE d.doc_id % 10 = 0),
cand AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, i.doc_id AS iid,
    bit_count(xor(d.simhash, i.simhash))::BIGINT AS ham
  FROM dlt d JOIN idx i ON $bandMatch),
best AS (SELECT doc_id, iid, ham FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ham, iid) AS rn FROM cand)
  WHERE rn = 1),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_cands FROM cand GROUP BY 1)
SELECT d.doc_id, d.simhash, coalesce(a.n_cands, 0) AS n_cands,
  b.ham AS min_hamming, b.iid AS match_id,
  coalesce(b.ham <= 3, false) AS is_neardup
FROM dlt d LEFT JOIN agg a USING (doc_id) LEFT JOIN best b USING (doc_id)"""
    },
    "q259_matryoshka" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
dd AS (SELECT unnest([8, 16, 32, 64]) AS d),
s AS (
  SELECT q.query_id, e.vec_id AS nbr_id, dd.d,
    (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe[1:dd.d]) AS x, unnest(e.embedding[1:dd.d]) AS y))
    / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe[1:dd.d]) AS x)))
    / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding[1:dd.d]) AS y))) AS cos
  FROM embeddings e CROSS JOIN q CROSS JOIN dd WHERE e.vec_id != q.query_id),
tk AS MATERIALIZED (
  SELECT query_id, nbr_id, d FROM (
    SELECT *, row_number() OVER (PARTITION BY query_id, d ORDER BY cos DESC, nbr_id ASC) AS rk FROM s)
  WHERE rk <= 10),
f AS (SELECT query_id, nbr_id FROM tk WHERE d = 64)
SELECT t.query_id, t.d::BIGINT AS d,
  CAST(sum(CASE WHEN f.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
  round(sum(CASE WHEN f.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / 10 + 5e-11, 4) AS recall
FROM tk t LEFT JOIN f ON t.query_id = f.query_id AND t.nbr_id = f.nbr_id
GROUP BY 1, 2""",
    "q258_ivfpq" ->
      """WITH coarse AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN coarse c) WHERE rn = 1),
res AS MATERIALIZED (
  SELECT a.vec_id, a.cid,
    list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - c.ce[i]) AS r
  FROM asg a JOIN coarse c USING (cid)),
rseed AS (
  SELECT vec_id::INT AS c, r AS e FROM res
  WHERE vec_id NOT IN (SELECT cid FROM coarse)
  ORDER BY vec_id LIMIT 16),
rcent AS MATERIALIZED (
  SELECT t.m, s.c, s.e[t.m*8+1 : t.m*8+8] AS rce
  FROM rseed s, unnest(range(0, 8)) AS t(m)),
codes AS MATERIALIZED (
  SELECT vec_id, cid, m, c AS code FROM (
    SELECT v.vec_id, v.cid, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x - y)*(x - y)) FROM (SELECT unnest(v.r[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.rce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM res v CROSS JOIN rcent ct) WHERE rn = 1),
probes AS MATERIALIZED (
  SELECT query_id, pcid, qr FROM (
    SELECT q.vec_id AS query_id, c.cid AS pcid,
      list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE - c.ce[i]) AS qr,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 10) WHERE rn <= 3),
lut AS MATERIALIZED (
  SELECT p.query_id, p.pcid, ct.m, ct.c,
    (SELECT sum((x - y)*(x - y)) FROM (SELECT unnest(p.qr[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.rce) AS y)) AS ld
  FROM probes p CROSS JOIN rcent ct),
adc AS (
  SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
  FROM codes cd JOIN lut l ON cd.cid = l.pcid AND cd.m = l.m AND cd.code = l.c
  WHERE cd.vec_id != l.query_id
  GROUP BY 1, 2),
r AS (SELECT query_id, nbr_id, adc,
  row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, nbr_id ASC) AS rank FROM adc)
SELECT query_id, nbr_id, rank, adc FROM r WHERE rank <= 10""",
    "q297_ivfpq_coarse" ->
      """WITH coarse AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
asg AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN coarse c) WHERE rn = 1),
res AS MATERIALIZED (
  SELECT a.vec_id, a.cid,
    list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - c.ce[i]) AS r
  FROM asg a JOIN coarse c USING (cid)),
rseed AS (
  SELECT vec_id::INT AS c, r AS e FROM res
  WHERE vec_id NOT IN (SELECT cid FROM coarse)
  ORDER BY vec_id LIMIT 16),
rcent AS MATERIALIZED (
  SELECT t.m, s.c, s.e[t.m*8+1 : t.m*8+8] AS rce
  FROM rseed s, unnest(range(0, 8)) AS t(m)),
codes AS MATERIALIZED (
  SELECT vec_id, cid, m, c AS code FROM (
    SELECT v.vec_id, v.cid, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x - y)*(x - y)) FROM (SELECT unnest(v.r[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.rce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM res v CROSS JOIN rcent ct) WHERE rn = 1),
probes AS MATERIALIZED (
  SELECT query_id, pcid, qr FROM (
    SELECT q.vec_id AS query_id, c.cid AS pcid,
      list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE - c.ce[i]) AS qr,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN coarse c WHERE q.vec_id < 10) WHERE rn <= 3),
lut AS MATERIALIZED (
  SELECT p.query_id, p.pcid, ct.m, ct.c,
    (SELECT sum((x - y)*(x - y)) FROM (SELECT unnest(p.qr[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.rce) AS y)) AS ld
  FROM probes p CROSS JOIN rcent ct),
stop AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT a.query_id, a.nbr_id,
      row_number() OVER (PARTITION BY a.query_id ORDER BY a.adc ASC, a.nbr_id ASC) AS rank
    FROM (SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
          FROM codes cd JOIN lut l ON cd.cid = l.pcid AND cd.m = l.m AND cd.code = l.c
          WHERE cd.vec_id != l.query_id GROUP BY 1, 2) a)
  WHERE rank <= 10),
c1 AS MATERIALIZED (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM asg, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
asg2 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
res2 AS MATERIALIZED (
  SELECT a.vec_id, a.cid,
    list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE - c.ce[i]) AS r
  FROM asg2 a JOIN c1 c USING (cid)),
rseed2 AS (
  SELECT vec_id::INT AS c, r AS e FROM res2
  WHERE vec_id NOT IN (SELECT cid FROM c1)
  ORDER BY vec_id LIMIT 16),
rcent2 AS MATERIALIZED (
  SELECT t.m, s.c, s.e[t.m*8+1 : t.m*8+8] AS rce
  FROM rseed2 s, unnest(range(0, 8)) AS t(m)),
codes2 AS MATERIALIZED (
  SELECT vec_id, cid, m, c AS code FROM (
    SELECT v.vec_id, v.cid, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x - y)*(x - y)) FROM (SELECT unnest(v.r[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.rce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM res2 v CROSS JOIN rcent2 ct) WHERE rn = 1),
probes2 AS MATERIALIZED (
  SELECT query_id, pcid, qr FROM (
    SELECT q.vec_id AS query_id, c.cid AS pcid,
      list_transform(range(1, 65), i -> q.embedding[i]::DOUBLE - c.ce[i]) AS qr,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings q CROSS JOIN c1 c WHERE q.vec_id < 10) WHERE rn <= 3),
lut2 AS MATERIALIZED (
  SELECT p.query_id, p.pcid, ct.m, ct.c,
    (SELECT sum((x - y)*(x - y)) FROM (SELECT unnest(p.qr[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.rce) AS y)) AS ld
  FROM probes2 p CROSS JOIN rcent2 ct),
ttop AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT a.query_id, a.nbr_id,
      row_number() OVER (PARTITION BY a.query_id ORDER BY a.adc ASC, a.nbr_id ASC) AS rank
    FROM (SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
          FROM codes2 cd JOIN lut2 l ON cd.cid = l.pcid AND cd.m = l.m AND cd.code = l.c
          WHERE cd.vec_id != l.query_id GROUP BY 1, 2) a)
  WHERE rank <= 10),
ex AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y::DOUBLE)*(x::DOUBLE - y::DOUBLE)) FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) ASC,
        e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    WHERE e.vec_id != q.vec_id)
  WHERE rank <= 10)
SELECT ex.query_id, count(*)::BIGINT AS n_exact,
  CAST(sum(CASE WHEN s.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS seed_hits,
  CAST(sum(CASE WHEN t.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS trained_hits,
  round(sum(CASE WHEN s.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS seed_recall,
  round(sum(CASE WHEN t.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS trained_recall
FROM ex LEFT JOIN stop s ON ex.query_id = s.query_id AND ex.nbr_id = s.nbr_id
  LEFT JOIN ttop t ON ex.query_id = t.query_id AND ex.nbr_id = t.nbr_id
GROUP BY 1""",
    "q298_collapsed_audit" -> locally {
      // brute-force replay of the 32-bit simhash kernel (the q294 nd
      // pattern) + exact canonicalization; complete vs the banded gate
      // at hamming <= 3 by pigeonhole
      val ndSums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val ndFpExpr = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH m AS (SELECT doc_id, text FROM $mirroredDocsSql),
can AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS canonical_id FROM m),
nt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM m),
nh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM nt),
nfp AS MATERIALIZED (SELECT doc_id, ($ndFpExpr)::BIGINT AS simhash
  FROM (SELECT doc_id, $ndSums FROM nh GROUP BY doc_id)),
bst AS (SELECT dd.doc_id,
    min(bit_count(xor(dd.simhash, ii.simhash))) AS mh
  FROM nfp dd JOIN nfp ii ON ii.doc_id < dd.doc_id GROUP BY 1),
mi AS (SELECT dd.doc_id, bst.mh, min(ii.doc_id) AS mid
  FROM nfp dd JOIN bst ON dd.doc_id = bst.doc_id
    JOIN nfp ii ON ii.doc_id < dd.doc_id
      AND bit_count(xor(dd.simhash, ii.simhash)) = bst.mh
  GROUP BY 1, 2)
SELECT c.doc_id, c.canonical_id,
  coalesce(mi.mh <= 3, FALSE) AS is_dup,
  CASE WHEN mi.mh <= 3 THEN mi.mh::BIGINT END AS nd_hamming,
  CASE WHEN mi.mh <= 3 THEN mi.mid END AS nd_match
FROM can c LEFT JOIN mi ON c.doc_id = mi.doc_id"""
    },
    "q257_pq_adc" ->
      """WITH seeds AS (
  SELECT vec_id::INT AS c, embedding::DOUBLE[] AS e FROM embeddings ORDER BY vec_id LIMIT 16),
cent AS MATERIALIZED (
  SELECT t.m, s.c, s.e[t.m*8+1 : t.m*8+8] AS ce
  FROM seeds s, unnest(range(0, 8)) AS t(m)),
codes AS MATERIALIZED (
  SELECT vec_id, m, c AS code FROM (
    SELECT v.vec_id, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(v.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM embeddings v CROSS JOIN cent ct) WHERE rn = 1),
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, ct.m, ct.c,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) AS ld
  FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id < 10),
adc AS (
  SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.c
  WHERE cd.vec_id != l.query_id
  GROUP BY 1, 2),
r AS (SELECT query_id, nbr_id, adc,
  row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, nbr_id ASC) AS rank FROM adc)
SELECT query_id, nbr_id, rank, adc FROM r WHERE rank <= 10""",
    "q277_pq_trained" ->
      """WITH seeds AS (
  SELECT vec_id::INT AS c, embedding::DOUBLE[] AS e FROM embeddings ORDER BY vec_id LIMIT 16),
cent0 AS MATERIALIZED (
  SELECT t.m, s.c, s.e[t.m*8+1 : t.m*8+8] AS ce
  FROM seeds s, unnest(range(0, 8)) AS t(m)),
codes0 AS MATERIALIZED (
  SELECT vec_id, m, c AS code FROM (
    SELECT v.vec_id, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(v.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM embeddings v CROSS JOIN cent0 ct) WHERE rn = 1),
cent1 AS MATERIALIZED (
  SELECT m, code AS c, list(v ORDER BY pos) AS ce FROM (
    SELECT cd.m, cd.code, t.pos,
      round(avg(v.embedding[cd.m*8 + t.pos]::DOUBLE) + 5e-11, 4) AS v
    FROM codes0 cd JOIN embeddings v USING (vec_id),
      unnest(range(1, 9)) AS t(pos)
    GROUP BY 1, 2, 3)
  GROUP BY 1, 2),
codes1 AS MATERIALIZED (
  SELECT vec_id, m, c AS code FROM (
    SELECT v.vec_id, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(v.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM embeddings v CROSS JOIN cent1 ct) WHERE rn = 1),
lut0 AS (
  SELECT q.vec_id AS query_id, ct.m, ct.c,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) AS ld
  FROM embeddings q CROSS JOIN cent0 ct WHERE q.vec_id < 10),
lut1 AS (
  SELECT q.vec_id AS query_id, ct.m, ct.c,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) AS ld
  FROM embeddings q CROSS JOIN cent1 ct WHERE q.vec_id < 10),
stop AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT a.query_id, a.nbr_id,
      row_number() OVER (PARTITION BY a.query_id ORDER BY a.adc ASC, a.nbr_id ASC) AS rank
    FROM (SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
          FROM codes0 cd JOIN lut0 l ON cd.m = l.m AND cd.code = l.c
          WHERE cd.vec_id != l.query_id GROUP BY 1, 2) a)
  WHERE rank <= 10),
ttop AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT a.query_id, a.nbr_id,
      row_number() OVER (PARTITION BY a.query_id ORDER BY a.adc ASC, a.nbr_id ASC) AS rank
    FROM (SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
          FROM codes1 cd JOIN lut1 l ON cd.m = l.m AND cd.code = l.c
          WHERE cd.vec_id != l.query_id GROUP BY 1, 2) a)
  WHERE rank <= 10),
ex AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y::DOUBLE)*(x::DOUBLE - y::DOUBLE)) FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) ASC,
        e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    WHERE e.vec_id != q.vec_id)
  WHERE rank <= 10)
SELECT ex.query_id, count(*)::BIGINT AS n_exact,
  CAST(sum(CASE WHEN s.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS seed_hits,
  CAST(sum(CASE WHEN t.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS trained_hits,
  round(sum(CASE WHEN s.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS seed_recall,
  round(sum(CASE WHEN t.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS trained_recall
FROM ex LEFT JOIN stop s ON ex.query_id = s.query_id AND ex.nbr_id = s.nbr_id
  LEFT JOIN ttop t ON ex.query_id = t.query_id AND ex.nbr_id = t.nbr_id
GROUP BY 1""",
    "q289_df_stopwords" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tf AS (SELECT DISTINCT doc_id, term FROM toks),
d AS (SELECT term, count(*)::BIGINT AS df FROM tf GROUP BY 1),
n AS (SELECT count(*)::BIGINT AS n_docs FROM documents),
r AS (SELECT term, df, row_number() OVER (ORDER BY df DESC, term ASC) AS rank FROM d)
SELECT term, df, rank, round(df::DOUBLE / n.n_docs + 5e-11, 4) AS df_frac
FROM r CROSS JOIN n WHERE rank <= 32""",
    "q288_chunk_novelty" ->
      """WITH t0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
x AS (SELECT doc_id, toks, len(toks) AS ntok,
        unnest(range(1, greatest(len(toks), 0) + 1, 48)) AS s
      FROM t0 WHERE len(toks) > 0),
c AS (SELECT doc_id,
        least(64, ntok - s + 1)::BIGINT AS ct,
        substr(md5(array_to_string(toks[s : s + 63], ' ')), 1, 16) AS fp
      FROM x),
idx AS (SELECT DISTINCT fp FROM c WHERE doc_id % 10 != 0),
d AS (SELECT c.doc_id, c.ct, idx.fp IS NOT NULL AS known
      FROM c LEFT JOIN idx ON c.fp = idx.fp
      WHERE c.doc_id % 10 = 0)
SELECT doc_id, count(*)::BIGINT AS n_chunks,
  sum(CASE WHEN known THEN 1 ELSE 0 END)::BIGINT AS n_known,
  round(1.0 - sum(CASE WHEN known THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS novel_rate,
  sum(CASE WHEN NOT known THEN ct ELSE 0 END)::BIGINT AS novel_tokens
FROM d GROUP BY 1""",
    "q287_fuzzy_contamination" -> {
      val sums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpExpr = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      val bandMatch = (0 until 4).map { b =>
        s"((e.simhash >> ${b * 8}) & 255) = ((t.simhash >> ${b * 8}) & 255)"
      }.mkString(" OR ")
      s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM tk),
fp AS MATERIALIZED (SELECT doc_id, ($fpExpr)::BIGINT AS simhash
  FROM (SELECT doc_id, $sums FROM h GROUP BY doc_id)),
b AS (SELECT doc_id, source,
    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 < 90 THEN 'valid'
         ELSE 'test' END AS split
  FROM documents),
ev AS MATERIALIZED (SELECT b.doc_id, b.source, b.split, f.simhash
  FROM b LEFT JOIN fp f USING (doc_id) WHERE b.split != 'train'),
tr AS (SELECT f.doc_id, f.simhash FROM fp f JOIN b USING (doc_id)
  WHERE b.split = 'train'),
cand AS (SELECT DISTINCT e.doc_id, t.doc_id AS tid,
    bit_count(xor(e.simhash, t.simhash)) AS ham
  FROM ev e JOIN tr t ON $bandMatch),
m AS (SELECT doc_id, min(ham) AS mh FROM cand GROUP BY 1)
SELECT ev.source, ev.split, count(*)::BIGINT AS n_eval,
  sum(CASE WHEN m.mh <= 3 THEN 1 ELSE 0 END)::BIGINT AS n_leaked,
  round(sum(CASE WHEN m.mh <= 3 THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS leak_rate
FROM ev LEFT JOIN m ON ev.doc_id = m.doc_id
GROUP BY 1, 2"""
    },
    "q286_chunk_bm25" ->
      """WITH t0 AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
x AS (SELECT doc_id, toks, unnest(range(1, greatest(len(toks), 0) + 1, 48)) AS s
      FROM t0 WHERE len(toks) > 0),
corpus AS (
  SELECT (1000000 + doc_id * 1000 + ((s - 1) / 48)::BIGINT)::BIGINT AS did,
    array_to_string(toks[s : s + 63], ' ') AS txt
  FROM x
  UNION ALL
  SELECT doc_id, text FROM documents WHERE doc_id < 4),
toks AS (SELECT did, unnest(regexp_extract_all(lower(txt), '\S+')) AS term FROM corpus),
tf AS (SELECT did, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
dl AS (SELECT did, count(*) AS len FROM toks GROUP BY 1),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n, sum(len)::DOUBLE / count(*) AS avgdl FROM dl),
qt AS (SELECT did AS query_id, term FROM tf WHERE did < 4),
s AS (SELECT qt.query_id, tf.did AS chunk_id,
        sum(ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
            * ((tf.tfc * (1.2 + 1.0))
               / (tf.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.len::DOUBLE / st.avgdl))))) AS bm25
      FROM tf JOIN dl ON tf.did = dl.did
        JOIN dfr ON tf.term = dfr.term
        JOIN qt ON tf.term = qt.term
        CROSS JOIN st
      WHERE tf.did != qt.query_id AND tf.did >= 1000000
      GROUP BY 1, 2),
r AS (SELECT query_id, chunk_id, round(bm25 + 5e-11, 4) AS bm25 FROM s),
rk AS (SELECT query_id, chunk_id, bm25,
        row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, chunk_id ASC) AS rank FROM r)
SELECT query_id, chunk_id, rank, bm25 FROM rk WHERE rank <= 5""",
    "q285_embedding_norms" ->
      """WITH n AS (
  SELECT label,
    sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(embedding) AS x))) AS nrm
  FROM embeddings)
SELECT label, count(*)::BIGINT AS n_vecs,
  sum(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_zero,
  round(min(nrm) + 5e-11, 4) AS min_norm,
  round(max(nrm) + 5e-11, 4) AS max_norm,
  round(avg(nrm) + 5e-11, 4) AS avg_norm
FROM n GROUP BY 1""",
    "q282_dup_mass" ->
      s"""WITH g AS (
  SELECT md5(text) AS fp, count(*)::BIGINT AS group_size,
    max(len(regexp_extract_all(text, '\\S+')))::BIGINT AS ntok
  FROM $mirroredDocsSql GROUP BY 1)
SELECT group_size, count(*)::BIGINT AS n_groups,
  sum(group_size)::BIGINT AS n_docs,
  sum(ntok * group_size)::BIGINT AS n_tokens,
  sum(ntok * (group_size - 1))::BIGINT AS excess_tokens
FROM g GROUP BY 1""",
    "q283_source_leakage" ->
      s"""WITH d AS (
  SELECT md5(text) AS fp, source, count(*)::BIGINT AS c
  FROM $mirroredDocsSql GROUP BY 1, 2)
SELECT a.source AS source_a, b.source AS source_b,
  count(*)::BIGINT AS shared_fps,
  sum(a.c * b.c)::BIGINT AS doc_pairs
FROM d a JOIN d b ON a.fp = b.fp AND a.source < b.source
GROUP BY 1, 2""",
    "q281_curriculum" ->
      """WITH lmb AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
lmx AS (SELECT doc_id, substr(t, i, 3) AS tri
        FROM lmb, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
lmc AS (SELECT tri, count(*) AS c FROM lmx GROUP BY 1),
lmtt AS (SELECT sum(c)::DOUBLE AS tt FROM lmc),
lm AS (SELECT lmx.doc_id, round(avg(ln(lmc.c::DOUBLE / lmtt.tt)) + 5e-11, 4) AS lm
       FROM lmx JOIN lmc USING (tri) CROSS JOIN lmtt GROUP BY 1),
b AS (SELECT d.doc_id, d.source,
        len(regexp_extract_all(d.text, '\S+'))::BIGINT AS ntok, lm.lm
      FROM documents d LEFT JOIN lm USING (doc_id)),
r AS (SELECT *, ntile(4) OVER (PARTITION BY source
        ORDER BY lm DESC NULLS LAST, doc_id) AS phase FROM b)
SELECT source, phase::BIGINT AS phase, count(*)::BIGINT AS n_docs,
  sum(ntok)::BIGINT AS n_tokens, round(avg(lm) + 5e-11, 4) AS avg_lm
FROM r GROUP BY 1, 2""",
    "q284_neardup_wide" -> {
      // 64-bit token hash from md5 bytes 0..7: the UNSIGNED form (fpu)
      // drives banding and xor — logical shifts there equal Spark's
      // arithmetic-shift-plus-mask — while the signed output fingerprint
      // maps bit 63 to the -2^63 term (Java long wrap)
      val sums = (0 until 64).map { j =>
        val half = if (j >= 32) s"(hi >> ${j - 32})" else s"(lo >> $j)"
        s"sum(CASE WHEN $half & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpuExpr = (0 until 64).map { j =>
        s"CASE WHEN s$j > 0 THEN ${java.lang.Long.toUnsignedString(1L << j)}::UBIGINT ELSE 0::UBIGINT END"
      }.mkString(" + ")
      val fpExpr = (0 until 63).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ") + " + CASE WHEN s63 > 0 THEN -9223372036854775808 ELSE 0 END"
      val bandMatch = (0 until 4).map { b =>
        s"((d.fpu >> ${b * 16}) & 65535) = ((i.fpu >> ${b * 16}) & 65535)"
      }.mkString(" OR ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id,
    ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS hi,
    ('0x' || substr(md5(tok), 9, 8))::UBIGINT::BIGINT AS lo
  FROM t),
fp AS MATERIALIZED (SELECT doc_id, ($fpuExpr) AS fpu, ($fpExpr)::BIGINT AS simhash
  FROM (SELECT doc_id, $sums FROM h GROUP BY doc_id)),
idx AS (SELECT doc_id, fpu FROM fp WHERE doc_id % 10 != 0),
dlt AS MATERIALIZED (
  SELECT d.doc_id, f.fpu, f.simhash FROM documents d LEFT JOIN fp f USING (doc_id)
  WHERE d.doc_id % 10 = 0),
cand AS MATERIALIZED (
  SELECT DISTINCT d.doc_id, i.doc_id AS iid,
    bit_count(xor(d.fpu, i.fpu))::BIGINT AS ham
  FROM dlt d JOIN idx i ON $bandMatch),
best AS (SELECT doc_id, iid, ham FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ham, iid) AS rn FROM cand)
  WHERE rn = 1),
agg AS (SELECT doc_id, count(*)::BIGINT AS n_cands FROM cand GROUP BY 1)
SELECT d.doc_id, d.simhash, coalesce(a.n_cands, 0) AS n_cands,
  b.ham AS min_hamming, b.iid AS match_id,
  coalesce(b.ham <= 3, false) AS is_neardup
FROM dlt d LEFT JOIN agg a USING (doc_id) LEFT JOIN best b USING (doc_id)"""
    },
    "q280_pq_rerank" ->
      """WITH seeds AS (
  SELECT vec_id::INT AS c, embedding::DOUBLE[] AS e FROM embeddings ORDER BY vec_id LIMIT 16),
cent AS MATERIALIZED (
  SELECT t.m, s.c, s.e[t.m*8+1 : t.m*8+8] AS ce
  FROM seeds s, unnest(range(0, 8)) AS t(m)),
codes AS MATERIALIZED (
  SELECT vec_id, m, c AS code FROM (
    SELECT v.vec_id, ct.m, ct.c,
      row_number() OVER (PARTITION BY v.vec_id, ct.m ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(v.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) ASC,
        ct.c ASC) AS rn
    FROM embeddings v CROSS JOIN cent ct) WHERE rn = 1),
lut AS MATERIALIZED (
  SELECT q.vec_id AS query_id, ct.m, ct.c,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(q.embedding[ct.m*8+1 : ct.m*8+8]) AS x, unnest(ct.ce) AS y)) AS ld
  FROM embeddings q CROSS JOIN cent ct WHERE q.vec_id < 10),
pqr AS MATERIALIZED (SELECT query_id, nbr_id, rank FROM (
    SELECT a.query_id, a.nbr_id,
      row_number() OVER (PARTITION BY a.query_id ORDER BY a.adc ASC, a.nbr_id ASC) AS rank
    FROM (SELECT l.query_id, cd.vec_id AS nbr_id, round(sum(l.ld) + 5e-11, 4) AS adc
          FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.c
          WHERE cd.vec_id != l.query_id GROUP BY 1, 2) a)
  WHERE rank <= 100),
rr AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT s.query_id, s.nbr_id,
      row_number() OVER (PARTITION BY s.query_id ORDER BY
        (SELECT sum((x::DOUBLE - y::DOUBLE)*(x::DOUBLE - y::DOUBLE)) FROM (SELECT unnest(q.embedding) AS x, unnest(v.embedding) AS y)) ASC,
        s.nbr_id ASC) AS rank
    FROM pqr s JOIN embeddings v ON s.nbr_id = v.vec_id
      JOIN embeddings q ON s.query_id = q.vec_id) WHERE rank <= 10),
ex AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS nbr_id,
      row_number() OVER (PARTITION BY q.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y::DOUBLE)*(x::DOUBLE - y::DOUBLE)) FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y)) ASC,
        e.vec_id ASC) AS rank
    FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 10) q
    WHERE e.vec_id != q.vec_id)
  WHERE rank <= 10)
SELECT ex.query_id, count(*)::BIGINT AS n_exact,
  CAST(sum(CASE WHEN p.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS pq_hits,
  CAST(sum(CASE WHEN r.nbr_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS rerank_hits,
  round(sum(CASE WHEN p.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS pq_recall,
  round(sum(CASE WHEN r.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS rerank_recall
FROM ex
  LEFT JOIN (SELECT query_id, nbr_id FROM pqr WHERE rank <= 10) p
    ON ex.query_id = p.query_id AND ex.nbr_id = p.nbr_id
  LEFT JOIN rr r ON ex.query_id = r.query_id AND ex.nbr_id = r.nbr_id
GROUP BY 1""",
    "q279_gopher_quality" ->
      """WITH b AS (
  SELECT doc_id, coalesce(text, '') AS t,
    regexp_extract_all(lower(coalesce(text, '')), '\S+') AS toks,
    list_filter(regexp_split_to_array(coalesce(text, ''), '\r?\n'),
      x -> length(x) > 0) AS ls
  FROM documents),
m AS (
  SELECT doc_id,
    len(toks)::BIGINT AS n_words,
    round(coalesce(length(array_to_string(toks, ''))::DOUBLE
      / (CASE WHEN len(toks) > 0 THEN len(toks) END), 0) + 5e-11, 4) AS mean_word_len,
    round(coalesce((length(t) - length(replace(t, '#', '')))::DOUBLE
      / (CASE WHEN len(toks) > 0 THEN len(toks) END), 0) + 5e-11, 4) AS hash_ratio,
    round(coalesce(((length(t) - length(replace(t, '...', ''))) / 3
        + (length(t) - length(replace(t, chr(8230), ''))))::DOUBLE
      / (CASE WHEN len(toks) > 0 THEN len(toks) END), 0) + 5e-11, 4) AS ellipsis_ratio,
    round(coalesce(len(list_filter(ls, x -> starts_with(ltrim(x), '- ')
        OR starts_with(ltrim(x), '* ') OR starts_with(ltrim(x), chr(8226))))::DOUBLE
      / (CASE WHEN len(ls) > 0 THEN len(ls) END), 0) + 5e-11, 4) AS bullet_line_frac,
    round(coalesce(len(list_filter(ls, x -> ends_with(x, '...')
        OR ends_with(x, chr(8230))))::DOUBLE
      / (CASE WHEN len(ls) > 0 THEN len(ls) END), 0) + 5e-11, 4) AS ellipsis_line_frac,
    round(coalesce(len(list_filter(toks, x -> regexp_matches(x, '[a-z]')))::DOUBLE
      / (CASE WHEN len(toks) > 0 THEN len(toks) END), 0) + 5e-11, 4) AS alpha_word_frac,
    (CASE WHEN list_contains(toks, 'the') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'be') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'to') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'of') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'and') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'that') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'have') THEN 1 ELSE 0 END
      + CASE WHEN list_contains(toks, 'with') THEN 1 ELSE 0 END)::BIGINT AS n_stopwords
  FROM b)
SELECT doc_id, n_words, mean_word_len, hash_ratio, ellipsis_ratio,
  bullet_line_frac, ellipsis_line_frac, alpha_word_frac, n_stopwords,
  (n_words < 50 OR n_words > 100000
    OR mean_word_len < 3.0 OR mean_word_len > 10.0
    OR hash_ratio > 0.1 OR ellipsis_ratio > 0.1
    OR bullet_line_frac > 0.9 OR ellipsis_line_frac > 0.3
    OR alpha_word_frac < 0.8 OR n_stopwords < 2) AS gopher_quality_flag
FROM m""",
    "q256_dsir" ->
      """WITH tok AS (
  SELECT d.doc_id, d.source, t.tok,
    CASE WHEN len(regexp_extract_all(d.text, '\S+')) >= 20
      AND len(regexp_extract_all(lower(d.text), '\b(the|a|an|and|or|of|to|in|is|it)\b'))::DOUBLE
          / greatest(len(regexp_extract_all(d.text, '\S+')), 1) >= 0.05
    THEN 1 ELSE 0 END AS tgt
  FROM documents d, unnest(regexp_extract_all(lower(d.text), '\S+')) AS t(tok)),
tb AS MATERIALIZED (
  SELECT doc_id, source, tgt,
    ('0x' || substr(md5('dsir:' || tok), 1, 8))::UBIGINT % 64 AS b
  FROM tok),
st AS (SELECT b, count(*) AS cr, sum(tgt) AS ct FROM tb GROUP BY 1),
tt AS (SELECT sum(cr) AS tr, sum(ct) AS tt FROM st),
w AS (SELECT b, ln((ct + 1)::DOUBLE / (tt + 64)) - ln((cr + 1)::DOUBLE / (tr + 64)) AS w
      FROM st, tt),
ds AS (SELECT tb.doc_id, count(*) AS n_toks, round(sum(w.w) + 5e-11, 4) AS score
       FROM tb JOIN w USING (b) GROUP BY 1),
f AS (SELECT d.doc_id, d.source, coalesce(ds.n_toks, 0) AS n_toks,
        coalesce(ds.score, 0.0) AS score
      FROM documents d LEFT JOIN ds ON d.doc_id = ds.doc_id),
r AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, doc_id) AS rk,
        count(*) OVER (PARTITION BY source) AS nsrc FROM f)
SELECT doc_id, source, n_toks, score, rk <= ceil(nsrc * 0.5) AS kept FROM r""",
    "q255_semdedup" ->
      """WITH c0 AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM a1, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
a2 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
p AS (
  SELECT b.vec_id,
    round((SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
      / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(a.embedding) AS x)))
      / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(b.embedding) AS y))) + 5e-11, 4) AS cos
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
d AS (
  SELECT vec_id, count(*) AS n_prev_dups, max(cos) AS max_prev_cos
  FROM p WHERE cos >= 0.30 GROUP BY 1),
n AS (SELECT cid, count(*) AS cluster_n FROM a2 GROUP BY 1)
SELECT a.vec_id, a.cid::BIGINT AS cluster_id, n.cluster_n,
  coalesce(d.n_prev_dups, 0) AS n_prev_dups, d.max_prev_cos,
  d.n_prev_dups IS NULL AS kept
FROM a2 a JOIN n USING (cid) LEFT JOIN d ON a.vec_id = d.vec_id""",
    "q278_crossmodal" -> {
      val sums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpExpr = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM t),
sgn AS (SELECT doc_id,
    $sums
  FROM h GROUP BY doc_id),
fp AS MATERIALIZED (SELECT doc_id, ($fpExpr)::BIGINT AS simhash FROM sgn),
tp AS (SELECT b.doc_id FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 GROUP BY 1),
c0 AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM a1, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
a2 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
p AS (
  SELECT b.vec_id,
    round((SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
      / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(a.embedding) AS x)))
      / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(b.embedding) AS y))) + 5e-11, 4) AS cos
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
d AS (SELECT vec_id FROM p WHERE cos >= 0.30 GROUP BY 1),
sdv AS (SELECT a2.vec_id AS doc_id, (d.vec_id IS NOT NULL) AS sd
  FROM a2 LEFT JOIN d ON a2.vec_id = d.vec_id),
j AS (SELECT doc.doc_id, doc.source,
    (tp.doc_id IS NOT NULL) AS td, sdv.sd
  FROM documents doc LEFT JOIN tp ON doc.doc_id = tp.doc_id
    LEFT JOIN sdv ON doc.doc_id = sdv.doc_id)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN sd IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_paired,
  sum(CASE WHEN sd IS NOT NULL AND td AND sd THEN 1 ELSE 0 END)::BIGINT AS both_dup,
  sum(CASE WHEN sd IS NOT NULL AND td AND NOT sd THEN 1 ELSE 0 END)::BIGINT AS text_only,
  sum(CASE WHEN sd IS NOT NULL AND NOT td AND sd THEN 1 ELSE 0 END)::BIGINT AS sem_only,
  sum(CASE WHEN sd IS NOT NULL AND NOT td AND NOT sd THEN 1 ELSE 0 END)::BIGINT AS neither,
  round(sum(CASE WHEN sd IS NOT NULL AND td = sd THEN 1 ELSE 0 END)::DOUBLE
    / greatest(sum(CASE WHEN sd IS NOT NULL THEN 1 ELSE 0 END), 1) + 5e-11, 4) AS agree_rate
FROM j GROUP BY 1"""
    },
    "q73_contamination" ->
      """WITH b AS (
  SELECT doc_id,
    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 < 90 THEN 'valid'
         ELSE 'test' END AS split,
    substr(md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))), 1, 16) AS fp
  FROM documents),
t AS (SELECT DISTINCT fp FROM b WHERE split = 'train')
SELECT b.doc_id, b.split, t.fp IS NOT NULL AS contaminated
FROM b LEFT JOIN t ON b.fp = t.fp
WHERE b.split != 'train'""",
    "q74_quality_filter" ->
      """WITH m AS (
  SELECT doc_id,
    len(regexp_extract_all(text, '\S+')) AS n_tokens,
    len(regexp_extract_all(lower(text), '\b(the|a|an|and|or|of|to|in|is|it)\b'))::DOUBLE
      / greatest(len(regexp_extract_all(text, '\S+')), 1) AS stop_ratio
  FROM documents),
r AS (
  SELECT doc_id,
    CASE WHEN n_tokens < 20 THEN 'too_short'
         WHEN stop_ratio < 0.05 THEN 'low_stopword'
         ELSE 'kept' END AS reason
  FROM m)
SELECT doc_id, reason, reason = 'kept' AS keep FROM r""",
    "q67_hash_split" ->
      """WITH b AS (
  SELECT doc_id, ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 AS bucket
  FROM documents)
SELECT doc_id, bucket::BIGINT AS bucket,
  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid' ELSE 'test' END AS split
FROM b""",
    "q77_rolling_hash" -> {
      val k = 8
      val M = graft.functions.RollingHashKernel.M
      val B = graft.functions.RollingHashKernel.B
      val pows = (0 until k).map(j => // B^(k-1-j) mod M as literals
        (0 until (k - 1 - j)).foldLeft(1L)((a, _) => a * B % M))
      val terms = (0 until k).map(j =>
        s"unicode(substr(t, i + $j, 1))::BIGINT * ${pows(j)}").mkString(" + ")
      s"""WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS t FROM documents),
p AS (
  SELECT doc_id, t, unnest(range(1, length(t) - $k + 2, 16)) AS i
  FROM nrm WHERE length(t) >= $k)
SELECT doc_id, (i - 1)::BIGINT AS pos, (($terms) % $M)::BIGINT AS hash
FROM p"""
    },
    "q145_repetition" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
uc AS (SELECT doc_id, w, count(*) AS c
       FROM (SELECT doc_id, unnest(toks) AS w FROM tok) GROUP BY 1, 2),
ua AS (SELECT doc_id, sum(c)::BIGINT AS n_words, count(*) AS n_distinct_words,
              sum(c * len(w)) AS word_chars, max(c * len(w)) AS top_uni FROM uc GROUP BY 1),
bc AS (SELECT doc_id, g, count(*) AS c
       FROM (SELECT doc_id, toks[i] || ' ' || toks[i+1] AS g
             FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM tok)) GROUP BY 1, 2),
ba AS (SELECT doc_id, max(c * (len(g) - 1)) AS top_bi FROM bc GROUP BY 1)
SELECT ua.doc_id, n_words, n_distinct_words,
  round((n_words - n_distinct_words)::DOUBLE / n_words + 5e-11, 4) AS dup_word_frac,
  round(top_uni::DOUBLE / word_chars + 5e-11, 4) AS top_unigram_char_frac,
  round(coalesce(top_bi::DOUBLE / word_chars, 0.0) + 5e-11, 4) AS top_bigram_char_frac
FROM ua LEFT JOIN ba ON ua.doc_id = ba.doc_id""",
    "q146_boilerplate" ->
      s"""WITH $shingleCte,
dfq AS (SELECT shingle, count(*) AS df FROM sh0 GROUP BY 1)
SELECT doc_id, count(*) AS n_shingles,
  count(CASE WHEN df >= 3 THEN 1 END) AS n_boiler,
  round(count(CASE WHEN df >= 3 THEN 1 END)::DOUBLE / count(*) + 5e-11, 4) AS boiler_frac,
  count(CASE WHEN df >= 3 THEN 1 END)::DOUBLE / count(*) > 0.5 AS flagged
FROM sh0 JOIN dfq USING (shingle) GROUP BY doc_id""",
    "q147_decontam" ->
      """WITH tok AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
sh AS (SELECT DISTINCT doc_id, array_to_string(toks[i:i+4], ' ') AS s
       FROM (SELECT doc_id, toks, unnest(range(1, greatest(len(toks)-4, 0)+1)) AS i FROM tok)),
p AS (SELECT DISTINCT s FROM sh WHERE doc_id % 11 = 0),
c AS (SELECT doc_id, s FROM sh WHERE doc_id % 11 != 0),
h AS (SELECT doc_id, count(*) AS nc FROM c WHERE s IN (SELECT s FROM p) GROUP BY 1),
t AS (SELECT doc_id, count(*) AS ns FROM c GROUP BY 1)
SELECT t.doc_id, ns AS n_shingles, coalesce(nc, 0) AS n_contaminated,
  round(coalesce(nc, 0)::DOUBLE / ns + 5e-11, 4) AS contaminated_frac,
  coalesce(nc, 0) > 0 AS contaminated
FROM t LEFT JOIN h ON t.doc_id = h.doc_id""",
    "q154_incremental_dedup" -> {
      val bandRows = Dedup.bands.zipWithIndex.map { case (rows, b) =>
        val key = rows.map(r => s"mh$r").mkString(" || '_' || ")
        s"SELECT doc_id, $b AS band, $key AS key FROM sig"
      }.mkString("\nUNION ALL\n")
      s"""WITH $shingleCte,
$sigSelect,
bk AS ($bandRows),
cand AS (SELECT DISTINCT d.doc_id AS ddoc, i.doc_id AS idoc
         FROM bk d JOIN bk i ON d.band = i.band AND d.key = i.key
         WHERE d.doc_id % 10 = 0 AND i.doc_id % 10 != 0),
inter AS (SELECT c.ddoc, c.idoc, count(*) AS inter
          FROM cand c JOIN sh0 a ON a.doc_id = c.ddoc
          JOIN sh0 b ON b.doc_id = c.idoc AND b.shingle = a.shingle GROUP BY 1, 2),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh0 GROUP BY 1),
j AS (SELECT ddoc, idoc, inter::DOUBLE / (sd.sz + si.sz - inter) AS jac
      FROM inter JOIN sizes sd ON sd.doc_id = ddoc JOIN sizes si ON si.doc_id = idoc),
best AS (SELECT ddoc, idoc, jac,
           row_number() OVER (PARTITION BY ddoc ORDER BY jac DESC, idoc ASC) AS rn FROM j)
SELECT d.doc_id, coalesce(b.idoc, -1) AS match_id,
  round(coalesce(b.jac, 0.0) + 5e-11, 4) AS jaccard,
  coalesce(b.jac >= 0.5, FALSE) AS is_dup
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.ddoc = d.doc_id"""
    },
    "q157_minhash_calibration" -> {
      val estTerms = Dedup.perms.indices.map(i =>
        s"(CASE WHEN s1.mh$i = s2.mh$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH $minhashPairsCtes,
est AS (SELECT c.doc1, c.doc2, ($estTerms) / ${Dedup.perms.length}.0 AS est
        FROM cand c JOIN sig s1 ON s1.doc_id = c.doc1 JOIN sig s2 ON s2.doc_id = c.doc2),
ex AS (SELECT i.doc1, i.doc2, i.inter::DOUBLE / (z1.sz + z2.sz - i.inter) AS jac
       FROM inter i JOIN sizes z1 ON i.doc1 = z1.doc_id JOIN sizes z2 ON i.doc2 = z2.doc_id)
SELECT count(*) AS n_pairs,
  round(avg(abs(e.est - coalesce(x.jac, 0.0))) + 5e-11, 4) AS mae,
  round(avg(e.est - coalesce(x.jac, 0.0)) + 5e-11, 4) AS bias
FROM est e LEFT JOIN ex x ON e.doc1 = x.doc1 AND e.doc2 = x.doc2"""
    },
    "q156_quant_error" ->
      """WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding)::DOUBLE AS v
  FROM embeddings),
st AS (SELECT i, min(v) AS lo, max(v) AS hi FROM x GROUP BY 1),
q AS (SELECT vec_id, v, lo, hi,
        CASE WHEN hi = lo THEN 0.0 ELSE floor((v - lo) / (hi - lo) * 255 + 0.5) END AS code
      FROM x JOIN st USING (i)),
e AS (SELECT vec_id,
        avg((v - (lo + code / 255 * (hi - lo))) * (v - (lo + code / 255 * (hi - lo)))) * 1e6 AS mse_ppm
      FROM q GROUP BY 1)
SELECT vec_id, round(mse_ppm + 5e-11, 4) AS mse_ppm
FROM e ORDER BY round(mse_ppm + 5e-11, 4) DESC, vec_id ASC LIMIT 20""",
    "q152_oov_rate" ->
      """WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
v AS (SELECT tok FROM (SELECT tok, count(*) AS c FROM t GROUP BY 1) ORDER BY c DESC, tok ASC LIMIT 20)
SELECT doc_id, count(*) AS n_tokens,
  count(CASE WHEN v.tok IS NULL THEN 1 END) AS n_oov,
  round(count(CASE WHEN v.tok IS NULL THEN 1 END)::DOUBLE / count(*) + 5e-11, 4) AS oov_rate
FROM t LEFT JOIN v ON t.tok = v.tok
GROUP BY doc_id""",
    "q153_lang_source_chi2" ->
      """WITH rt AS (SELECT lang, count(*) AS rt FROM documents GROUP BY 1),
ct AS (SELECT source, count(*) AS ct FROM documents GROUP BY 1),
o AS (SELECT lang, source, count(*) AS o FROM documents GROUP BY 1, 2),
n AS (SELECT count(*) AS n FROM documents),
cells AS (
  SELECT rt.lang, ct.source, coalesce(o.o, 0) AS o, rt.rt * ct.ct / n.n AS e, n.n AS n
  FROM rt CROSS JOIN ct LEFT JOIN o ON rt.lang = o.lang AND ct.source = o.source CROSS JOIN n),
agg AS (SELECT min(n) AS n_docs, sum((o - e) * (o - e) / e) AS chi2 FROM cells),
d AS (SELECT (SELECT count(*) FROM rt) AS nl, (SELECT count(*) FROM ct) AS ns)
SELECT n_docs, ((nl - 1) * (ns - 1))::BIGINT AS dof, round(chi2 + 5e-11, 4) AS chi2,
  round(sqrt(chi2 / (n_docs * least(nl - 1, ns - 1))) + 5e-11, 4) AS cramers_v
FROM agg CROSS JOIN d""",
    "q149_dim_corr" ->
      """WITH x AS (
  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i, unnest(embedding)::DOUBLE AS v
  FROM embeddings),
c AS (SELECT a.i AS i, b.i AS j, corr(a.v, b.v) AS corr
      FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i < b.i GROUP BY 1, 2)
SELECT i::BIGINT AS i, j::BIGINT AS j, round(corr + 5e-11, 4) + 0.0 AS corr
FROM c ORDER BY round(abs(corr) + 5e-11, 4) DESC, i ASC, j ASC LIMIT 40""",
    "q150_zipf_slope" ->
      """WITH t AS (SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
c AS (SELECT source, tok, count(*) AS cnt FROM t GROUP BY 1, 2),
r AS (SELECT source, cnt,
        row_number() OVER (PARTITION BY source ORDER BY cnt DESC, tok ASC) AS rnk FROM c)
SELECT source, count(*) AS n_types, sum(cnt)::BIGINT AS n_tokens,
  round(regr_slope(ln(cnt), ln(rnk)) + 5e-11, 4) AS zipf_slope
FROM r GROUP BY source""",
    "q187_pca_power" -> pcaPowerSql,
    "q190_pca_project" -> pcaProjectSql,
    "q192_recon_anomaly" -> reconAnomalySqlK(1),
    "q196_recon_anomaly_k" -> reconAnomalySqlK(3),
    "q195_mixture_budget" ->
      """WITH b AS (
  SELECT source, CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS tokens,
    CAST(substr(source, 4) AS BIGINT) % 4 + 1 AS wraw
  FROM documents GROUP BY source),
sw AS (SELECT CAST(sum(wraw) AS BIGINT) AS sw FROM b),
r AS (SELECT b.*, sw.sw, CAST(tokens AS DOUBLE) * sw.sw / wraw AS ratio FROM b, sw),
t AS (SELECT min(ratio) AS t FROM r),
bd AS (SELECT r.source, r.tokens, r.wraw, r.sw,
    max(CASE WHEN p.tokens * r.wraw < r.tokens * p.wraw THEN 1 ELSE 0 END) AS beat
  FROM r, b p GROUP BY 1, 2, 3, 4)
SELECT bd.source, bd.tokens,
  round(CAST(bd.wraw AS DOUBLE) / bd.sw + 5e-11, 4) AS weight,
  round(t.t + 5e-11, 4) AS budget_tokens,
  round(bd.wraw * t.t / bd.sw + 5e-11, 4) AS sampled_tokens,
  round(bd.wraw * t.t / bd.sw / bd.tokens + 5e-11, 4) AS rate,
  bd.beat = 0 AS binding
FROM bd, t""",
    "q186_bpe_merges" -> {
      val rows = (1 to 5).map(t =>
        s"""SELECT $t AS round, a AS merge_left, b AS merge_right, cnt,
  (SELECT v FROM voc$t) AS vocab_after FROM best$t""")
      s"""WITH w0 AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
words AS MATERIALIZED (SELECT word, CAST(count(*) AS BIGINT) AS freq FROM w0 GROUP BY 1),
$bpeTok1,
${(1 to 5).map(t => bpeRound(t, withVocab = true)).mkString(",\n")}
${rows.mkString("\nUNION ALL\n")}"""
    },
    "q189_bpe_encode" ->
      s"""WITH ws AS (
  SELECT source, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word FROM documents),
swf AS MATERIALIZED (
  SELECT source, word, CAST(count(*) AS BIGINT) AS freq FROM ws GROUP BY 1, 2),
words AS MATERIALIZED (
  SELECT word, CAST(sum(freq) AS BIGINT) AS freq FROM swf GROUP BY 1),
$bpeTok1,
${(1 to 5).map(t => bpeRound(t, withVocab = false)).mkString(",\n")},
tw AS MATERIALIZED (
  SELECT word, CAST(count(*) AS BIGINT) AS ntok FROM tok6 GROUP BY 1)
SELECT s.source, CAST(count(*) AS BIGINT) AS n_words,
  CAST(sum(s.freq * length(s.word)) AS BIGINT) AS chars,
  CAST(sum(s.freq * tw.ntok) AS BIGINT) AS tokens,
  round(CAST(sum(s.freq * tw.ntok) AS DOUBLE) / sum(s.freq * length(s.word))
    + 5e-11, 4) AS compression
FROM swf s JOIN tw ON s.word = tw.word
GROUP BY 1""",
    "q148_mixture_weights" ->
      """WITH per AS (
  SELECT source, count(*) AS n_docs,
         sum(len(regexp_extract_all(text, '\S+')))::BIGINT AS tokens
  FROM documents GROUP BY 1),
z AS (SELECT sum(pow(tokens::DOUBLE, 0.7)) AS z FROM per)
SELECT source, n_docs, tokens,
  round(pow(tokens::DOUBLE, 0.7) / z + 5e-11, 4) AS weight,
  round(pow(tokens::DOUBLE, 0.7) / z * 1000000 / tokens + 5e-11, 4) AS epochs
FROM per CROSS JOIN z""",
    "q65_token_zipf" ->
      """WITH t AS (SELECT unnest(regexp_extract_all(lower(text), '\S+')) AS tok FROM documents),
c AS (SELECT tok, count(*) AS cnt FROM t GROUP BY 1),
r AS (SELECT tok, cnt, row_number() OVER (ORDER BY cnt DESC, tok ASC) AS rnk FROM c)
SELECT tok, cnt, rnk FROM r WHERE rnk <= 50""",
    "q55_winnowing" ->
      """WITH nrm AS (
  SELECT doc_id, trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS t FROM documents),
g AS (
  SELECT doc_id, i, ('0x' || substr(md5(substr(t, i, 8)), 1, 8))::UBIGINT::BIGINT AS h
  FROM (SELECT doc_id, t, unnest(range(1, length(t) - 8 + 2)) AS i FROM nrm WHERE length(t) >= 8)),
m AS (
  SELECT doc_id, i,
    min(h) OVER (PARTITION BY doc_id ORDER BY i ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp,
    max(i) OVER (PARTITION BY doc_id) AS maxi
  FROM g)
SELECT DISTINCT doc_id, fp FROM m WHERE i <= maxi - 3""",
    "q137_knn_consistency" ->
      """WITH s AS (SELECT q.vec_id AS query_id, q.label AS ql, e.vec_id AS nbr_id, e.label AS nl,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.embedding) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.embedding) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN embeddings q WHERE e.vec_id != q.vec_id AND q.vec_id < 1000),
r AS (SELECT query_id, ql, nl, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id AS vec_id, ql AS label,
  count(*) FILTER (WHERE nl = ql) AS knn_agree,
  (count(*) FILTER (WHERE nl = ql)) * 2 < 5 AS suspected
FROM r WHERE rank <= 5 GROUP BY 1, 2""",
    "q143_rrf" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
sc AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
rc AS (SELECT query_id, nbr_id,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM sc),
se AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(pow(x::DOUBLE - y::DOUBLE, 2)) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y)) AS d2
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
re AS (SELECT query_id, nbr_id,
        row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, nbr_id ASC) AS rank FROM se),
u AS (SELECT query_id, nbr_id, 1.0/(60 + rank) AS contrib FROM rc WHERE rank <= 10
      UNION ALL SELECT query_id, nbr_id, 1.0/(60 + rank) FROM re WHERE rank <= 10),
f AS (SELECT query_id, nbr_id, sum(contrib) AS rrf_score, count(*) AS n_lists FROM u GROUP BY 1, 2),
r AS (SELECT query_id, nbr_id, n_lists, rrf_score,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(rrf_score + 5e-11, 4) DESC, nbr_id ASC) AS fused_rank FROM f)
SELECT query_id, nbr_id, fused_rank, n_lists, round(rrf_score + 5e-11, 4) AS rrf_score
FROM r WHERE fused_rank <= 5""",
    "q141_collocations" ->
      """WITH tok AS (SELECT regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
bi AS (SELECT toks[i] AS a, toks[i+1] AS b
       FROM (SELECT toks, unnest(range(1, greatest(len(toks), 1))) AS i FROM tok)),
bc AS (SELECT a, b, count(*) AS cab FROM bi GROUP BY 1, 2),
uc AS (SELECT t, count(*) AS c FROM (SELECT unnest(toks) AS t FROM tok) GROUP BY 1),
nu AS (SELECT sum(c)::DOUBLE AS nu FROM uc),
nb AS (SELECT sum(cab)::DOUBLE AS nb FROM bc)
SELECT bc.a, bc.b, bc.cab AS c_ab,
  round(ln((bc.cab / nb.nb) / ((ua.c / nu.nu) * (ub.c / nu.nu))) + 5e-11, 4) AS pmi
FROM bc JOIN uc ua ON bc.a = ua.t JOIN uc ub ON bc.b = ub.t, nu, nb
WHERE bc.cab >= 5
ORDER BY pmi DESC, a ASC, b ASC LIMIT 20""",
    "q131_trigram_lm" ->
      """WITH b AS (SELECT doc_id, lower(regexp_replace(text, '\s+', ' ', 'g')) AS t FROM documents),
x AS (SELECT doc_id, substr(t, i, 3) AS tri
      FROM b, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
c AS (SELECT tri, count(*) AS c FROM x GROUP BY 1),
tt AS (SELECT sum(c)::DOUBLE AS tt FROM c)
SELECT x.doc_id, count(*) AS n_trigrams,
  round(avg(ln(c.c::DOUBLE / tt.tt)) + 5e-11, 4) AS lm_score
FROM x JOIN c USING (tri) CROSS JOIN tt GROUP BY 1""",
    "q132_hard_negatives" ->
      """WITH q AS (SELECT vec_id AS query_id, label AS ql, embedding AS qe
       FROM embeddings WHERE vec_id < 10),
s AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN q
      WHERE e.vec_id != q.query_id AND e.label != q.ql),
r AS (SELECT query_id, nbr_id, cos,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id, nbr_id, rank, round(cos + 5e-11, 4) AS cos FROM r WHERE rank <= 5""",
    "q267_c4_rules" ->
      s"""WITH a AS (SELECT doc_id, source, $c4AugmentedSql AS t FROM documents),
l AS (SELECT doc_id, ln FROM (
    SELECT doc_id, unnest(regexp_split_to_array(t, '\\r?\\n')) AS ln FROM a)
  WHERE length(ln) > 0),
k AS (SELECT doc_id, ln FROM l
  WHERE regexp_matches(ln, '[.!?"]$$')
    AND len(regexp_extract_all(ln, '\\S+')) >= 5
    AND NOT contains(lower(ln), 'javascript')),
ld AS (SELECT doc_id, count(*)::BIGINT AS n_lines FROM l GROUP BY 1),
kd AS (SELECT doc_id, count(*)::BIGINT AS n_kept,
         sum(length(ln))::BIGINT AS kept_chars FROM k GROUP BY 1),
d AS (SELECT a.doc_id, a.source,
        coalesce(ld.n_lines, 0) AS n_lines,
        coalesce(kd.n_kept, 0) AS n_kept,
        coalesce(kd.kept_chars, 0) AS kept_chars,
        contains(lower(t), 'lorem ipsum') AS has_lorem,
        contains(t, '{') AS has_brace,
        (contains(lower(t), 'jackpot') OR contains(lower(t), 'casino')) AS has_badword
      FROM a LEFT JOIN ld ON a.doc_id = ld.doc_id
        LEFT JOIN kd ON a.doc_id = kd.doc_id),
f AS (SELECT *,
        (n_kept >= 3 AND NOT has_lorem AND NOT has_brace AND NOT has_badword) AS kept
      FROM d)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS docs_kept,
  sum(n_lines)::BIGINT AS lines_total,
  sum(n_kept)::BIGINT AS lines_kept,
  sum(CASE WHEN kept THEN kept_chars ELSE 0 END)::BIGINT AS kept_chars,
  sum(CASE WHEN has_lorem THEN 1 ELSE 0 END)::BIGINT AS docs_lorem,
  sum(CASE WHEN has_brace THEN 1 ELSE 0 END)::BIGINT AS docs_brace,
  sum(CASE WHEN has_badword THEN 1 ELSE 0 END)::BIGINT AS docs_badword,
  round(sum(CASE WHEN kept THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS keep_rate
FROM f GROUP BY 1""",
    "q268_bm25" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n, sum(len)::DOUBLE / count(*) AS avgdl FROM dl),
qt AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < 8),
s AS (SELECT qt.query_id, tf.doc_id AS nbr_id,
        sum(ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
            * ((tf.tfc * (1.2 + 1.0))
               / (tf.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.len::DOUBLE / st.avgdl))))) AS bm25
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfr ON tf.term = dfr.term
        JOIN qt ON tf.term = qt.term
        CROSS JOIN st
      WHERE tf.doc_id != qt.query_id
      GROUP BY 1, 2),
r AS (SELECT query_id, nbr_id, round(bm25 + 5e-11, 4) AS bm25 FROM s),
rk AS (SELECT query_id, nbr_id, bm25,
        row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, nbr_id ASC) AS rank FROM r)
SELECT query_id, nbr_id, rank, bm25 FROM rk WHERE rank <= 10""",
    "q269_source_kl" ->
      """WITH toks AS (SELECT source, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
cs AS (SELECT source, term, count(*) AS c FROM toks GROUP BY 1, 2),
ts AS (SELECT source, sum(c)::BIGINT AS ts FROM cs GROUP BY 1),
cc AS (SELECT term, sum(c)::BIGINT AS cc FROM cs GROUP BY 1),
tc AS (SELECT sum(cc)::BIGINT AS tc FROM cc)
SELECT cs.source, max(ts.ts)::BIGINT AS n_tokens, count(*)::BIGINT AS vocab,
  round(sum((cs.c::DOUBLE / ts.ts) * ln((cs.c::DOUBLE / ts.ts) / (cc.cc::DOUBLE / tc.tc))) + 5e-11, 4) AS kl
FROM cs JOIN ts ON cs.source = ts.source JOIN cc ON cs.term = cc.term CROSS JOIN tc
GROUP BY 1""",
    "q270_hybrid_rrf" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n, sum(len)::DOUBLE / count(*) AS avgdl FROM dl),
qt AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < 8),
s AS (SELECT qt.query_id, tf.doc_id AS nbr_id,
        sum(ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
            * ((tf.tfc * (1.2 + 1.0))
               / (tf.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.len::DOUBLE / st.avgdl))))) AS bm25
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfr ON tf.term = dfr.term
        JOIN qt ON tf.term = qt.term
        CROSS JOIN st
      WHERE tf.doc_id != qt.query_id
      GROUP BY 1, 2),
lex AS (SELECT query_id, nbr_id,
        row_number() OVER (PARTITION BY query_id ORDER BY bm25 DESC, nbr_id ASC) AS rank
      FROM (SELECT query_id, nbr_id, round(bm25 + 5e-11, 4) AS bm25 FROM s)),
q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 8),
sc AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
sem AS (SELECT query_id, nbr_id,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM sc),
u AS (SELECT query_id, nbr_id, 1.0/(60 + rank) AS contrib FROM lex WHERE rank <= 10
      UNION ALL SELECT query_id, nbr_id, 1.0/(60 + rank) FROM sem WHERE rank <= 10),
f AS (SELECT query_id, nbr_id, sum(contrib) AS rrf_score, count(*) AS n_lists FROM u GROUP BY 1, 2),
rk AS (SELECT query_id, nbr_id, n_lists, rrf_score,
        row_number() OVER (PARTITION BY query_id
          ORDER BY round(rrf_score + 5e-11, 4) DESC, nbr_id ASC) AS fused_rank FROM f)
SELECT query_id, nbr_id, n_lists, fused_rank, round(rrf_score + 5e-11, 4) AS rrf_score
FROM rk WHERE fused_rank <= 10""",
    "q271_bm25_truncated" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n, sum(len)::DOUBLE / count(*) AS avgdl FROM dl),
qt AS (SELECT doc_id AS query_id, term FROM tf WHERE doc_id < 8),
pr AS (SELECT doc_id, term, tfc,
        row_number() OVER (PARTITION BY term ORDER BY tfc DESC, doc_id ASC) AS pr FROM tf),
sx AS (SELECT qt.query_id, tf.doc_id AS nbr_id,
        sum(ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
            * ((tf.tfc * (1.2 + 1.0))
               / (tf.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.len::DOUBLE / st.avgdl))))) AS bm25
      FROM tf JOIN dl ON tf.doc_id = dl.doc_id
        JOIN dfr ON tf.term = dfr.term
        JOIN qt ON tf.term = qt.term
        CROSS JOIN st
      WHERE tf.doc_id != qt.query_id
      GROUP BY 1, 2),
rex AS (SELECT query_id, nbr_id,
        row_number() OVER (PARTITION BY query_id ORDER BY round(bm25 + 5e-11, 4) DESC, nbr_id ASC) AS rank
      FROM sx),
sa AS (SELECT qt.query_id, pr.doc_id AS nbr_id,
        sum(ln((st.n - dfr.df + 0.5) / (dfr.df + 0.5) + 1.0)
            * ((pr.tfc * (1.2 + 1.0))
               / (pr.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.len::DOUBLE / st.avgdl))))) AS bm25
      FROM pr JOIN dl ON pr.doc_id = dl.doc_id
        JOIN dfr ON pr.term = dfr.term
        JOIN qt ON pr.term = qt.term
        CROSS JOIN st
      WHERE pr.pr <= 128 AND pr.doc_id != qt.query_id
      GROUP BY 1, 2),
ra AS (SELECT query_id, nbr_id,
        row_number() OVER (PARTITION BY query_id ORDER BY round(bm25 + 5e-11, 4) DESC, nbr_id ASC) AS rank
      FROM sa)
SELECT rex.query_id, count(*)::BIGINT AS n_exact,
  sum(CASE WHEN ra.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_hit,
  round(sum(CASE WHEN ra.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS recall
FROM rex LEFT JOIN ra ON rex.query_id = ra.query_id AND rex.nbr_id = ra.nbr_id AND ra.rank <= 10
WHERE rex.rank <= 10
GROUP BY 1""",
    "q273_bm25_standing" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tf AS (SELECT doc_id, term, count(*) AS tfc FROM toks GROUP BY 1, 2),
dl AS (SELECT doc_id, count(*) AS len FROM toks GROUP BY 1),
dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
st AS (SELECT count(*) AS n, sum(len)::DOUBLE / count(*) AS avgdl FROM dl),
top AS (SELECT term, df FROM (
    SELECT t.term, dfr.df,
      row_number() OVER (ORDER BY dfr.df ASC, t.term ASC) AS r
    FROM (SELECT DISTINCT term FROM tf WHERE doc_id = 3) t
      JOIN dfr ON t.term = dfr.term)
  WHERE r <= 16),
w AS (SELECT term, ln((st.n - df + 0.5) / (df + 0.5) + 1.0) AS idf
      FROM top CROSS JOIN st),
sc AS (SELECT tf.doc_id,
        sum(w.idf * ((tf.tfc * (1.2 + 1.0))
            / (tf.tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (dl.len::DOUBLE / st.avgdl))))) AS sco
      FROM tf JOIN w ON tf.term = w.term
        JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
      WHERE tf.doc_id != 3 GROUP BY 1),
d AS (SELECT doc.doc_id, doc.source, round(coalesce(sc.sco, 0.0) + 5e-11, 4) AS s4
      FROM documents doc LEFT JOIN sc ON doc.doc_id = sc.doc_id
      WHERE doc.doc_id != 3)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN s4 > 4.0 THEN 1 ELSE 0 END)::BIGINT AS n_alerts,
  round(avg(s4) + 5e-11, 4) AS avg_score,
  max(s4) AS max_score,
  1::BIGINT AS n_manifest
FROM d GROUP BY 1""",
    "q275_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, source, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
x AS (SELECT doc_id, source, toks, len(toks) AS ntok,
        unnest(range(1, greatest(len(toks), 0) + 1, 48)) AS s
      FROM t WHERE len(toks) > 0),
c AS (SELECT doc_id, source,
        least(64, ntok - s + 1)::BIGINT AS ct,
        substr(md5(array_to_string(toks[s : s + 63], ' ')), 1, 16) AS fp
      FROM x),
n AS (SELECT fp, count(*) AS c FROM c GROUP BY 1)
SELECT source, count(*)::BIGINT AS n_chunks,
  sum(CASE WHEN ct = 64 THEN 1 ELSE 0 END)::BIGINT AS full_chunks,
  sum(CASE WHEN n.c > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_instances,
  sum(CASE WHEN n.c > 1 THEN ct ELSE 0 END)::BIGINT AS dup_tokens,
  round(sum(CASE WHEN n.c > 1 THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS dup_rate
FROM c JOIN n ON c.fp = n.fp
GROUP BY 1""",
    "q274_chunking" ->
      """WITH t AS (SELECT doc_id, regexp_extract_all(lower(text), '\S+') AS toks FROM documents),
x AS (SELECT doc_id, toks, len(toks) AS ntok,
        unnest(range(1, greatest(len(toks), 0) + 1, 48)) AS s
      FROM t WHERE len(toks) > 0)
SELECT doc_id,
  ((s - 1) // 48)::BIGINT AS chunk_id,
  s::BIGINT AS start,
  least(64, ntok - s + 1)::BIGINT AS chunk_tokens,
  substr(md5(array_to_string(toks[s : s + 63], ' ')), 1, 16) AS chunk_fp
FROM x""",
    "q272_mixture_temperature" ->
      """WITH m AS (SELECT source, sum(len(regexp_extract_all(text, '\S+')))::BIGINT AS n_tokens
  FROM documents GROUP BY 1),
z AS (SELECT sum(pow(n_tokens::DOUBLE, 0.3)) AS z FROM m)
SELECT source, n_tokens,
  round(pow(n_tokens::DOUBLE, 0.3) / z.z + 5e-11, 4) AS p_sample,
  round((10000000 * (pow(n_tokens::DOUBLE, 0.3) / z.z)) / n_tokens + 5e-11, 4) AS epochs
FROM m CROSS JOIN z""",
    "q290_crossmodal_wide" -> {
      // 64-bit fp as in q284 (unsigned fpu drives the hamming xor); the
      // text verdict is the brute-force 64-bit scan — equal to the
      // wide64 banded candidate set at hamming <= 3 by pigeonhole
      val sums = (0 until 64).map { j =>
        val half = if (j >= 32) s"(hi >> ${j - 32})" else s"(lo >> $j)"
        s"sum(CASE WHEN $half & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpuExpr = (0 until 64).map { j =>
        s"CASE WHEN s$j > 0 THEN ${java.lang.Long.toUnsignedString(1L << j)}::UBIGINT ELSE 0::UBIGINT END"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id,
    ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS hi,
    ('0x' || substr(md5(tok), 9, 8))::UBIGINT::BIGINT AS lo
  FROM t),
fp AS MATERIALIZED (SELECT doc_id, ($fpuExpr) AS fpu
  FROM (SELECT doc_id, $sums FROM h GROUP BY doc_id)),
tp AS (SELECT b.doc_id FROM fp a JOIN fp b ON a.doc_id < b.doc_id
  WHERE bit_count(xor(a.fpu, b.fpu)) <= 3 GROUP BY 1),
c0 AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM a1, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
a2 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
p AS (
  SELECT b.vec_id,
    round((SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
      / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(a.embedding) AS x)))
      / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(b.embedding) AS y))) + 5e-11, 4) AS cos
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
d AS (SELECT vec_id FROM p WHERE cos >= 0.30 GROUP BY 1),
sdv AS (SELECT a2.vec_id AS doc_id, (d.vec_id IS NOT NULL) AS sd
  FROM a2 LEFT JOIN d ON a2.vec_id = d.vec_id),
j AS (SELECT doc.doc_id, doc.source,
    (tp.doc_id IS NOT NULL) AS td, sdv.sd
  FROM documents doc LEFT JOIN tp ON doc.doc_id = tp.doc_id
    LEFT JOIN sdv ON doc.doc_id = sdv.doc_id)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN sd IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_paired,
  sum(CASE WHEN sd IS NOT NULL AND td AND sd THEN 1 ELSE 0 END)::BIGINT AS both_dup,
  sum(CASE WHEN sd IS NOT NULL AND td AND NOT sd THEN 1 ELSE 0 END)::BIGINT AS text_only,
  sum(CASE WHEN sd IS NOT NULL AND NOT td AND sd THEN 1 ELSE 0 END)::BIGINT AS sem_only,
  sum(CASE WHEN sd IS NOT NULL AND NOT td AND NOT sd THEN 1 ELSE 0 END)::BIGINT AS neither,
  round(sum(CASE WHEN sd IS NOT NULL AND td = sd THEN 1 ELSE 0 END)::DOUBLE
    / greatest(sum(CASE WHEN sd IS NOT NULL THEN 1 ELSE 0 END), 1) + 5e-11, 4) AS agree_rate
FROM j GROUP BY 1"""
    },
    "q291_fuzzy_wide" -> {
      val sums = (0 until 64).map { j =>
        val half = if (j >= 32) s"(hi >> ${j - 32})" else s"(lo >> $j)"
        s"sum(CASE WHEN $half & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpuExpr = (0 until 64).map { j =>
        s"CASE WHEN s$j > 0 THEN ${java.lang.Long.toUnsignedString(1L << j)}::UBIGINT ELSE 0::UBIGINT END"
      }.mkString(" + ")
      s"""WITH tk AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id,
    ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS hi,
    ('0x' || substr(md5(tok), 9, 8))::UBIGINT::BIGINT AS lo
  FROM tk),
fp AS MATERIALIZED (SELECT doc_id, ($fpuExpr) AS fpu
  FROM (SELECT doc_id, $sums FROM h GROUP BY doc_id)),
b AS (SELECT doc_id, source,
    CASE WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 < 80 THEN 'train'
         WHEN ('0x' || substr(md5('split:' || doc_id), 1, 8))::UBIGINT % 100 < 90 THEN 'valid'
         ELSE 'test' END AS split
  FROM documents),
ev AS MATERIALIZED (SELECT b.doc_id, b.source, b.split, f.fpu
  FROM b LEFT JOIN fp f USING (doc_id) WHERE b.split != 'train'),
tr AS (SELECT f.doc_id, f.fpu FROM fp f JOIN b USING (doc_id)
  WHERE b.split = 'train'),
lk AS (SELECT DISTINCT e.doc_id
  FROM ev e JOIN tr t ON bit_count(xor(e.fpu, t.fpu)) <= 3)
SELECT ev.source, ev.split, count(*)::BIGINT AS n_eval,
  sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_leaked,
  round(sum(CASE WHEN lk.doc_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS leak_rate
FROM ev LEFT JOIN lk ON ev.doc_id = lk.doc_id
GROUP BY 1, 2"""
    },
    "q292_ivf_coarse" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
exs AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
ex AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM exs)
  WHERE rank <= 10),
cent AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
a AS (
  SELECT e.vec_id, e.embedding, c.cid,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) AS d2
  FROM embeddings e CROSS JOIN cent c),
asg AS MATERIALIZED (
  SELECT vec_id, embedding, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d2 ASC, cid ASC) AS rn FROM a)
  WHERE rn = 1),
qd AS (
  SELECT e.vec_id AS query_id, e.embedding AS qe, c.cid,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) AS d2
  FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 10),
pr AS (
  SELECT query_id, qe, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) AS rn FROM qd)
  WHERE rn <= 3),
ss AS (
  SELECT p.query_id, a2.vec_id AS nbr_id,
    (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(p.qe) AS x, unnest(a2.embedding) AS y))
    / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(p.qe) AS x)))
    / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a2.embedding) AS y))) AS cos
  FROM asg a2 JOIN pr p USING (cid) WHERE a2.vec_id != p.query_id),
sr AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM ss)
  WHERE rank <= 10),
c1 AS (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM asg, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
a2t AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
qd2 AS (
  SELECT e.vec_id AS query_id, e.embedding AS qe, c.cid,
    (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) AS d2
  FROM embeddings e CROSS JOIN c1 c WHERE e.vec_id < 10),
pr2 AS (
  SELECT query_id, qe, cid
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY d2 ASC, cid ASC) AS rn FROM qd2)
  WHERE rn <= 3),
ss2 AS (
  SELECT p.query_id, a3.vec_id AS nbr_id,
    (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(p.qe) AS x, unnest(a3.embedding) AS y))
    / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(p.qe) AS x)))
    / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a3.embedding) AS y))) AS cos
  FROM a2t a3 JOIN pr2 p USING (cid) WHERE a3.vec_id != p.query_id),
trn AS MATERIALIZED (SELECT query_id, nbr_id FROM (
    SELECT query_id, nbr_id, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM ss2)
  WHERE rank <= 10)
SELECT ex.query_id, count(*)::BIGINT AS n_exact,
  sum(CASE WHEN sr.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS seed_hits,
  sum(CASE WHEN trn.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS trained_hits,
  round(sum(CASE WHEN sr.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS seed_recall,
  round(sum(CASE WHEN trn.nbr_id IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE / count(*) + 5e-11, 4) AS trained_recall
FROM ex
  LEFT JOIN sr ON ex.query_id = sr.query_id AND ex.nbr_id = sr.nbr_id
  LEFT JOIN trn ON ex.query_id = trn.query_id AND ex.nbr_id = trn.nbr_id
GROUP BY 1""",
    "q293_crossmodal_pairs" -> {
      val sums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val fpExpr = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH t AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM documents),
h AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM t),
fp AS MATERIALIZED (SELECT doc_id, ($fpExpr)::BIGINT AS simhash
  FROM (SELECT doc_id, $sums FROM h GROUP BY doc_id)),
tp0 AS (SELECT b.doc_id, a.doc_id AS aid,
    bit_count(xor(a.simhash, b.simhash)) AS hm
  FROM fp a JOIN fp b ON a.doc_id < b.doc_id),
tm AS (SELECT doc_id, hm AS mh, aid AS mid FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hm, aid) AS rn FROM tp0)
  WHERE rn = 1),
c0 AS (
  SELECT vec_id::INT AS cid, embedding::DOUBLE[] AS ce FROM embeddings ORDER BY vec_id LIMIT 8),
a1 AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c0 c) WHERE rn = 1),
c1 AS (
  SELECT cid, list(v ORDER BY pos) AS ce FROM (
    SELECT cid, pos, round(avg(embedding[pos]::DOUBLE) + 5e-11, 4) AS v
    FROM a1, unnest(range(1, len(embedding) + 1)) AS t(pos)
    GROUP BY cid, pos)
  GROUP BY cid),
a2 AS MATERIALIZED (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        (SELECT sum((x::DOUBLE - y)*(x::DOUBLE - y)) FROM (SELECT unnest(e.embedding) AS x, unnest(c.ce) AS y)) ASC,
        c.cid ASC) AS rn
    FROM embeddings e CROSS JOIN c1 c) WHERE rn = 1),
p AS (
  SELECT b.vec_id, a.vec_id AS prev_id,
    round((SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(a.embedding) AS x, unnest(b.embedding) AS y))
      / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(a.embedding) AS x)))
      / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(b.embedding) AS y))) + 5e-11, 4) AS cos
  FROM a2 a JOIN a2 b ON a.cid = b.cid AND a.vec_id < b.vec_id),
sb AS (SELECT vec_id, cos AS max_prev_cos, prev_id AS sem_match_id FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, prev_id ASC) AS rn
    FROM p WHERE cos >= 0.30)
  WHERE rn = 1),
sdv AS (SELECT a2.vec_id AS doc_id, (sb.vec_id IS NOT NULL) AS sd,
    sb.max_prev_cos, sb.sem_match_id
  FROM a2 LEFT JOIN sb ON a2.vec_id = sb.vec_id),
j AS (SELECT doc.doc_id, doc.source,
    coalesce(tm.mh <= 3, FALSE) AS td, tm.mh, tm.mid,
    s.sd, s.max_prev_cos, s.sem_match_id
  FROM documents doc JOIN sdv s ON doc.doc_id = s.doc_id
    LEFT JOIN tm ON doc.doc_id = tm.doc_id),
dis AS (SELECT doc_id, source,
    CASE WHEN td THEN 'text_only' ELSE 'sem_only' END AS kind,
    (CASE WHEN td THEN mh END)::BIGINT AS text_hamming,
    CASE WHEN td THEN mid END AS text_match_id,
    max_prev_cos, sem_match_id,
    CASE WHEN td THEN mh::DOUBLE ELSE -max_prev_cos END AS strength
  FROM j WHERE td != sd),
rk AS (SELECT *, row_number() OVER (PARTITION BY source, kind ORDER BY strength, doc_id) AS rank FROM dis)
SELECT source, kind, rank, doc_id, text_hamming, text_match_id,
  max_prev_cos, sem_match_id
FROM rk WHERE rank <= 10"""
    },
    "q295_adaptive_stop_gate" ->
      """WITH toks AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\S+')) AS term FROM documents),
tfc AS MATERIALIZED (SELECT doc_id, term, count(*)::BIGINT AS tfc FROM toks GROUP BY 1, 2),
dfr AS (SELECT term, count(*)::BIGINT AS df FROM tfc GROUP BY 1),
st AS (SELECT term FROM (
    SELECT term, row_number() OVER (ORDER BY df DESC, term ASC) AS rank FROM dfr)
  WHERE rank <= 32),
h AS (SELECT tfc.doc_id, sum(tfc.tfc)::BIGINT AS stop_hits
  FROM tfc JOIN st USING (term) GROUP BY 1),
pd AS (SELECT d.doc_id, d.source,
    len(regexp_extract_all(d.text, '\S+'))::BIGINT AS ntok,
    coalesce(h.stop_hits, 0) AS stop_hits
  FROM documents d LEFT JOIN h ON d.doc_id = h.doc_id),
pr AS (SELECT *, round(stop_hits::DOUBLE / greatest(ntok, 1) + 5e-11, 4) AS ar FROM pd)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(CASE WHEN ntok >= 20 AND ar >= 0.05 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
  round(avg(ar) + 5e-11, 4) AS avg_ratio,
  sum(CASE WHEN ntok >= 20 AND ar >= 0.05 THEN ntok ELSE 0 END)::BIGINT AS kept_tokens
FROM pr GROUP BY 1""",
    "q296_media_dedup" ->
      s"""WITH m AS (
  SELECT doc_id, source, md5(text) AS fp,
    octet_length(encode(text))::BIGINT AS n_bytes
  FROM $mirroredDocsSql),
c AS (SELECT fp, min(doc_id) AS canonical_id FROM m GROUP BY 1)
SELECT m.source, count(*)::BIGINT AS n_media,
  sum(CASE WHEN m.doc_id = c.canonical_id THEN 1 ELSE 0 END)::BIGINT AS n_canonical,
  sum(m.n_bytes)::BIGINT AS bytes_total,
  sum(CASE WHEN m.doc_id != c.canonical_id THEN m.n_bytes ELSE 0 END)::BIGINT AS bytes_dup
FROM m JOIN c USING (fp)
GROUP BY 1""",
    "q294_battery_funnel" -> locally {
      // independent replay of EVERY live gate over the marked +
      // PII-planted corpus: lang NB (q276), heuristic (q74), Gopher
      // battery (q247 CTEs re-pointed at mdocs), PII battery (q245
      // constants), logistic quality (q242's unrolled GD), frozen
      // perplexity thresholds (q252), near-dup vs the %10!=0 index
      // (brute-force 32-bit hamming — equal to the banded gate at
      // hamming <= 3 by pigeonhole)
      val B = 16
      val iters = 6
      val idx = 0 until B
      val pfSel = idx.map(i =>
        s"sum(CASE WHEN b = $i THEN 1 ELSE 0 END)::DOUBLE / count(*) AS f$i")
        .mkString(",\n    ")
      val featSel = idx.map(i => s"coalesce(pf.f$i, 0.0) AS x$i").mkString(", ")
      val ndSums = (0 until 32).map { j =>
        s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
      }.mkString(",\n    ")
      val ndFpExpr = (0 until 32).map { j =>
        s"CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END"
      }.mkString(" + ")
      val piiSum = Pii.patterns.map { case (_, p, _) =>
        s"len(regexp_extract_all(text, '$p'))"
      }.mkString(" + ")
      val gopherOnMdocs = gopherCtesSql.replace("FROM documents", "FROM mdocs")
      // the q245 plants minus the %5 phone clause (see the query body)
      val piiPlantSql =
        """text
    || CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id::VARCHAR || '@example.com now' ELSE '' END
    || CASE WHEN doc_id % 7 = 0 THEN ' from 10.' || (doc_id % 256)::VARCHAR || '.' || ((doc_id + 13) % 256)::VARCHAR || '.25 host' ELSE '' END
    || CASE WHEN doc_id % 11 = 0 THEN ' acct ' || lpad((doc_id % 1000000)::VARCHAR, 12, '0') || ' ref' ELSE '' END"""
      s"""WITH mdocs AS MATERIALIZED (SELECT doc_id, source, lang,
    $piiPlantSql || ' ' || lang || ' ' || lang || ' ' || lang AS text
  FROM documents),
lbase AS (SELECT doc_id, lang,
    ('0x' || substr(md5('lid:' || doc_id), 1, 8))::UBIGINT % 5 != 0 AS tr,
    lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t
  FROM mdocs),
ltri AS MATERIALIZED (
  SELECT doc_id, lang, tr,
    ('0x' || substr(md5('lidb:' || substr(t, i, 3)), 1, 8))::UBIGINT % 64 AS b
  FROM lbase, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
lcnt AS MATERIALIZED (SELECT lang, b, count(*) AS c FROM ltri WHERE tr GROUP BY 1, 2),
ltot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS tc FROM lcnt GROUP BY 1),
lpri AS (SELECT lang, count(*) AS n FROM lbase WHERE tr GROUP BY 1),
lnn AS (SELECT CAST(sum(n) AS BIGINT) AS nn FROM lpri),
lmodel AS (SELECT ltot.lang AS cand, ltot.tc, ln(lpri.n::DOUBLE / lnn.nn) AS logprior
  FROM ltot JOIN lpri USING (lang) CROSS JOIN lnn),
lsc AS (SELECT t.doc_id, m.cand, m.logprior,
    sum(ln((coalesce(c.c, 0) + 1)::DOUBLE / (m.tc + 64))) AS ll
  FROM ltri t CROSS JOIN lmodel m
    LEFT JOIN lcnt c ON c.lang = m.cand AND c.b = t.b
  GROUP BY 1, 2, 3),
lp AS MATERIALIZED (SELECT doc_id, cand AS pred FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
      ORDER BY round(logprior + ll + 5e-11, 4) DESC, cand ASC) AS rn FROM lsc)
  WHERE rn = 1),
tok AS (
  SELECT doc_id,
    coalesce(regexp_extract_all(lower(text), '\\S+'), CAST([] AS VARCHAR[])) AS toks
  FROM mdocs),
lab AS (
  SELECT doc_id,
    CASE WHEN len(regexp_extract_all(text, '\\S+')) < 20 THEN 0
         WHEN len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE
              / greatest(len(regexp_extract_all(text, '\\S+')), 1) < 0.05 THEN 0
         ELSE 1 END AS y
  FROM mdocs),
qg1 AS (SELECT doc_id, unnest(toks) AS g FROM tok),
qg2 AS (SELECT doc_id, array_to_string(toks[i:i+1], ' ') AS g
  FROM (SELECT doc_id, toks, unnest(range(1, len(toks))) AS i
        FROM tok WHERE len(toks) >= 2)),
bk AS (SELECT doc_id, ('0x' || substr(md5('hng:' || g), 1, 8))::UBIGINT % $B AS b
  FROM (SELECT * FROM qg1 UNION ALL SELECT * FROM qg2)),
pf AS (SELECT doc_id,
    $pfSel
  FROM bk GROUP BY doc_id),
feats AS MATERIALIZED (
  SELECT l.doc_id, CAST(l.y AS DOUBLE) AS y, $featSel
  FROM lab l LEFT JOIN pf ON l.doc_id = pf.doc_id),
qtr AS (SELECT * FROM feats
  WHERE ('0x' || substr(md5('hq:' || doc_id), 1, 8))::UBIGINT % 5 <> 0),
s AS MATERIALIZED (SELECT ${sqlStats(idx)} FROM qtr),
d AS MATERIALIZED (SELECT ${sqlStd(idx)}, y FROM qtr, s),
${sqlGd("i", "d", idx, iters, "0.5")},
da AS (SELECT t.doc_id, ${sqlStd(idx)} FROM feats t, s),
qsc AS MATERIALIZED (SELECT doc_id,
  ${sqlR4(sqlMargin(s"i$iters", idx, "da"))} AS s
  FROM da, i$iters),
lmb AS (SELECT doc_id, lower(regexp_replace(text, '\\s+', ' ', 'g')) AS t FROM mdocs),
lmx AS (SELECT doc_id, substr(t, i, 3) AS tri
        FROM lmb, unnest(range(1, greatest(length(t) - 1, 1))) AS u(i)),
lmc AS (SELECT tri, count(*) AS c FROM lmx GROUP BY 1),
lmtt AS (SELECT sum(c)::DOUBLE AS tt FROM lmc),
plm AS MATERIALIZED (
  SELECT lmx.doc_id, round(avg(ln(lmc.c::DOUBLE / lmtt.tt)) + 5e-11, 4) AS lm
  FROM lmx JOIN lmc USING (tri) CROSS JOIN lmtt GROUP BY 1),
prk AS (SELECT d.doc_id, d.source, plm.lm,
    row_number() OVER (PARTITION BY d.source
      ORDER BY plm.lm DESC NULLS LAST, d.doc_id) AS rk,
    count(*) OVER (PARTITION BY d.source) AS nsrc
  FROM mdocs d LEFT JOIN plm ON d.doc_id = plm.doc_id),
pth AS (SELECT source, min(lm) AS th FROM prk
  WHERE lm IS NOT NULL AND rk <= ceil(nsrc * 0.7) GROUP BY 1),
$gopherOnMdocs,
gfl AS (SELECT doc_id, ($gopherFlagSql) AS gflag FROM grf),
nt AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '\\S+')) AS tok FROM mdocs),
nh AS (SELECT doc_id, ('0x' || substr(md5(tok), 1, 8))::UBIGINT::BIGINT AS h FROM nt),
nfp AS MATERIALIZED (SELECT doc_id, ($ndFpExpr)::BIGINT AS simhash
  FROM (SELECT doc_id, $ndSums FROM nh GROUP BY doc_id)),
nd AS (SELECT DISTINCT dd.doc_id
  FROM nfp dd JOIN nfp ii
    ON dd.doc_id % 10 = 0 AND ii.doc_id % 10 != 0
    AND bit_count(xor(dd.simhash, ii.simhash)) <= 3),
c4t AS (SELECT doc_id, $c4LinedSql AS t FROM mdocs),
c4k AS (SELECT doc_id, count(*)::BIGINT AS n_kept FROM (
    SELECT doc_id, unnest(regexp_split_to_array(t, '\\r?\\n')) AS ln FROM c4t) x
  WHERE length(ln) > 0 AND regexp_matches(ln, '[.!?"]$$')
    AND len(regexp_extract_all(ln, '\\S+')) >= 5
    AND NOT contains(lower(ln), 'javascript')
  GROUP BY 1),
c4f AS (SELECT c4t.doc_id,
    (coalesce(c4k.n_kept, 0) >= 3
      AND NOT contains(lower(c4t.t), 'lorem ipsum')
      AND NOT contains(c4t.t, '{')
      AND NOT (contains(lower(c4t.t), 'jackpot')
        OR contains(lower(c4t.t), 'casino'))) AS c4
  FROM c4t LEFT JOIN c4k ON c4t.doc_id = c4k.doc_id),
mfp AS (SELECT doc_id, md5($mediaPayloadSql) AS fp FROM mdocs),
mdj AS (SELECT DISTINCT d.doc_id FROM mfp d JOIN mfp i2
  ON d.doc_id % 10 = 0 AND i2.doc_id % 10 != 0 AND d.fp = i2.fp),
hb AS (SELECT doc_id, source,
    len(regexp_extract_all(text, '\\S+'))::BIGINT AS ntok,
    NOT (len(regexp_extract_all(text, '\\S+')) < 20
      OR len(regexp_extract_all(lower(text), '\\b(the|a|an|and|or|of|to|in|is|it)\\b'))::DOUBLE
        / greatest(len(regexp_extract_all(text, '\\S+')), 1) < 0.05) AS h,
    ($piiSum) > 0 AS pii
  FROM mdocs),
fl AS (SELECT hb.doc_id, hb.source, hb.ntok, hb.h, hb.pii,
    coalesce(lp.pred IN ('en', 'de', 'es'), FALSE) AS lang,
    coalesce(gfl.gflag, FALSE) AS gopher,
    (qsc.s > 0) AS quality,
    coalesce(plm2.lm IS NOT NULL AND pth.th IS NOT NULL AND plm2.lm >= pth.th, FALSE) AS perplexity,
    (nd.doc_id IS NOT NULL) AS neardup,
    coalesce(c4f.c4, FALSE) AS c4,
    (mdj.doc_id IS NOT NULL) AS mediadup
  FROM hb
    LEFT JOIN lp ON hb.doc_id = lp.doc_id
    LEFT JOIN gfl ON hb.doc_id = gfl.doc_id
    JOIN qsc ON hb.doc_id = qsc.doc_id
    LEFT JOIN plm plm2 ON hb.doc_id = plm2.doc_id
    LEFT JOIN pth ON hb.source = pth.source
    LEFT JOIN nd ON hb.doc_id = nd.doc_id
    LEFT JOIN c4f ON hb.doc_id = c4f.doc_id
    LEFT JOIN mdj ON hb.doc_id = mdj.doc_id
  WHERE hb.doc_id % 10 = 0),
sv AS (SELECT *, (lang AND h AND NOT gopher AND quality AND perplexity
    AND NOT neardup AND c4 AND NOT mediadup) AS surv FROM fl)
SELECT source, count(*)::BIGINT AS n_docs,
  sum(ntok)::BIGINT AS n_tokens,
  sum(CASE WHEN lang THEN 1 ELSE 0 END)::BIGINT AS lang_kept,
  sum(CASE WHEN h THEN 1 ELSE 0 END)::BIGINT AS heuristic_kept,
  sum(CASE WHEN NOT gopher THEN 1 ELSE 0 END)::BIGINT AS gopher_kept,
  sum(CASE WHEN pii THEN 1 ELSE 0 END)::BIGINT AS pii_docs,
  sum(CASE WHEN quality THEN 1 ELSE 0 END)::BIGINT AS quality_kept,
  sum(CASE WHEN perplexity THEN 1 ELSE 0 END)::BIGINT AS perplexity_kept,
  sum(CASE WHEN neardup THEN 1 ELSE 0 END)::BIGINT AS neardup_docs,
  sum(CASE WHEN c4 THEN 1 ELSE 0 END)::BIGINT AS c4_kept,
  sum(CASE WHEN mediadup THEN 1 ELSE 0 END)::BIGINT AS mediadup_docs,
  sum(CASE WHEN surv THEN 1 ELSE 0 END)::BIGINT AS survivors,
  sum(CASE WHEN surv THEN ntok ELSE 0 END)::BIGINT AS survivor_tokens
FROM sv GROUP BY 1"""
    },
    "q35_ann_cosine" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
s AS (SELECT q.query_id, e.vec_id AS nbr_id,
        (SELECT sum(x::DOUBLE*y::DOUBLE) FROM (SELECT unnest(q.qe) AS x, unnest(e.embedding) AS y))
        / sqrt((SELECT sum(x::DOUBLE*x::DOUBLE) FROM (SELECT unnest(q.qe) AS x)))
        / sqrt((SELECT sum(y::DOUBLE*y::DOUBLE) FROM (SELECT unnest(e.embedding) AS y))) AS cos
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != q.query_id),
r AS (SELECT query_id, nbr_id, cos,
        row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, nbr_id ASC) AS rank FROM s)
SELECT query_id, nbr_id, rank, round(cos+ 5e-11, 4) AS cos FROM r WHERE rank <= 10""")
}
