package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a large-scale training-data pipeline:
  * token counting, quality scoring, language ID, fingerprinting.
  * Everything is closed-form `Column` expressions (regex + arithmetic) so
  * the whole family stays inside whole-stage codegen — a narrow map over
  * the corpus, embarrassingly parallel at 100 TB.
  *
  * Regex semantics are deliberately restricted to constructs with
  * identical behavior in Java regex (Spark) and RE2 (DuckDB oracle):
  * ASCII classes, disjoint alternations, \b on ASCII.
  */
object TextOps {

  /** Whitespace-normalized lowercase form used for fingerprinting. */
  def normalized(text: Column): Column =
    trim(regexp_replace(lower(text), "\\s+", " "))

  /** 16-hex-char (64-bit) content fingerprint of the normalized text. */
  def fingerprint(text: Column): Column =
    substring(md5(normalized(text)), 1, 16)

  def nTokens(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("long")

  /** BPE-ish subword-count estimate: alpha runs, digit runs, and isolated
    * symbols — the shape of a byte-pair pre-tokenizer.
    */
  def nBpeishTokens(text: Column): Column =
    regexp_count(lower(text), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")).cast("long")

  private def countMatches(text: Column, klass: String): Column =
    (length(text) - length(regexp_replace(text, klass, ""))).cast("double")

  def punctRatio(text: Column): Column =
    countMatches(text, "[.,;:!?]") / length(text)

  def digitRatio(text: Column): Column =
    countMatches(text, "[0-9]") / length(text)

  val stopwordPattern = "\\b(the|a|an|and|or|of|to|in|is|it)\\b"

  def stopwordRatio(text: Column): Column =
    regexp_count(lower(text), lit(stopwordPattern)).cast("double") /
      greatest(nTokens(text), lit(1L))

  def avgTokenLen(text: Column): Column =
    length(regexp_replace(text, "\\s", "")).cast("double") /
      greatest(nTokens(text), lit(1L))

  /** Composite quality heuristic in [0,1]: length, punctuation sanity,
    * stopword density (natural-language-ness), token shape. The exact
    * blend is this engine's own definition (the reference has no text
    * pipeline); it is deterministic and oracle-encoded.
    */
  def qualityScore(text: Column): Column =
    lit(0.25) * least(nTokens(text) / lit(50.0), lit(1.0)) +
      lit(0.25) * (lit(1.0) - least(punctRatio(text) * 10.0, lit(1.0))) +
      lit(0.25) * least(stopwordRatio(text) * 10.0, lit(1.0)) +
      lit(0.25) * least(avgTokenLen(text) / lit(5.0), lit(1.0))

  /** Top-k terms per document by TF-IDF (smooth idf, sklearn convention:
    * tf/len · (ln((1+N)/(1+df)) + 1)). Two groupBys + a join against the
    * document-frequency table; ties broken by term. Scale note: df is a
    * term-keyed aggregation — skew-safe; the per-doc top-k is one window
    * over the doc key.
    *
    * The df join picks its strategy from the MEASURED vocabulary size: a
    * word vocabulary (≤ `maxBroadcastVocab` terms) broadcasts — one
    * shuffle saved on the big tf side; an n-gram/shingle vocabulary can
    * reach billions of terms, where a forced broadcast is a guaranteed
    * OOM, so it falls back to a plain term-keyed shuffle join. The df
    * table is checkpointed so the sizing count and the join share one
    * aggregation.
    */
  def tfidfTopK(docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
                k: Int, maxBroadcastVocab: Long = 5000000L): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(id.as("doc_id"),
      explode(regexp_extract_all(lower(text), lit("\\S+"), lit(0))).as("term"))
    val tf = toks.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tfc"))
    val docLen = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      .localCheckpoint()
    val dfSide = if (df.count() <= maxBroadcastVocab) broadcast(df) else df
    val n = docs.select(id).agg(count(lit(1)).as("n"))
    val scored = tf.join(docLen, "doc_id").join(dfSide, "term").crossJoin(broadcast(n))
      .select(col("doc_id"), col("term"),
        (col("tfc").cast("double") / col("len") *
          (log((lit(1L) + col("n")).cast("double") / (lit(1L) + col("df"))) + 1.0)).as("tfidf"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long")).where(col("rank") <= k)
  }

  /** Winnowing document fingerprints (Schleimer/Wilkerson/Aiken's MOSS
    * scheme): hash every character `k`-gram of the normalized text, slide
    * a window of `w` consecutive hashes, keep each window's minimum; the
    * distinct kept hashes are the document's fingerprint set. Guarantees
    * any shared substring of length >= w + k - 1 contributes a shared
    * fingerprint, at ~2/(w+1) the density of full k-gram hashing.
    *
    * Plan shape: winnowing is per-document local, so the whole operator is
    * a NARROW map — the native [[graft.functions.WinnowFingerprints]]
    * kernel (one JVM call per doc: k-gram md5s + monotonic-deque sliding
    * min, O(n) amortized) followed by one explode. Zero exchanges at any
    * scale: the doc is the parallel unit, no shuffle, no window sort.
    *
    * Docs whose normalized form has fewer than w + k - 1 chars have no
    * complete window and contribute no fingerprints (same in the oracle).
    */
  def winnowFingerprints(docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
                         k: Int, w: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val fps = ColumnBridge.column(graft.functions.WinnowFingerprints(
      ColumnBridge.expression(normalized(text)), k, w))
    docs.select(id.as("doc_id"), explode(fps).as("fp"))
  }

  /** Sampled Rabin rolling-hash fingerprints over the normalized text
    * (every `stride`-th k-gram position). Like winnowing this is a NARROW
    * per-document map, but the hash itself is O(1) per position (rolling
    * update) instead of O(k) — the fingerprint inner loop for a 100 TB
    * corpus. Emits (doc_id, pos, hash); the oracle recomputes each value
    * with the naive k-term polynomial.
    */
  def rollingFingerprints(docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
                          k: Int, stride: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val hs = ColumnBridge.column(graft.functions.RollingHashes(
      ColumnBridge.expression(normalized(text)), k, stride))
    docs.select(id.as("doc_id"), posexplode(hs).as(Seq("sample", "hash")))
      .select(col("doc_id"), (col("sample").cast("long") * stride).as("pos"), col("hash"))
  }

  /** Marker-word language scores. Deterministic preference order on ties:
    * en > de > fr > es > zh.
    */
  val langMarkers: Seq[(String, String)] = Seq(
    "en" -> "\\b(the|and|of|to|is|was|that)\\b",
    "de" -> "\\b(der|die|das|und|ist|nicht|ein)\\b",
    "fr" -> "\\b(le|la|les|et|est|pas|une)\\b",
    "es" -> "\\b(el|los|las|y|es|una|por)\\b",
    "zh" -> "[\\x{4e00}-\\x{9fff}]")

  def langScores(text: Column): Seq[(String, Column)] =
    langMarkers.map { case (l, pat) => l -> regexp_count(lower(text), lit(pat)).cast("long") }

  /** Highest-scoring language with the fixed preference order. */
  def predictedLang(text: Column): Column = {
    val scores = langScores(text)
    scores.tail.foldLeft((scores.head._2, lit(scores.head._1))) {
      case ((bestScore, bestLang), (l, s)) =>
        (greatest(bestScore, s), when(s > bestScore, l).otherwise(bestLang))
    }._2
  }

  /** PMI collocations: adjacent-token pairs scored by pointwise mutual
    * information — ln( p(ab) / (p(a)·p(b)) ) with bigram probability over
    * total bigrams and unigram probabilities over total tokens. The
    * phrase-mining pass ("new york"-style units) a text pipeline runs
    * before vocabulary building; `minCount` filters the unstable
    * low-support tail FIRST, so the expensive unigram joins only touch
    * surviving pairs. All counts are exact integers; only the final log
    * is float.
    */
  def collocations(docs: org.apache.spark.sql.DataFrame, text: Column,
      minCount: Long): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(
      regexp_extract_all(lower(text), lit("\\S+"), lit(0)).as("toks"))
    val bi = toks.select(explode(when(size(col("toks")) >= 2,
        expr("transform(sequence(0, size(toks) - 2), i -> struct(toks[i] AS a, toks[i + 1] AS b))"))
      .otherwise(expr("array()").cast("array<struct<a:string,b:string>>"))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val bc = bi.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val uni = toks.select(explode(col("toks")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val nu = uni.agg(sum(col("c")).cast("double").as("nu"))
    val nb = bc.agg(sum(col("cab")).cast("double").as("nb"))
    bc.where(col("cab") >= minCount)
      .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(nu)).crossJoin(broadcast(nb))
      .select(col("a"), col("b"), col("cab"),
        log((col("cab") / col("nb")) /
          ((col("ca") / col("nu")) * (col("cb") / col("nu")))).as("pmi"))
  }

  /** Gopher-style within-document repetition signals (the training-data
    * quality screen family of `advanced_features.py`-grade feature math
    * applied to text): per document, the duplicate-word fraction and the
    * character mass captured by the heaviest unigram / adjacent bigram.
    * Because the corpus has no line structure, all three are defined on
    * word n-grams:
    *   - dup_word_frac        = (n_words - n_distinct_words) / n_words
    *   - top_unigram_char_frac = max over word types of count*len(word),
    *                             divided by total word characters
    *   - top_bigram_char_frac  = same over adjacent bigrams (separator
    *                             excluded from the char mass)
    * The char-mass max is deterministic under count ties (no "pick the
    * most frequent gram" tie-break needed). Shape: explode -> two-level
    * aggregation, both keyed by doc_id — the second agg reuses the
    * first's hash partitioning, so the family costs one shuffle per
    * n-gram order regardless of corpus size. Docs with no tokens emit
    * no row.
    */
  def repetitionStats(docs: DataFrame, id: Column, text: Column): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // one-pass kernel (indices: 0 n_tokens, 1 word_chars, 2 top2,
    // 6 n_distinct, 7 top1) — scan+filter+project, no explode/shuffle;
    // [[repetitionStatsComposable]] is the pinned explode twin. The
    // where() preserves the composable contract: token-less docs emit
    // no row (and guards the ANSI divisions).
    val g = ColumnBridge.column(
      graft.functions.GopherStats(ColumnBridge.expression(text)))
    docs.select(id.as("doc_id"), g.as("__g"))
      .where(col("__g").getItem(0) > 0)
      .select(col("doc_id"),
        col("__g").getItem(0).as("n_words"),
        col("__g").getItem(6).as("n_distinct_words"),
        ((col("__g").getItem(0) - col("__g").getItem(6)).cast("double") /
          col("__g").getItem(0)).as("dup_word_frac"),
        (col("__g").getItem(7).cast("double") / col("__g").getItem(1))
          .as("top_unigram_char_frac"),
        (col("__g").getItem(2).cast("double") / col("__g").getItem(1))
          .as("top_bigram_char_frac"))
  }

  /** Explode-based twin of [[repetitionStats]] — kept as the
    * property-test cross-check of the one-pass kernel.
    */
  def repetitionStatsComposable(docs: DataFrame, id: Column,
      text: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"),
      regexp_extract_all(lower(text), lit("\\S+"), lit(0)).as("toks"))
    val uni = base.select(col("doc_id"), explode(col("toks")).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        sum(col("c")).cast("long").as("n_words"),
        count(lit(1)).as("n_distinct_words"),
        sum(col("c") * length(col("w"))).cast("long").as("word_chars"),
        max(col("c") * length(col("w"))).as("top_uni_chars"))
    val bi = base.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(
        expr("transform(sequence(1, size(toks) - 1), i -> concat(toks[i - 1], ' ', toks[i]))")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(
        max(col("c") * (length(col("g")) - 1)).as("top_bi_chars"))
    uni.join(bi, Seq("doc_id"), "left").select(
      col("doc_id"), col("n_words"), col("n_distinct_words"),
      ((col("n_words") - col("n_distinct_words")).cast("double") / col("n_words"))
        .as("dup_word_frac"),
      (col("top_uni_chars").cast("double") / col("word_chars"))
        .as("top_unigram_char_frac"),
      coalesce(col("top_bi_chars").cast("double") / col("word_chars"), lit(0.0))
        .as("top_bigram_char_frac"))
  }

  /** The full Gopher repetition battery (Rae et al. 2021, table A1) on
    * word n-grams: per document, the character mass of the heaviest
    * 2/3/4-gram and the fraction of tokens covered by duplicated
    * 5-grams (exact interval union, the within-doc twin of the q240
    * cross-corpus span report). `gopher_flag` applies the paper's
    * published cut-offs — top-2-gram > 0.20, top-3 > 0.18, top-4 > 0.16,
    * dup-5-gram coverage > 0.15 — on the ROUNDED fractions so the flag
    * is engine-identical at the threshold boundary. (The paper's
    * duplicate-LINE rules live in [[gopherLineStats]];
    * [[repetitionStats]] carries the unigram/dup-word siblings.)
    *
    * Scale shape: ONE narrow projection — the whole battery reduces to
    * six exact integers per row, computed in one pass by the
    * [[graft.functions.GopherStats]] codegen kernel (no explode, no
    * (doc, gram) shuffle, no positional window), then the shared
    * rounded-fraction column math. [[gopherRepetitionComposable]] is
    * the explode-based twin the property test pins it against — same
    * integers, same fractions, bit-for-bit. Being a projection also
    * makes the gate directly servable on a document STREAM.
    */
  def gopherRepetition(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id") +: gopherCols(text): _*)

  /** The [[gopherRepetition]] battery as bare projection columns — the
    * stream-side form.
    */
  def gopherCols(text: Column): Seq[Column] = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val g = ColumnBridge.column(
      graft.functions.GopherStats(ColumnBridge.expression(text)))
    // when(denom > 0, ...) nulls a zero denominator instead of tripping
    // ANSI divide-by-zero (the explode form never divided there — its
    // mass was already NULL on gram-less docs)
    def frac(mass: Column, denom: Column): Column =
      graft.queries.r6(coalesce(
        mass.cast("double") / when(denom > 0, denom), lit(0.0)))
    val f2 = frac(g.getItem(2), g.getItem(1))
    val f3 = frac(g.getItem(3), g.getItem(1))
    val f4 = frac(g.getItem(4), g.getItem(1))
    val f5 = frac(g.getItem(5), g.getItem(0))
    Seq(coalesce(g.getItem(0), lit(0L)).as("n_tokens"),
      f2.as("top2_char_frac"), f3.as("top3_char_frac"),
      f4.as("top4_char_frac"), f5.as("dup5_token_frac"),
      (f2 > 0.20 || f3 > 0.18 || f4 > 0.16 || f5 > 0.15).as("gopher_flag"))
  }

  /** Explode-based twin of [[gopherRepetition]] — same battery via a
    * tagged explode + (doc, gram) aggregation + positional union
    * window, all doc-keyed; kept as the property-test cross-check of
    * the one-pass kernel (the [[trigramDiversityComposable]] pattern).
    */
  def gopherRepetitionComposable(docs: DataFrame, id: Column,
      text: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = 5
    val toks = coalesce(regexp_extract_all(lower(text), lit("\\S+"), lit(0)),
      array().cast("array<string>"))
    val base = docs.select(id.as("doc_id"), toks.as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        length(array_join(col("toks"), "")).cast("long").as("word_chars"))
    // n=2..4 grams in ONE explode, tagged "n:" so a single (doc, gram)
    // aggregation serves all three orders
    def grams(n: Int) = when(size(col("toks")) >= n,
        transform(sequence(lit(1), size(col("toks")) - (n - 1)),
          i => concat(lit(s"$n:"), array_join(slice(col("toks"), i, lit(n)), " "))))
      .otherwise(array().cast("array<string>"))
    val top = base
      .select(col("doc_id"), explode(concat(grams(2), grams(3), grams(4))).as("tg"))
      .groupBy(col("doc_id"), col("tg")).agg(count(lit(1)).as("c"))
      .select(col("doc_id"), substring(col("tg"), 1, 1).cast("int").as("n"),
        col("c"), (length(col("tg")) - 2).as("glen"))
      // token chars of the gram = tagged length minus "n:" minus n-1 spaces
      .select(col("doc_id"), col("n"),
        (col("c") * (col("glen") - (col("n") - 1))).as("mass"))
      .groupBy(col("doc_id")).agg(
        max(when(col("n") === 2, col("mass"))).as("top2_chars"),
        max(when(col("n") === 3, col("mass"))).as("top3_chars"),
        max(when(col("n") === 4, col("mass"))).as("top4_chars"))
    // duplicated positional 5-grams -> exact token interval union
    val spans = base.where(size(col("toks")) >= k)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(1), size(col("toks")) - (k - 1)),
          i => array_join(slice(col("toks"), i, lit(k)), " "))))
      .toDF("doc_id", "pos", "span")
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("span"))
    val dup = spans
      .withColumn("__c", count(lit(1)).over(
        Window.partitionBy(col("doc_id"), col("span"))))
      .where(col("__c") > 1)
    val wcv = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val contrib = greatest(lit(0L), (col("pos") + lit(k.toLong)) -
      greatest(col("pos"), coalesce(max(col("pos") + lit(k.toLong)).over(wcv), lit(0L))))
    val cov = dup.select(col("doc_id"), contrib.as("__cv"))
      .groupBy(col("doc_id")).agg(sum(col("__cv")).as("dup5_tokens"))
    def frac(mass: Column, denom: Column): Column =
      graft.queries.r6(coalesce(mass.cast("double") / denom, lit(0.0)))
    val out = base.drop("toks")
      .join(top, Seq("doc_id"), "left").join(cov, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        frac(col("top2_chars"), col("word_chars")).as("top2_char_frac"),
        frac(col("top3_chars"), col("word_chars")).as("top3_char_frac"),
        frac(col("top4_chars"), col("word_chars")).as("top4_char_frac"),
        frac(col("dup5_tokens"), col("n_tokens")).as("dup5_token_frac"))
    out.withColumn("gopher_flag",
      col("top2_char_frac") > 0.20 || col("top3_char_frac") > 0.18 ||
        col("top4_char_frac") > 0.16 || col("dup5_token_frac") > 0.15)
  }

  /** CROSS-document line dedup report — the corpus-level sibling of the
    * within-doc [[gopherLineStats]] and the line-granular member of the
    * dedup family (the CCNet/RefinedWeb stage that strips navigation
    * chrome, cookie banners, and license footers BEFORE document-level
    * dedup ever sees them): a line is SHARED when it appears in at
    * least `minDocs` distinct documents; per document the report gives
    * its line count, how many of its line instances sit on shared
    * lines, the character mass they carry, and a boilerplate flag at
    * `flagFrac` of the ROUNDED shared-char fraction. Empty lines are
    * excluded (the [[gopherLineStats]] convention).
    *
    * Scale shape: one line explode, ONE corpus-wide line-keyed count
    * (the only big exchange — hash-keyed, never all-pairs), an
    * equi-join back on the line, and a doc-keyed reduce — the q240
    * duplicate-span shape at line granularity.
    */
  def crossDocLineReport(docs: DataFrame, id: Column, text: Column,
      minDocs: Int = 2, flagFrac: Double = 0.30): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("text"))
    val lines = base.select(col("doc_id"),
        explode(split(coalesce(col("text"), lit("")), "\n")).as("line"))
      .where(length(col("line")) > 0)
    val byLine = lines.groupBy(col("line"))
      .agg(countDistinct(col("doc_id")).as("ndocs"))
    val shared = col("ndocs") >= minDocs
    val per = lines.join(byLine, "line")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(when(shared, 1L).otherwise(0L)).as("n_shared_lines"),
        sum(length(col("line")).cast("long")).as("line_chars"),
        sum(when(shared, length(col("line")).cast("long")).otherwise(0L))
          .as("shared_chars"))
    val frac = when(col("line_chars") > 0, graft.queries.r6(
      col("shared_chars").cast("double") / col("line_chars")))
    base.select(col("doc_id")).join(per, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_lines"), lit(0L)).as("n_lines"),
        coalesce(col("n_shared_lines"), lit(0L)).as("n_shared_lines"),
        frac.as("shared_char_frac"),
        coalesce(frac >= flagFrac, lit(false)).as("boilerplate_flag"))
  }

  /** The Gopher duplicate-LINE rules (Rae et al. 2021, table A1 — the
    * line-level half [[gopherRepetition]] skips on line-less corpora):
    * per document, the fraction of line instances that are repeats of
    * an earlier identical line and the fraction of line characters
    * those repeats carry, with the paper's cut-offs (duplicate-line
    * fraction > 0.30, duplicate-line character fraction > 0.20) on the
    * ROUNDED fractions. Lines are newline-separated; empty lines are
    * excluded (they are formatting, not content — the C4/Gopher
    * preprocessing convention). A repeat convention: a distinct line
    * with `c` occurrences of length `L` contributes `c-1` duplicate
    * instances and `(c-1)·L` duplicate characters.
    *
    * Scale shape: a PURE per-row projection — the c−1 convention makes
    * both numerators set differences (`dup instances = #lines −
    * #distinct lines`; `dup chars = Σ line chars − Σ distinct-line
    * chars`), so the whole battery is array arithmetic on the split
    * text: no explode, no shuffle, no state. That also makes the gate
    * directly servable on a document STREAM, like the PII scrub and
    * the hashed-quality scorer.
    */
  def gopherLineStats(docs: DataFrame, id: Column, text: Column): DataFrame =
    docs.select(id.as("doc_id") +: lineStatsCols(text): _*)

  /** The [[gopherLineStats]] battery as bare projection columns
    * (n_lines, dup_line_frac, dup_line_char_frac, line_flag) — the
    * stream-side form.
    */
  def lineStatsCols(text: Column): Seq[Column] = {
    val ls = filter(split(coalesce(text, lit("")), "\n"),
      l => length(l) > 0)
    def chars(a: Column): Column =
      aggregate(a, lit(0L), (acc, l) => acc + length(l).cast("long"))
    val n = size(ls).cast("long")
    val dupN = (size(ls) - size(array_distinct(ls))).cast("long")
    val allChars = chars(ls)
    val dupChars = allChars - chars(array_distinct(ls))
    def frac(num: Column, den: Column): Column =
      graft.queries.r6(coalesce(num.cast("double") /
        when(den > 0, den), lit(0.0)))
    val df = frac(dupN, n)
    val dcf = frac(dupChars, allChars)
    Seq(n.as("n_lines"), df.as("dup_line_frac"),
      dcf.as("dup_line_char_frac"),
      (df > 0.30 || dcf > 0.20).as("line_flag"))
  }

  /** The Gopher QUALITY rules (Rae et al. 2021, table A1 — the
    * non-repetition half; [[gopherRepetition]]/[[gopherLineStats]] carry
    * the repetition rules): a document survives iff
    *
    *   - word count in [50, 100 000] and mean word length in [3, 10],
    *   - symbol-to-word ratio ≤ 0.1 for both `#` and ellipsis
    *     (`...` counted non-overlapping leftmost, plus `…`),
    *   - ≤ 90% of lines start with a bullet (`- `, `* `, `•`) and
    *     ≤ 30% end with an ellipsis,
    *   - ≥ 80% of words contain an alphabetic character,
    *   - at least 2 DISTINCT members of the paper's stop-word set
    *     {the, be, to, of, and, that, have, with} appear as exact
    *     lowercase whitespace tokens.
    *
    * All fractions round through the engine quantum before the
    * threshold compare so the flag is engine-identical at the boundary.
    * Scale shape: a PURE per-row projection (split + filter + aggregate
    * over one row's arrays — no explode, no shuffle), so the battery is
    * directly servable on a document stream like the repetition kernel.
    * Lines split on `\r?\n` (the C4 CRLF convention).
    */
  def gopherQuality(docs: org.apache.spark.sql.DataFrame, id: Column,
      text: Column): org.apache.spark.sql.DataFrame =
    docs.select(id.as("doc_id") +: gopherQualityCols(text): _*)

  /** [[gopherQuality]] as bare projection columns — the stream-side form. */
  def gopherQualityCols(text: Column): Seq[Column] = {
    val t = coalesce(text, lit(""))
    val toks = regexp_extract_all(lower(t), lit("\\S+"), lit(0))
    val nWords = size(toks).cast("long")
    val wordChars = length(array_join(toks, "")).cast("long")
    def frac(num: Column, den: Column): Column =
      graft.queries.r6(coalesce(num.cast("double") /
        when(den > 0, den), lit(0.0)))
    val meanLen = frac(wordChars, nWords)
    // single-char symbol counts via translate (length delta); the
    // three-char ellipsis via regexp_replace — leftmost non-overlapping,
    // the same count SQL replace() produces
    val nHash = (length(t) - length(translate(t, "#", ""))).cast("long")
    val nEll = ((length(t) - length(regexp_replace(t, "\\.\\.\\.", ""))) / 3 +
      (length(t) - length(translate(t, "…", "")))).cast("long")
    val hashRatio = frac(nHash, nWords)
    val ellRatio = frac(nEll, nWords)
    val ls = filter(split(t, "\r?\n"), l => length(l) > 0)
    val nLines = size(ls).cast("long")
    val bullet = (l: Column) => {
      val lt = ltrim(l)
      lt.startsWith("- ") || lt.startsWith("* ") || lt.startsWith("•")
    }
    val endsEll = (l: Column) => l.endsWith("...") || l.endsWith("…")
    val bulletFrac = frac(size(filter(ls, bullet)).cast("long"), nLines)
    val ellLineFrac = frac(size(filter(ls, endsEll)).cast("long"), nLines)
    val alphaFrac = frac(
      size(filter(toks, w => w.rlike("[a-z]"))).cast("long"), nWords)
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val nStop = stops.map(s =>
      when(array_contains(toks, s), 1L).otherwise(0L)).reduce(_ + _)
    Seq(
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      hashRatio.as("hash_ratio"),
      ellRatio.as("ellipsis_ratio"),
      bulletFrac.as("bullet_line_frac"),
      ellLineFrac.as("ellipsis_line_frac"),
      alphaFrac.as("alpha_word_frac"),
      nStop.as("n_stopwords"),
      (nWords < 50 || nWords > 100000 ||
        meanLen < 3.0 || meanLen > 10.0 ||
        hashRatio > 0.1 || ellRatio > 0.1 ||
        bulletFrac > 0.9 || ellLineFrac > 0.3 ||
        alphaFrac < 0.8 || nStop < 2).as("gopher_quality_flag"))
  }

  /** Corpus-trigram language-model score: the mean log-probability of a
    * document's character trigrams under the corpus trigram distribution
    * — the SQL-exact miniature of the perplexity filter LLM pipelines
    * run against a reference LM (docs whose trigrams are corpus-typical
    * score high; alien/garbled text scores low). One explode + one
    * count aggregation + one join back on the trigram key; the count
    * table is dictionary-sized, so AQE broadcasts it at test SF while
    * the same plan shuffle-joins at corpus scale. Docs with fewer than
    * 3 chars emit no row.
    */
  def trigramLmScore(docs: org.apache.spark.sql.DataFrame, id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val tris = docs
      .select(id.as("doc_id"), lower(regexp_replace(text, "\\s+", " ")).as("t"))
      .select(col("doc_id"), explode(when(length(col("t")) >= 3,
          expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
        .otherwise(array().cast("array<string>"))).as("tri"))
    val counts = tris.groupBy(col("tri")).agg(count(lit(1)).as("c"))
    val total = counts.agg(sum(col("c")).cast("double").as("tt"))
    tris.join(counts, "tri").crossJoin(broadcast(total))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_trigrams"),
        avg(log(col("c").cast("double") / col("tt"))).as("lm_score"))
  }

  /** Character-trigram diversity: distinct trigrams / total trigrams of
    * the lowercased, whitespace-collapsed text. A cheap compressibility
    * proxy — boilerplate and template-generated text repeat trigrams and
    * score low, organic prose scores high; the standard repetition
    * filter a corpus pipeline runs before tokenization. Docs shorter
    * than 3 chars get 0 trigrams and a NULL ratio.
    *
    * Uses the one-pass [[graft.functions.TrigramStats]] kernel — a
    * narrow codegen'd projection (21 s -> 0.4 s at 10x-soak corpus size
    * vs the composable transform+array_distinct form, whose interpreted
    * lambdas allocate a String per trigram).
    * [[trigramDiversityComposable]] is the property-test twin.
    */
  def trigramDiversity(docs: org.apache.spark.sql.DataFrame, id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // coalesce matches the composable form, where a NULL text falls into
    // the otherwise(empty-array) branch and yields (0, 0, null)
    val packed = coalesce(ColumnBridge.column(
      graft.functions.TrigramStats(ColumnBridge.expression(text))), lit(0L))
    docs.select(id.as("doc_id"), packed.as("p"))
      .select(col("doc_id"),
        shiftright(col("p"), 32).cast("int").as("n_trigrams"),
        col("p").bitwiseAND(lit(0xffffffffL)).cast("int").as("n_distinct"))
      .withColumn("diversity", when(col("n_trigrams") > 0,
        col("n_distinct").cast("double") / col("n_trigrams")))
  }

  /** fastText-style hashed n-gram features: per doc, the frequency of
    * lowercase token unigrams + bigrams hashed into `buckets` md5
    * buckets — the vocabulary-free bag-of-n-grams representation the
    * model-based quality filters of the curation literature train on
    * (RefinedWeb-style "train a cheap linear classifier on weak
    * labels"). Output: doc_id, f0..f{B-1} (each = bucket count /
    * total n-grams; a doc with no tokens is all-zero).
    *
    * Scale shape: one NARROW projection — grams, hashes, and the B
    * frequencies are all per-row array arithmetic (no explode, no
    * shuffle, no vocabulary state), so the featurizer runs at input
    * bandwidth on any corpus size. The md5 bucket is engine-portable:
    * `('0x'||substr(md5('hng:'||g),1,8))::UBIGINT % B` in ANSI SQL.
    */
  def hashedNgramFeatures(docs: DataFrame, id: Column, text: Column,
      buckets: Int): DataFrame =
    hashedNgramFeatures(docs, id, text, buckets, Nil)

  /** As above, with `keep` columns of `docs` carried through unchanged —
    * the serving paths use it to keep source/flag columns next to the
    * bucket frequencies without a post-featurization join (a
    * stream-stream join is exactly what a stateless scorer must avoid).
    */
  def hashedNgramFeatures(docs: DataFrame, id: Column, text: Column,
      buckets: Int, keep: Seq[String]): DataFrame = {
    require(buckets >= 2 && buckets <= 1024,
      s"hashedNgramFeatures: buckets must be in [2,1024], got $buckets")
    // keep columns share the projection with the generated names — a
    // collision would yield a silent duplicate/ambiguous column
    val reserved = Set("doc_id", "toks", "grams", "hs", "ng") ++
      (0 until buckets).map(b => s"f$b")
    val clash = keep.filter(reserved.contains)
    require(clash.isEmpty,
      s"hashedNgramFeatures: keep columns $clash collide with the " +
        s"generated doc_id/toks/grams/hs/ng/f0..f${buckets - 1} names")
    val toks = coalesce(regexp_extract_all(lower(text), lit("\\S+"), lit(0)),
      array().cast("array<string>"))
    val base = docs.select(id.as("doc_id") +: keep.map(col) :+
      toks.as("toks"): _*)
    val bigrams = when(size(col("toks")) >= 2,
        transform(sequence(lit(1), size(col("toks")) - 1),
          i => array_join(slice(col("toks"), i, lit(2)), " ")))
      .otherwise(array().cast("array<string>"))
    val withH = base
      .withColumn("grams", concat(col("toks"), bigrams))
      .withColumn("hs", transform(col("grams"), g =>
        conv(substring(md5(concat(lit("hng:"), g)), 1, 8), 16, 10)
          .cast("long") % buckets))
      .withColumn("ng", size(col("grams")))
    val fcols = (0 until buckets).map(b =>
      when(col("ng") > 0,
        size(filter(col("hs"), h => h === b)).cast("double") / col("ng"))
        .otherwise(lit(0.0)).as(s"f$b"))
    withH.select(col("doc_id") +: keep.map(col) ++: fcols: _*)
  }

  /** RAG-style chunk table: fixed `w`-token windows at `stride`, each
    * fingerprinted (first 16 md5 hex chars of the space-joined window) —
    * the table an embedding/retrieval pipeline indexes. Pure per-doc
    * array arithmetic + ONE explode whose output IS the product; no
    * shuffle, the chunker is a map at any scale (and therefore serves
    * on a stream as a stateless flatMap — `DocQuality.chunkedDocs`).
    * `keep` carries extra columns (e.g. source) through the explode.
    */
  def chunks(docs: org.apache.spark.sql.DataFrame, id: Column, text: Column,
      w: Int = 64, stride: Int = 48,
      keep: Seq[String] = Nil,
      emitText: Boolean = false): org.apache.spark.sql.DataFrame = {
    require(w > 0 && stride > 0, s"chunks: w=$w, stride=$stride must be positive")
    // stride > w would silently skip tokens between windows while the
    // docstring (and the PropertySpec stride law) promise full coverage —
    // a misconfigured chunker must fail loudly, not drop training tokens
    require(stride <= w,
      s"chunks: stride=$stride > w=$w leaves token-coverage gaps between windows")
    val toks = regexp_extract_all(lower(coalesce(text, lit(""))),
      lit("\\S+"), lit(0))
    docs.select(id.as("doc_id") +: keep.map(col) ++:
        Seq(toks.as("toks"), size(toks).as("ntok")): _*)
      .select(col("doc_id") +: keep.map(col) ++: Seq(col("toks"), col("ntok"),
        explode(when(col("ntok") > 0,
          sequence(lit(1), col("ntok"), lit(stride)))
          .otherwise(array().cast("array<int>"))).as("start")): _*)
      .select(col("doc_id") +: keep.map(col) ++: (Seq(
        ((col("start") - 1) / stride).cast("long").as("chunk_id"),
        col("start").cast("long").as("start"),
        least(lit(w), col("ntok") - col("start") + 1).cast("long").as("chunk_tokens"),
        substring(md5(concat_ws(" ",
          slice(col("toks"), col("start"), lit(w)))), 1, 16).as("chunk_fp")) ++
        // opt-in: the chunk's space-joined token text — the retrieval/
        // embedding input (off by default: the fingerprint table stays
        // narrow and q274's schema frozen)
        (if (emitText)
          Seq(concat_ws(" ", slice(col("toks"), col("start"), lit(w)))
            .as("chunk_text"))
        else Nil)): _*)
  }

  /** Per-group unigram KL divergence vs the whole-corpus distribution:
    * KL(P_g || P_corpus) = Σ_t p_g(t) · ln(p_g(t)/p_c(t)) over the
    * group's terms (p_c > 0 wherever p_g > 0 since the corpus contains
    * every group). The mixture-QA number a pretraining budgeter watches:
    * a source whose language distribution drifts from the corpus is
    * over- or under-represented in the mix.
    *
    * Scale shape: one tokenization pass → (group, term) counts; corpus
    * term counts are a term-keyed rollup of the SAME aggregate (no
    * second scan); group totals and the corpus total are tiny
    * broadcasts. Emits (group, n_tokens, vocab, kl) with `kl` RAW —
    * callers round to the engine quantum.
    *
    * The (source, term) counts are checkpointed once (the
    * [[graft.scale.Retrieval.tokenIndex]] discipline): ts/cc/tc and the
    * final join are four consumers of the same aggregate, and relying on
    * Catalyst exchange reuse alone would re-run the corpus explode if AQE
    * re-plans any consumer.
    */
  def sourceUnigramKl(docs: org.apache.spark.sql.DataFrame, group: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    val toks = docs.select(group.as("source"),
      explode(regexp_extract_all(lower(text), lit("\\S+"), lit(0))).as("term"))
    val cs = toks.groupBy(col("source"), col("term")).agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val ts = cs.groupBy(col("source")).agg(sum(col("c")).as("ts"))
    val cc = cs.groupBy(col("term")).agg(sum(col("c")).as("cc"))
    val tc = cc.agg(sum(col("cc")).as("tc"))
    val p = col("c").cast("double") / col("ts")
    val q = col("cc").cast("double") / col("tc")
    cs.join(broadcast(ts), "source").join(cc, "term").crossJoin(broadcast(tc))
      .groupBy(col("source"))
      .agg(max(col("ts")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(p * log(p / q)).as("kl"))
  }

  /** Composable (pure-DataFrame) twin of [[trigramDiversity]] — same
    * values via transform + array_distinct; kept as the cross-check.
    */
  def trigramDiversityComposable(docs: org.apache.spark.sql.DataFrame, id: Column,
      text: Column): org.apache.spark.sql.DataFrame = {
    docs.select(id.as("doc_id"),
        lower(regexp_replace(text, "\\s+", " ")).as("t"))
      .select(col("doc_id"),
        when(length(col("t")) >= 3,
          expr("transform(sequence(1, length(t) - 2), i -> substring(t, i, 3))"))
          .otherwise(array().cast("array<string>")).as("tris"))
      .select(col("doc_id"), size(col("tris")).as("n_trigrams"),
        size(array_distinct(col("tris"))).as("n_distinct"))
      .withColumn("diversity", when(col("n_trigrams") > 0,
        col("n_distinct").cast("double") / col("n_trigrams")))
  }
}
