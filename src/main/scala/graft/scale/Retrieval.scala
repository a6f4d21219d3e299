package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sparse lexical retrieval: Okapi BM25 (Robertson/Walker, TREC-3) over
  * the whitespace-token convention the rest of the text stack uses
  * (`regexp_extract_all(lower(text), '\S+')` — the q50 TF-IDF twin).
  *
  * Scale shape — the classic inverted-index dataflow as joins:
  *   - the (doc, term, tfc) index is built in ONE tokenization pass and
  *     checkpointed ([[tokenIndex]]): df / document lengths / corpus
  *     stats / query term sets are four derivations of it, and lazy
  *     subtrees would each re-run the corpus explode. This is not a
  *     test crutch — it IS the inverted-index build a production
  *     retrieval system persists;
  *   - the query term set is the EVAL set (a handful of queries), so
  *     the postings probe is a broadcast hash join on `term` touching
  *     exactly the matching posting lists, never the corpus — and it
  *     runs BEFORE the df/dl joins so only candidates shuffle;
  *   - df restricted to query terms is eval-set-sized and broadcasts;
  *   - per-(query, doc) scores are one partial-aggregable `sum`.
  *
  * Ranking is done by the CALLER on the ROUNDED score (4 dp, the engine
  * quantum) with a doc-id tie-break: the score is a float sum whose
  * 1-ulp summation-order noise must not decide ranks, or no oracle could
  * reproduce them.
  */
object Retrieval {

  /** UTF-8 byte order (unsigned, shorter-prefix-first) — the collation
    * DuckDB's default BINARY string comparison uses. JVM `String`
    * ordering compares UTF-16 code UNITS, which diverges from UTF-8 byte
    * order for supplementary-plane characters, so any driver-side term
    * sort that an oracle replays must use this ordering (ASCII corpora
    * are unaffected; the ADVICE-r13 q273 finding).
    */
  private[scale] val utf8Order: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
    var i = 0
    var r = 0
    while (r == 0 && i < x.length && i < y.length) {
      r = (x(i) & 0xff) - (y(i) & 0xff)
      i += 1
    }
    if (r != 0) r else x.length - y.length
  }

  /** One-pass (doc_id, term, tfc, is_q) token index build — the frame
    * everything else derives from, checkpointed so the corpus explode
    * runs once.
    */
  def tokenIndex(docs: DataFrame, id: Column, text: Column,
      isQuery: Column): DataFrame = {
    val base = docs.select(id.as("doc_id"), text.as("t"), isQuery.as("is_q"))
    val toks = base.select(col("doc_id"), col("is_q"),
      explode(regexp_extract_all(lower(col("t")), lit("\\S+"), lit(0))).as("term"))
    toks.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tfc"), first(col("is_q")).as("is_q"))
      .localCheckpoint()
  }

  /** Okapi BM25 scored (query_id, doc_id, bm25) pairs from a prebuilt
    * [[tokenIndex]], for every corpus document sharing at least one term
    * with a query document. Queries are the index docs with `is_q` set
    * (their DISTINCT terms form the query); a query never scores itself.
    *
    * idf = ln((N − df + 0.5)/(df + 0.5) + 1) (the Lucene non-negative
    * variant); tf part = tfc·(k1+1) / (tfc + k1·(1 − b + b·len/avgdl)).
    *
    * `pruneTo`: impact-ordered posting truncation — the standard
    * index-pruning lever (Anh/Moffat-style static pruning): keep only
    * each term's top-m postings by term frequency (doc-id tie-break),
    * so a query term touches at most m candidates no matter how common
    * the term. (Measured on this corpus: raw-tf ordering recalls 2–3×
    * better than the length-normalized per-posting contribution order —
    * short docs monopolize every term's contribution list while the
    * true top-k accrue score across many moderate postings; the q271
    * gate exists precisely to measure that choice.) df / lengths /
    * corpus stats stay EXACT (index metadata, not postings); a pruned
    * doc simply loses that term's contribution. The per-term top-m is
    * the bounded native [[graft.ops.TopK]] aggregate (a posting list is
    * corpus-scale for a common term — `Window.partitionBy(term)` would
    * funnel it through one task, and a full rank would exchange every
    * posting).
    */
  def bm25PairsFromIndex(tf: DataFrame, k1: Double = 1.2, b: Double = 0.75,
      pruneTo: Option[Int] = None): DataFrame = {
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tfc")).as("len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avgdl"))
    val qterms = tf.where(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term"))
    val tfPart = (col("tfc") * lit(k1 + 1.0)) /
      (col("tfc") + lit(k1) * (lit(1.0 - b) + lit(b) * (col("len").cast("double") / col("avgdl"))))
    val postings = pruneTo match {
      // top-m postings per term IS a bounded top-k: the native TopKAgg
      // collapses each term's corpus-scale posting list map-side and
      // shuffles |terms|·m rows (the GlobalOrder two-pass rank it
      // replaces exchanged every posting to rank rows it then dropped)
      case Some(m) =>
        graft.ops.TopK.byGroup(tf, Seq("term"), "tfc", asc = false,
            "doc_id", m, payload = Seq("is_q"))
          .drop("rank")
      case None => tf
    }
    val idf = log((col("n") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0))
    val cand = postings.join(broadcast(qterms), Seq("term"))
      .where(col("doc_id") =!= col("query_id"))
    val dfq = df.join(broadcast(qterms.select(col("term")).distinct()), Seq("term"))
    cand.join(broadcast(dfq), Seq("term"))
      .join(dl, "doc_id").crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(idf * tfPart).as("bm25"))
  }

  /** Convenience: [[tokenIndex]] + [[bm25PairsFromIndex]]. */
  def bm25Pairs(docs: DataFrame, id: Column, text: Column, isQuery: Column,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25PairsFromIndex(tokenIndex(docs, id, text, isQuery), k1, b)

  /** A STANDING BM25 query frozen for serving — the prospective-search /
    * alerting pattern: the query's pruned term set with per-term idf
    * weights plus the corpus stats, so an INCOMING document scores as a
    * pure per-row projection (tokenize, count the ≤topTerms query terms,
    * fold the weighted tf parts) — no index, no join, no state. The
    * model is O(topTerms) literals; contributions fold in SORTED term
    * order, so the served score is deterministic; parity with the batch
    * [[bm25PairsFromIndex]] sum holds at the 4 dp engine quantum (the
    * batch groupBy sums in arbitrary order).
    *
    * Query-term pruning (keep the topTerms RAREST terms — lowest df,
    * term tie-break) is the standard standing-query lever: common terms
    * contribute little idf mass but dominate matching cost.
    */
  final case class StandingBm25(queryId: Long, terms: Seq[(String, Double)],
      avgdl: Double, k1: Double, b: Double) {
    require(terms.nonEmpty, "StandingBm25: empty query term set")
    require(terms.map(_._1).distinct.size == terms.size,
      "StandingBm25: duplicate query terms")

    /** The served score column: Σ_t idf_t · tfPart(tf_t(text), len(text)).
      * Absent terms contribute an exact 0.0 (the batch inner join's
      * semantics — scores are nonnegative, so adding 0.0 is bitwise
      * identity). The tokenizer appears once per term, but the whole
      * score is a single lambda scope over ONE token array (a transform
      * over a 1-element array binds it), so the regexp runs once per row
      * regardless of topTerms.
      */
    def score(text: Column): Column = {
      val toks = regexp_extract_all(lower(coalesce(text, lit(""))),
        lit("\\S+"), lit(0))
      element_at(transform(array(toks), tk => {
        val len = size(tk).cast("double")
        val norm = len / lit(avgdl)
        // UTF-8 byte order: the float fold order is part of the served
        // score's bit contract and must match the oracle's collation
        terms.sortBy(_._1)(utf8Order).map { case (t, w) =>
          val tfc = size(filter(tk, x => x === lit(t)))
          when(tfc > 0,
            lit(w) * ((tfc * lit(k1 + 1.0)) /
              (tfc + lit(k1) * (lit(1.0 - b) + lit(b) * norm))))
            .otherwise(lit(0.0))
        }.reduceLeft(_ + _)
      }), 1)
    }
  }

  /** Fit standing queries: one [[StandingBm25]] per `isQuery` document —
    * corpus stats (N, avgdl) and per-term df from ONE token-index build,
    * the query term sets collected driver-side (bounded by the eval
    * set's vocabulary, the same cardinality class as a model fit), each
    * pruned to its `topTerms` rarest terms.
    */
  def fitStanding(docs: DataFrame, id: Column, text: Column, isQuery: Column,
      topTerms: Int = 16, k1: Double = 1.2, b: Double = 0.75,
      maxQueryTermRows: Int = 1000000): Seq[StandingBm25] = {
    val tf = tokenIndex(docs, id, text, isQuery)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tfc")).as("len"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val Array(st) = dl.agg(count(lit(1)).as("n"),
      (sum(col("len")).cast("double") / count(lit(1))).as("avgdl")).collect()
    val (n, avgdl) = (st.getLong(0), st.getDouble(1))
    // the collect is bounded IN the query (the Models.scala discipline):
    // an isQuery predicate that accidentally selects corpus-scale docs
    // fails loudly instead of pulling the corpus onto the driver
    val qrows = tf.where(col("is_q"))
      .select(col("doc_id").as("query_id"), col("term"))
      .join(df, "term")
      .select(col("query_id"), col("term"), col("df"))
      .limit(maxQueryTermRows + 1)
      .collect()
    require(qrows.length <= maxQueryTermRows,
      s"fitStanding: isQuery selects more than $maxQueryTermRows " +
        "(query, term) rows — standing queries are an EVAL set, not a corpus")
    qrows.groupBy(_.getLong(0)).toSeq.sortBy(_._1).map { case (qid, rs) =>
      // (df, term-in-UTF-8-byte-order): the term tie-break must match the
      // oracle's DuckDB BINARY collation, not JVM UTF-16 unit order
      val pruned = rs.map(r => (r.getString(1), r.getLong(2)))
        .sortBy { case (t, d) => (d, t) }(
          Ordering.Tuple2(Ordering.Long, utf8Order)).take(topTerms)
      // canonical term order (the store's serialization order, so a
      // fit -> publish -> rebuild round trip is field-exact) — UTF-8 byte
      // order for the same cross-engine reason
      val weighted = pruned.map { case (t, d) =>
        (t, math.log((n - d + 0.5) / (d + 0.5) + 1.0))
      }.toSeq.sortBy(_._1)(utf8Order)
      StandingBm25(qid, weighted, avgdl, k1, b)
    }
  }
}
