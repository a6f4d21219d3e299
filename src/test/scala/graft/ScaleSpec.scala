package graft

import graft.scale.{Dedup, Similarity, Splits, TextOps}
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class ScaleSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("hashedNgramFeatures: frequencies are md5-bucketed gram counts; degenerate docs all-zero") {
    val B = 16
    val docs = Seq((1L, "A b a"), (2L, ""), (3L, null.asInstanceOf[String]),
      (4L, "xyz")).toDF("doc_id", "text")
    val out = TextOps.hashedNgramFeatures(docs, col("doc_id"), col("text"), B)
      .collect().map(r => r.getLong(0) ->
        (0 until B).map(b => r.getDouble(1 + b))).toMap
    // doc 1 grams (lowercased): a, b, a, "a b", "b a" — bucket =
    // bucketLocal("hng", gram, 16), the column expression's driver twin
    val grams = Seq("a", "b", "a", "a b", "b a")
    val exp = grams.groupBy(g => Splits.bucketLocal("hng", g, B).toInt)
      .view.mapValues(_.size / 5.0).toMap
    (0 until B).foreach { b =>
      assert(out(1L)(b) == exp.getOrElse(b, 0.0), s"doc1 bucket $b")
    }
    assert(math.abs(out(1L).sum - 1.0) < 1e-12)
    // empty and null text: no grams, all-zero vector (not NaN/-1)
    assert(out(2L).forall(_ == 0.0) && out(3L).forall(_ == 0.0))
    // single token: one unigram, no bigram — its bucket holds frequency 1
    val xb = Splits.bucketLocal("hng", "xyz", B).toInt
    (0 until B).foreach { b =>
      assert(out(4L)(b) == (if (b == xb) 1.0 else 0.0), s"doc4 bucket $b")
    }
    // bucket bounds guard
    val err = intercept[IllegalArgumentException] {
      TextOps.hashedNgramFeatures(docs, col("doc_id"), col("text"), 1)
    }
    assert(err.getMessage.contains("buckets"))
  }

  test("simhash: identical texts get identical fingerprints; disjoint texts differ") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "entirely different words about spark engines here")
    ).toDF("doc_id", "text")
    val fp = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fp(1L) == fp(2L))
    assert(fp(1L) != fp(3L))
  }

  test("simhash kernel == exploded composable form on the corpus; empty docs dropped") {
    val docs = Tables.documents(spark, sf)
    val kern = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expl = Dedup.simhashExploded(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kern == expl)
    // token-less docs produce no row in either form (kernel signals NULL)
    val edge = Seq((1L, "  \t\n "), (2L, "one token")).toDF("doc_id", "text")
    val out = Dedup.simhash(edge, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).toSet
    assert(out == Set(2L))
    // whitespace variety tokenizes like the \S+ regex
    val ws = Seq((3L, "a\tb\nc d"), (4L, "a b c d")).toDF("doc_id", "text")
    val wfp = Dedup.simhash(ws, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wfp(3L) == wfp(4L))
  }

  test("simhash64: top 32 bits equal the 32-bit fingerprint; same token/null semantics") {
    val docs = Tables.documents(spark, sf)
    val fp32 = Dedup.simhash(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val fp64 = Dedup.simhash64(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bits 32..63 vote on md5 bytes 0..3 — exactly the 32-bit kernel's
    // hash — so the identity holds by construction on every doc
    assert(fp64.keySet == fp32.keySet)
    fp64.foreach { case (id, f) => assert((f >>> 32) == fp32(id), s"doc $id") }
    // the low 32 bits carry real signal (md5 bytes 4..7), not a copy
    assert(fp64.exists { case (id, f) => (f & 0xffffffffL) != fp32(id) })
    val edge = Seq((1L, "  \t\n "), (2L, "one token")).toDF("doc_id", "text")
    assert(Dedup.simhash64(edge, col("doc_id"), col("text"))
      .collect().map(_.getLong(0)).toSet == Set(2L))
  }

  test("two simhash32 calls share one codegen stage (freshName regression)") {
    graft.functions.GraftFunctions.register(spark)
    // fallback disabled: a Janino redefinition error fails the query
    // instead of silently degrading to interpreted execution
    graft.plans.Tuning.withConf(spark, "spark.sql.codegen.fallback" -> "false") {
      val r = spark.sql(
        "SELECT simhash32('alpha beta') AS a, simhash32('gamma delta') AS b").head()
      val single = spark.sql("SELECT simhash32('alpha beta')").head().getLong(0)
      assert(r.getLong(0) == single && r.getLong(1) != r.getLong(0))
    }
  }

  test("minhash LSH recovers the high-jaccard near-dup pairs") {
    val docs = Tables.documents(spark, sf)
    val exact = Dedup.jaccardTopK(docs, col("doc_id"), col("text"), 3, 50, 20)
      .where(col("jaccard") >= 0.9)
      .select(col("doc1"), col("doc2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture should contain planted near-dups")
    val lsh = Dedup.minhashPairs(docs, col("doc_id"), col("text"), 3)
      .select(col("doc1"), col("doc2")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.subsetOf(lsh), s"missed: ${exact.diff(lsh)}")
  }

  test("containment: embedded document scores 1.0 toward its container") {
    // doc 2's shingle set is a strict subset of doc 1's; doc 3 unrelated
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "alpha beta gamma delta epsilon"),
      (3L, "one two three four five six seven")
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs, col("doc_id"), col("text"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    // 1 has 4 shingles, 2 has 3, all shared -> containment_2 = 1.0
    assert(out.contains((1L, 2L)), s"LSH should band-collide the pair: $out")
    assert(out((1L, 2L)) == ((3L, 0.75, 1.0)))
    assert(!out.keys.exists { case (a, b) => a == 3L || b == 3L })
  }

  test("trigram LM score: corpus-typical text outscores text with rare trigrams") {
    // corpus counts: aaa x3, aab x1, tt=4
    val docs = Seq((1L, "aaaa"), (2L, "aaab")).toDF("doc_id", "text")
    val out = TextOps.trigramLmScore(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(out(1L)._1 == 2L)
    assert(math.abs(out(1L)._2 - math.log(0.75)) < 1e-12)
    assert(math.abs(out(2L)._2 - (math.log(0.75) + math.log(0.25)) / 2) < 1e-12)
    assert(out(1L)._2 > out(2L)._2)
  }

  test("gopherLineStats: duplicate-line fractions and flags match hand-computed fixtures") {
    val docs = Seq(
      // 4 lines: "abc" x3 (len 3) + "defgh" (len 5); dups = 2 instances,
      // dup chars = 6 of 14 -> frac 0.5 > 0.30 flags
      (1L, "abc\nabc\ndefgh\nabc"),
      // 3 distinct lines, no dups -> 0.0, no flag
      (2L, "one\ntwo\nthree"),
      // empty lines excluded: 2 real lines, one dup pair -> frac 0.5;
      // chars 3 of 6 -> 0.5
      (3L, "xyz\n\n\nxyz"),
      // char-frac-only flag: "aaaaaaaaaa" x2 (10 chars) + 8 distinct
      // 1-char lines -> dup_line_frac = 1/10 = 0.1 (no), dup chars
      // 10/28 = 0.3571 > 0.20 flags
      (4L, "aaaaaaaaaa\naaaaaaaaaa\nb\nc\nd\ne\nf\ng\nh\ni"),
      (5L, ""),       // no lines
      (6L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextOps.gopherLineStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((4L, 0.5, graft.scoring.KMeansOps.r6d(6.0 / 14), true)))
    assert(out(2L) == ((3L, 0.0, 0.0, false)))
    assert(out(3L) == ((2L, 0.5, 0.5, true)))
    assert(out(4L) == ((10L, 0.1, graft.scoring.KMeansOps.r6d(10.0 / 28), true)))
    assert(out(5L) == ((0L, 0.0, 0.0, false)))
    assert(out(6L) == ((0L, 0.0, 0.0, false)))
  }

  test("gopher kernel == explode-based battery on every corpus doc and edge fixtures") {
    // one-pass GopherStats vs the tagged-explode/window twin, column by
    // column (fractions already rounded — equality is exact)
    def both(df: org.apache.spark.sql.DataFrame): Unit = {
      val a = TextOps.gopherRepetition(df, col("doc_id"), col("text"))
      val b = TextOps.gopherRepetitionComposable(df, col("doc_id"), col("text"))
      val cols = Seq("n_tokens", "top2_char_frac", "top3_char_frac",
        "top4_char_frac", "dup5_token_frac", "gopher_flag")
      val bb = b.select(col("doc_id") +: cols.map(c => col(c).as(s"__b_$c")): _*)
      val j = a.join(bb, Seq("doc_id"))
      val bad = j.where(cols.map(c =>
        !(col(c) <=> col(s"__b_$c"))).reduce(_ || _)).count()
      assert(bad == 0, s"$bad docs diverge between kernel and explode form")
      assert(j.count() == df.count())
    }
    // the unigram/dup-word sibling rides the same kernel slots
    def bothRep(df: org.apache.spark.sql.DataFrame): Unit = {
      val a = TextOps.repetitionStats(df, col("doc_id"), col("text"))
      val b = TextOps.repetitionStatsComposable(df, col("doc_id"), col("text"))
      val cols = Seq("n_words", "n_distinct_words", "dup_word_frac",
        "top_unigram_char_frac", "top_bigram_char_frac")
      val bb = b.select(col("doc_id") +: cols.map(c => col(c).as(s"__b_$c")): _*)
      val j = a.join(bb, Seq("doc_id"), "full")
      val bad = j.where(cols.map(c =>
        !(col(c) <=> col(s"__b_$c"))).reduce(_ || _) ||
        col("n_words").isNull || col("__b_n_words").isNull).count()
      assert(bad == 0, s"$bad docs diverge between kernel and explode repetitionStats")
    }
    val edges = Seq(
      (1L, null.asInstanceOf[String]), (2L, ""), (3L, "one"),
      (4L, "café naïve CAFÉ naïve café  naïve"),
      (5L, "a b a b a b a b a b a b")
    ).toDF("doc_id", "text")
    both(Tables.documents(spark, sf))
    both(edges)
    bothRep(Tables.documents(spark, sf))
    bothRep(edges)
  }

  test("frozen TrigramLm kernel scores bit-identically to the batch LM chain") {
    import graft.scale.Perplexity
    // hand corpus: the frozen map must reproduce the exact per-instance
    // ln(c/tt) means, skip unseen trigrams (inner-join semantics), and
    // go NULL on no-trigram texts
    val docs = Seq((1L, "aaaa"), (2L, "aaab")).toDF("doc_id", "text")
    val lm = Perplexity.fitLm(docs, col("text"))
    val got = docs.select(col("doc_id"),
        Perplexity.lmScore(lm, col("text")).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got(1L) == (math.log(0.75) + math.log(0.75)) / 2)
    assert(got(2L) == (math.log(0.75) + math.log(0.25)) / 2)
    val extra = Seq((3L, "ab"), (4L, "xyzw"), (5L, "aaxyz"), (6L, null))
      .toDF("doc_id", "text")
      .select(col("doc_id"), Perplexity.lmScore(lm, col("text")).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(extra(3L).isEmpty, "under 3 chars -> NULL")
    assert(extra(4L).isEmpty, "all trigrams unseen -> NULL")
    // 'aaxyz': only the unseen trigrams skip; no seen trigram -> NULL
    assert(extra(5L).isEmpty)
    assert(extra(6L).isEmpty, "null text -> NULL")
    // whitespace collapse + lowercase match the batch normalization
    val ws = Seq((7L, "AA  A"), (8L, "aa a")).toDF("doc_id", "text")
      .select(col("doc_id"), Perplexity.lmScore(lm, col("text")).as("s"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(ws(7L) == ws(8L), "'AA  A' normalizes to 'aa a'")

    // corpus-wide: frozen kernel == batch trigramLmScore on every doc
    // (raw doubles, not just the 4 dp grain)
    val corpus = Tables.documents(spark, sf)
    val flm = Perplexity.fitLm(corpus, col("text"))
    val frozen = corpus.select(col("doc_id"),
      Perplexity.lmScore(flm, col("text")).as("f"))
    val batch = TextOps.trigramLmScore(corpus, col("doc_id"), col("text"))
      .select(col("doc_id"), col("lm_score").as("b"))
    val joined = frozen.join(batch, Seq("doc_id"), "left")
    assert(joined.where(!(col("f") <=> col("b"))).count() == 0,
      "frozen kernel diverges from the batch LM chain")
    assert(joined.where(col("f").isNotNull).count() > 0)
  }

  test("hard negatives: ranked within different-label vectors only") {
    val docs = Seq(
      (0L, 1L, Array(1f, 0f, 0f)),  // query, label 1
      (1L, 1L, Array(0.99f, 0.1f, 0f)), // same label: must be excluded
      (2L, 2L, Array(0.9f, 0.4f, 0f)),  // label 2, closest negative
      (3L, 2L, Array(0f, 1f, 0f))       // label 2, far
    ).toDF("vec_id", "label", "embedding")
    val out = Similarity.hardNegatives(docs, docs.where(col("vec_id") === 0), k = 2)
      .collect().map(r => (r.getLong(1), r.getLong(3)))
    assert(out.toSeq == Seq((2L, 1L), (3L, 2L))) // label-1 vec 1 never appears
  }

  test("rrf: agreement across rankers outscores a single top rank") {
    val l1 = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "nbr_id", "rank")
    val l2 = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "nbr_id", "rank")
    val out = Similarity.rrf(Seq(l1, l2), c = 60)
      .collect().map(r => r.getLong(1) -> ((r.getDouble(2), r.getLong(3)))).toMap
    // 11 appears in both lists (ranks 2+1) and beats either single entry
    assert(out(11L)._2 == 2L && out(10L)._2 == 1L)
    assert(math.abs(out(11L)._1 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(out(11L)._1 > out(10L)._1 && out(10L)._1 > out(12L)._1)
  }

  test("LSH cosine top-k: returned cosines are exact; recall is nonzero") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(emb, queries, 10, planes = 2, dim = 64)
      .select(col("query_id"), col("nbr_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    info(s"lsh recall@10 = $recall")
    assert(recall >= 0.05)
  }

  test("IVF top-k: deterministic, decent recall vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(emb, queries, 10, nlist = 8, nprobe = 3)
      .select(col("query_id"), col("nbr_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf2 = Similarity.ivfTopK(emb, queries, 10, nlist = 8, nprobe = 3)
      .select(col("query_id"), col("nbr_id")).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivf == ivf2, "IVF search must be deterministic")
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    info(s"ivf recall@10 (nprobe=3/8) = $recall")
    assert(recall >= 0.2)
  }

  test("ivfTopKTrained: rounded-Lloyd coarse quantizer is deterministic and holds recall vs the seed") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(s: Set[(Long, Long)]) = exact.intersect(s).size.toDouble / exact.size
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("query_id"), col("nbr_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val seed = ids(Similarity.ivfTopK(emb, queries, 10, nlist = 8, nprobe = 3, iters = 0))
    val t1 = ids(Similarity.ivfTopKTrained(emb, queries, 10, nlist = 8, nprobe = 3, coarseIters = 1))
    val t2 = ids(Similarity.ivfTopKTrained(emb, queries, 10, nlist = 8, nprobe = 3, coarseIters = 1))
    assert(t1 == t2, "trained-coarse IVF must be deterministic (rounded centroids)")
    info(s"ivf recall@10: seed ${recall(seed)}, trained coarse ${recall(t1)}")
    // one rounded-Lloyd step fits the coarse cells to the data — the
    // q277 contract at the coarse level: recall must not drop
    assert(recall(t1) >= recall(seed),
      s"coarse training must not lose recall: ${recall(t1)} < ${recall(seed)}")
    // the IVF-PQ composition accepts the trained coarse level too
    val ivfpq1 = ids(Similarity.ivfPqTopK(emb, queries, 10, dim = 64, m = 8,
      ksub = 16, nlist = 8, nprobe = 3, coarseIters = 1))
    val ivfpq2 = ids(Similarity.ivfPqTopK(emb, queries, 10, dim = 64, m = 8,
      ksub = 16, nlist = 8, nprobe = 3, coarseIters = 1))
    assert(ivfpq1 == ivfpq2, "trained-coarse IVF-PQ must be deterministic")
    assert(ivfpq1.nonEmpty)
  }

  test("pqTopK: deterministic, exact-code candidates rank first, recall floor vs brute force") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 5)
    val pq = Similarity.pqTopK(emb, queries, 10, dim = 64, m = 8, ksub = 16)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq2 = Similarity.pqTopK(emb, queries, 10, dim = 64, m = 8, ksub = 16)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pq == pq2, "PQ search must be deterministic")
    val exact = Similarity.euclidTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(pq).size.toDouble / exact.size
    info(s"pq recall@10 (m=8, ksub=16) = $recall")
    assert(recall >= 0.05)
    // a query that IS a seed vector has ADC 0 to itself excluded; its
    // codebook-mate (same codes) must appear before any farther candidate
    val full = Similarity.pqTopK(emb, queries, 10, dim = 64, m = 8, ksub = 16)
      .collect()
    assert(full.forall(_.getDouble(3) >= 0.0), "ADC is a sum of squared distances")
    assert(full.groupBy(_.getLong(0)).values
      .forall(rs => rs.sortBy(_.getLong(2)).map(_.getDouble(3)).toSeq ==
        rs.map(_.getDouble(3)).sorted.toSeq), "rank order follows ADC")
  }

  test("pqTopKTrained: rounded-Lloyd codebooks are deterministic and lift mean recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    val exact = Similarity.euclidTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val s = df.select(col("query_id"), col("nbr_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.intersect(s).size.toDouble / exact.size
    }
    val seed = recall(Similarity.pqTopK(emb, queries, 10, dim = 64, m = 8, ksub = 16))
    def trained() =
      Similarity.pqTopKTrained(emb, queries, 10, dim = 64, m = 8, ksub = 16, iters = 1)
    val t1 = trained().select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t2 = trained().select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(t1 == t2, "trained-PQ search must be deterministic (rounded centroids)")
    val tr = exact.intersect(t1).size.toDouble / exact.size
    info(s"recall@10: seed $seed, trained $tr")
    // one Lloyd step fits the cells to the data — mean recall must not
    // drop (and does lift on this corpus: 0.28 -> 0.34 at sf0.01)
    assert(tr >= seed, s"training must not lose recall: $tr < $seed")
  }

  test("pqRerankTopK: re-rank recall dominates raw ADC recall, per query") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 10)
    def hits(df: org.apache.spark.sql.DataFrame, exact: Set[(Long, Long)]) =
      df.select(col("query_id"), col("nbr_id")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(exact)
        .groupBy(_._1).view.mapValues(_.size).toMap.withDefaultValue(0)
    val exact = Similarity.euclidTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = hits(Similarity.pqTopK(emb, queries, 10, dim = 64, m = 8, ksub = 16), exact)
    val rr = hits(Similarity.pqRerankTopK(emb, queries, 10, shortlist = 100,
      dim = 64, m = 8, ksub = 16), exact)
    // exact rank within a shortlist superset <= global rank, so every
    // true neighbor the shortlist holds is recovered: per-query dominance
    // is a THEOREM here, not a corpus accident
    (0L until 10L).foreach(q => assert(rr(q) >= pq(q), s"query $q: ${rr(q)} < ${pq(q)}"))
    assert(rr.values.sum > pq.values.sum, "re-rank must recover real recall on this corpus")
    info(s"recall@10 sum: pq ${pq.values.sum}/100, rerank ${rr.values.sum}/100")
  }

  test("ivfPqTopK: deterministic, probes bound the candidate set, nonzero recall") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.where(col("vec_id") < 5)
    def run() = Similarity.ivfPqTopK(emb, queries, 10,
      dim = 64, m = 8, ksub = 16, nlist = 8, nprobe = 3)
    val a = run().select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = run().select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, "IVF-PQ search must be deterministic")
    // candidates must come from the probed inverted lists only: with
    // nprobe = nlist the candidate pool is the whole corpus, so the
    // narrow-probe result is a subset of each query's wide-probe pool
    val wide = Similarity.ivfPqTopK(emb, queries, Int.MaxValue,
        dim = 64, m = 8, ksub = 16, nlist = 8, nprobe = 8)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a.subsetOf(wide))
    val exact = Similarity.euclidTopK(emb, queries, 10)
      .select(col("query_id"), col("nbr_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.intersect(a).size.toDouble / exact.size
    info(s"ivfpq recall@10 (nprobe=3/8, m=8, ksub=16) = $recall")
    assert(recall > 0.0)
  }

  test("truncatedRecall: full dim is exact recall 1, coarser prefixes lose recall") {
    val emb = Tables.embeddings(spark, sf)
    val out = Similarity.truncatedRecall(emb, emb.where(col("vec_id") < 5),
        k = 10, dims = Seq(8, 32), fullDim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    assert(out.size == 15, "one row per (query, d)")
    (0L until 5L).foreach(q => assert(out((q, 64L)) == 1.0, s"full-dim recall q$q"))
    assert(out.values.forall(r => r >= 0.0 && r <= 1.0))
    val avg8 = (0L until 5L).map(q => out((q, 8L))).sum / 5
    val avg32 = (0L until 5L).map(q => out((q, 32L))).sum / 5
    info(s"avg recall@10: d=8 $avg8, d=32 $avg32")
    assert(avg32 >= avg8, "longer prefix cannot lose recall on average here")
  }

  test("semDedupDelta: delta places into frozen clusters, matches index mates only") {
    // index seeds v0=[1,0] / v1=[0,1] (k=2, iters=0); index mates v2/v3.
    // delta: v10 twin of v0 (dup), v11 anti-parallel to v1's cluster
    // mates (kept), v12 orthogonal-ish (kept, but still has mates)
    val index = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)))
      .toDF("vec_id", "embedding")
    val delta = Seq(
      (10L, Array(0.99f, 0.01f)), (11L, Array(-0.2f, -1.0f)),
      (12L, Array(0.6f, 0.75f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedupDelta(index, delta, k = 2, iters = 0, tau = 0.9)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 3, "every delta vector decided exactly once")
    // v10 -> cluster of v0: mates {0, 2}, both above 0.9 -> dup of v0
    assert(out(10L).getLong(2) == 2L && out(10L).getLong(3) == 2L)
    assert(out(10L).getLong(5) == 0L && !out(10L).getBoolean(6))
    // v11 -> v1's cluster: mates {1, 3}, cosines negative -> kept
    assert(out(11L).getLong(2) == 2L && out(11L).getLong(3) == 0L)
    assert(out(11L).getBoolean(6))
    // v12: has mates, best below tau -> kept with a reported best match
    assert(out(12L).getLong(2) == 2L && out(12L).getBoolean(6))
    assert(!out(12L).isNullAt(4) && out(12L).getDouble(4) < 0.9)
  }

  test("semDedup: hand fixture — seed quantizer split, keep-lowest-id rule, cluster partition") {
    // two obvious axes: seeds v0=[1,0] / v1=[0,1] (k=2, iters=0 → pure
    // seed assignment, hand-checkable); v2/v3 near-dups of the seeds,
    // v4 at cos 0.8 to v0 (below τ=0.9 → kept), v5 anti-parallel (kept)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.0f, 1.0f)),
      (2L, Array(0.9f, 0.1f)), (3L, Array(0.1f, 0.9f)),
      (4L, Array(0.8f, 0.6f)), (5L, Array(-1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.semDedup(vecs, k = 2, iters = 0, tau = 0.9,
        withBestPrev = true)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out.size == 6, "partition: every vector exactly once")
    assert(out.filter(_._2.getBoolean(6)).keySet == Set(0L, 1L, 4L, 5L))
    // cluster membership from the seed quantizer: {0,2,4} / {1,3,5}
    assert(Set(0L, 2L, 4L).map(out(_).getLong(1)).size == 1)
    assert(Set(1L, 3L, 5L).map(out(_).getLong(1)).size == 1)
    assert(out.values.forall(_.getLong(2) == 3L), "both clusters size 3")
    // the near-dups each have exactly one above-τ lower-id mate (the seed)
    assert(out(2L).getLong(3) == 1L && out(3L).getLong(3) == 1L)
    assert(math.abs(out(2L).getDouble(4) - 0.9939) < 1e-3)
    // ... and best_prev_id names that mate (the q293 drill-down column)
    assert(out(2L).getLong(5) == 0L && out(3L).getLong(5) == 1L)
    // kept rows carry NULL max_prev_cos/best_prev_id and zero prior dups
    assert(out(0L).isNullAt(4) && out(0L).isNullAt(5) && out(0L).getLong(3) == 0L)
    // refined variant still partitions and always keeps each cluster's
    // min id — default schema (no best_prev_id column: kept at index 5)
    val ref = Similarity.semDedup(vecs, k = 2, iters = 1, tau = 0.9)
      .collect()
    assert(ref.length == 6)
    assert(!ref.head.schema.fieldNames.contains("best_prev_id"),
      "best_prev_id is opt-in")
    val minIds = ref.groupBy(_.getLong(1)).values.map(_.map(_.getLong(0)).min).toSet
    assert(ref.filter(r => minIds.contains(r.getLong(0))).forall(_.getBoolean(5)),
      "lowest id of every cluster survives")
  }

  test("LangId.nbConfusion: separable fixture classifies the hold-out; priors break ties") {
    import graft.scale.LangId
    // two cleanly separated "languages" (disjoint trigram sets), one
    // test doc each; a third test doc with NO overlapping trigram goes
    // to the larger-prior class
    val docs = Seq(
      (1L, "aaaa bbbb aaaa bbbb", "A", true), (2L, "abab baba abab", "A", true),
      (3L, "zzzz yyyy zzzz yyyy", "B", true),
      (4L, "aaaa abab", "A", false), (5L, "zzzz yyyy", "B", false),
      (6L, "qqqq wwww", "B", false) // unseen trigrams: prior decides (A: 2/3)
    ).toDF("doc_id", "text", "lang", "tr")
    val out = LangId.nbConfusion(docs, col("doc_id"), col("text"), col("lang"),
        col("tr"), buckets = 64)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out((("A"), ("A"))) == 1L, out)  // doc 4
    assert(out((("B"), ("B"))) == 1L, out)  // doc 5
    // doc 6 (true B, unseen trigrams): every class scores the same
    // smoothed likelihood ONLY if totals match; A's larger prior and
    // smaller denominator both favor A here
    assert(out.getOrElse(("B", "A"), 0L) + out.getOrElse(("B", "B"), 0L) == 2L, out)
    assert(out.values.sum == 3L, out)
  }

  test("crossDocLineReport: shared-line counting, within-doc repeats don't count, flag at 0.30") {
    val docs = Seq(
      (1L, "shared banner\nunique one\nshared banner"), // within-doc repeat of a SHARED line
      (2L, "shared banner\nunique two much longer line here"),
      (3L, "solo\nsolo\nsolo"),                          // within-doc only: NOT shared
      (4L, ""), (5L, "\n\n")                             // no nonempty lines
    ).toDF("doc_id", "text")
    val out = TextOps.crossDocLineReport(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1.0 else r.getDouble(3), r.getBoolean(4))).toMap
    // doc 1: 3 lines, both "shared banner" (13-char) instances shared
    // -> 26 of 36 line chars
    assert(out(1L)._1 == 3L && out(1L)._2 == 2L)
    assert(math.abs(out(1L)._3 - graft.scoring.KMeansOps.r6d(26.0 / 36)) < 1e-12)
    assert(out(1L)._4, "0.722 >= 0.30 flags")
    // doc 2: 1 of 2 lines shared; 13 of 45 chars -> 0.2889 under the cut
    assert(out(2L)._2 == 1L && !out(2L)._4)
    // doc 3: a line repeated within ONE doc is not cross-doc shared
    assert(out(3L) == ((3L, 0L, 0.0, false)), out(3L))
    // docs without a nonempty line: zero counts, NULL fraction, no flag
    assert(out(4L) == ((0L, 0L, -1.0, false)) && out(5L) == ((0L, 0L, -1.0, false)))
  }

  test("LangId frozen serving == batch nbPredictions doc by doc; store round-trip bitwise") {
    import graft.scale.{LangId, Splits}
    val docs = Tables.documents(spark, sf)
    val tr = Splits.bucket(col("doc_id"), "lid", 5) =!= 0
    val m = LangId.fit(docs, col("doc_id"), col("text"), col("lang"), tr)
    val batch = LangId.nbPredictions(docs, col("doc_id"), col("text"),
        col("lang"), tr)
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    val served = docs.where(!tr)
      .select(col("doc_id"), m.predict(col("text")).as("p"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getString(1))).toMap
    assert(served.size >= batch.size)
    batch.foreach { case (id, p) =>
      assert(served(id) == p, s"doc $id: served ${served(id)} != batch $p")
    }
    // trigram-less served docs are NULL, mirroring the batch absence
    served.filterNot(kv => batch.contains(kv._1)).foreach { case (id, p) =>
      assert(p == null, s"doc $id should be NULL (no trigrams)")
    }
    // ModelStore round-trip: weights/priors bitwise, manifest on publish
    import graft.scoring.ModelStore
    val rows = ModelStore.langNbRows("lid", 3L, m)
    val back = ModelStore.langNbOf(ModelStore.body(
      ModelStore.withManifest(rows)))
    assert(back == m, "lang_nb store round trip must be bitwise")
    // ServedModel dispatch: the zoo serves the tagger as the predicted
    // class's index — label-consistent with predict, doc by doc
    val built = graft.streaming.ServedModel.of(ModelStore.withManifest(rows))
    assert(built.kind == "lang_nb" && built.features == Seq("text"))
    val ordered = m.classes.map(_.lang).sorted
    val both = docs.where(!tr)
      .select(m.predict(col("text")).as("p"), built.score.as("s"))
      .collect()
    both.foreach { r =>
      if (r.isNullAt(0)) assert(r.isNullAt(1))
      else assert(ordered(r.getDouble(1).toInt) == r.getString(0))
    }
  }

  test("Dsir.weights: hand-computed smoothed log importance weights") {
    import graft.scale.Dsir
    val docs = Seq((1L, "Aa aa bb", true), (2L, "bb cc", false),
      (3L, "cc", true), (4L, "", false))
      .toDF("doc_id", "text", "tgt")
    val B = 4
    val out = Dsir.weights(docs, col("doc_id"), col("text"), col("tgt"), B)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // replay the model with the column expression's driver twin
    val toks = Map(1L -> Seq("aa", "aa", "bb"), 2L -> Seq("bb", "cc"), 3L -> Seq("cc"))
    val tgt = Set(1L, 3L)
    val b = (t: String) => Splits.bucketLocal("dsir", t, B)
    val all = toks.toSeq.flatMap { case (d, ts) => ts.map(t => (d, b(t))) }
    val cr = all.groupBy(_._2).view.mapValues(_.size).toMap
    val ct = all.filter(p => tgt(p._1)).groupBy(_._2).view.mapValues(_.size).toMap
    val (tr, tt) = (all.size, all.count(p => tgt(p._1)))
    def w(bk: Long) = math.log((ct.getOrElse(bk, 0) + 1).toDouble / (tt + B)) -
      math.log((cr.getOrElse(bk, 0) + 1).toDouble / (tr + B))
    toks.foreach { case (d, ts) =>
      assert(out(d)._1 == ts.size.toLong, s"doc $d token count")
      assert(math.abs(out(d)._2 - ts.map(t => w(b(t))).sum) < 1e-12, s"doc $d weight")
    }
    // token-less docs are absent (callers left-join and default to 0)
    assert(!out.contains(4L))
  }

  test("BucketHist == explode(regexp \\S+)/md5-bucket counts on adversarial texts") {
    // the native one-pass histogram (functions/BucketHistExpr.scala) must
    // reproduce the token-grain chain it replaced byte-for-byte: same
    // Java-regex \s tokenization (ASCII-only — NBSP is a token byte),
    // same md5("dsir:"+tok) first-8-hex-chars bucket
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val B = 7
    val texts = Seq("aa bb  cc", " lead", "trail ", "\t\ntabs\u000b\f\rall",
      "", " ", "one", "unicode \u00e9\u00e9 \u4e2d\u6587 token",
      "nbsp\u00a0joined stays", "mixed  \t x\ny z", "a" * 5000,
      (1 to 300).map(i => s"t$i").mkString(" "))
    val df = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    val hist = ColumnBridge.column(graft.functions.BucketHist(
      ColumnBridge.expression(lower(col("text"))), "dsir", B))
    val got = df.select(col("id"), posexplode(hist).as(Seq("b", "cnt")))
      .where(col("cnt") > 0)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val want = df.select(col("id"),
        explode(regexp_extract_all(lower(col("text")), lit("\\S+"), lit(0))).as("tok"))
      .select(col("id"), graft.scale.Splits.bucket(col("tok"), "dsir", B).as("b"))
      .groupBy(col("id"), col("b")).count()
      .collect().map(r => (r.getLong(0), r.getLong(1).toInt) -> r.getLong(2)).toMap
    assert(got == want, s"got=$got want=$want")
    // NULL text -> NULL histogram (docs drop at the explode, like before)
    val nr = Seq((1L, Option.empty[String])).toDF("id", "text")
      .select(ColumnBridge.column(graft.functions.BucketHist(
        ColumnBridge.expression(lower(col("text"))), "dsir", B)).as("h")).head()
    assert(nr.isNullAt(0))
  }

  test("text ops: token counts and quality bounds") {
    val docs = Seq((1L, "The cat and the dog. 42 foo!")).toDF("doc_id", "text")
    val r = docs.select(
      TextOps.nTokens(col("text")).as("nt"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.fingerprint(col("text")).as("fp")).head()
    assert(r.getLong(0) == 7)
    assert(r.getDouble(1) >= 0.0 && r.getDouble(1) <= 1.0)
    assert(r.getString(2).length == 16)
  }

  test("LSH dup-pair mining: returned pairs are exact-cosine-correct, recall nonzero") {
    val emb = Tables.embeddings(spark, sf)
    val exact = Similarity.cosineDupPairs(emb, tau = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val lsh = Similarity.lshDupPairs(emb, tau = 0.3, planes = 4, dim = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(lsh.nonEmpty && exact.nonEmpty)
    // every LSH pair is a true pair with the identical cosine
    lsh.foreach { case (k, c) => assert(math.abs(exact(k) - c) < 1e-12, k.toString) }
    // collision bound for cos>=0.3 (θ<=72.5°): (1-θ/π)^4 ≈ 0.13 — assert
    // comfortably below, well above zero
    val recall = lsh.size.toDouble / exact.size
    assert(recall > 0.05, s"recall $recall")
  }

  test("cell-partitioned exact pairs: every block count agrees with brute force") {
    // pair completeness must hold for every blocks regime, including
    // blocks > n, a prime count, and the degenerate single cell
    val emb = Tables.embeddings(spark, sf).limit(40)
    def pairs(b: Int) = Similarity.cosineDupPairs(emb, tau = 0.2, blocks = b)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val brute = pairs(1)
    assert(brute.nonEmpty)
    for (b <- Seq(3, 7, 64)) {
      val p = pairs(b)
      assert(p.keySet == brute.keySet, s"blocks=$b")
      p.foreach { case (k, c) => assert(c == brute(k), s"blocks=$b $k") }
    }
  }

  test("neardup groups: transitive near-dups share one canonical doc; others stay singleton") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val docs = Seq(
      (10L, base),
      (11L, base + " extra"),                       // near-dup of 10
      (12L, base.replace("quick", "swift")),        // near-dup of 10/11
      (13L, "completely unrelated text about spark catalyst plans and codegen stages")
    ).toDF("doc_id", "text")
    val groups = Dedup.neardupGroups(docs, col("doc_id"), col("text"), n = 3, tau = 0.4)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(groups(10L) == (10L, 3L))
    assert(groups(11L) == (10L, 3L))
    assert(groups(12L) == (10L, 3L))
    assert(groups(13L) == (13L, 1L))
  }

  test("multimodal resize: strided downsample keeps every k-th byte, ceil-length output") {
    import graft.scale.Multimodal
    val media = Multimodal.mediaTable(Tables.documents(spark, sf))
      .select(col("doc_id"), col("media"), col("meta.format").as("format"))
      .as[Multimodal.MediaRow]
    val out = Multimodal.resize(media, factor = 4).collect()
    assert(out.nonEmpty)
    val orig = media.collect().map(r => r.doc_id -> r.media).toMap
    for (r <- out) {
      val in = orig(r.doc_id)
      assert(r.n_out == (in.length + 3) / 4 && r.resized.length == r.n_out)
      assert(r.resized.zipWithIndex.forall { case (b, i) => b == in(i * 4) })
    }
  }

  test("winnowing: shared substrings >= t chars share a fingerprint; short docs emit none") {
    val k = 8; val w = 4 // guarantee threshold t = w + k - 1 = 11
    val common = "a very distinctive shared passage of text"
    val docs = Seq(
      (1L, s"first document begins here. $common. and then ends."),
      (2L, s"totally other opening words! $common! closing differently."),
      (3L, "unrelated content with no overlap whatsoever in this doc"),
      (4L, "tiny")
    ).toDF("doc_id", "text")
    val fps = TextOps.winnowFingerprints(docs, col("doc_id"), col("text"), k, w)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert(!fps.contains(4L))
    // density: winnowing keeps roughly 2/(w+1) of gram positions, far
    // fewer than the full gram count
    assert(fps(3L).size < 56 - k + 1)
  }

  test("repetitionStats: hand-computed fractions; single-token doc gets 0 bigram mass") {
    val docs = Seq((1L, "a a a b"), (2L, "hello")).toDF("doc_id", "text")
    val out = TextOps.repetitionStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val d1 = out(1L)
    assert(d1.getLong(1) == 4 && d1.getLong(2) == 2) // n_words, n_distinct
    assert(d1.getDouble(3) == 0.5)                   // dup_word_frac
    assert(d1.getDouble(4) == 0.75)                  // 'a' mass 3 of 4 chars
    assert(d1.getDouble(5) == 1.0)                   // "a a" x2 -> 4 of 4 (overlap counted)
    val d2 = out(2L)
    assert(d2.getLong(1) == 1 && d2.getDouble(3) == 0.0 &&
      d2.getDouble(4) == 1.0 && d2.getDouble(5) == 0.0)
  }

  test("boilerplateReport: df cut flags the shared shingle only") {
    val docs = Seq((1L, "x y z a"), (2L, "x y z b"), (3L, "x y z c"))
      .toDF("doc_id", "text")
    val out = Dedup.boilerplateReport(docs, col("doc_id"), col("text"),
        n = 3, minDf = 3, flagFrac = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    for (d <- 1L to 3L) {
      val r = out(d)
      assert(r.getLong(1) == 2 && r.getLong(2) == 1)   // "x y z" boiler, tail gram not
      assert(r.getDouble(3) == 0.5 && !r.getBoolean(4)) // 0.5 not > 0.5
    }
  }

  test("contaminationReport: probe 5-gram overlap flags the sharing doc only") {
    val corpus = Seq((1L, "p q r s t zz ww"), (2L, "m n o aa bb cc dd"))
      .toDF("doc_id", "text")
    val probes = Seq((100L, "p q r s t u")).toDF("doc_id", "text")
    val out = Dedup.contaminationReport(corpus, probes,
        col("doc_id"), col("text"), n = 5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(1L).getLong(2) == 1 && out(1L).getBoolean(4))
    assert(out(2L).getLong(2) == 0 && !out(2L).getBoolean(4))
  }

  test("CorpusPipeline.curate: one doc per gate, first reason wins, funnel adds up") {
    import graft.scale.CorpusPipeline
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"), // exact dup
      (3L, "tiny doc"),                                                           // too short
      (4L, "a a a a a a a a a a a a"),                                            // repetitive
      (5L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"), // near dup
      (6L, "one two three four five six seven eight nine ten eleven twelve")      // contaminated
    ).toDF("doc_id", "text")
    val probes = Seq((100L, "one two three four five and something else")).toDF("doc_id", "text")
    val cur = CorpusPipeline.curate(docs, Some(probes), col("doc_id"), col("text"))
    val stages = cur.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(stages == Map(1L -> "kept", 2L -> "exact_dup", 3L -> "too_short",
      4L -> "repetitive", 5L -> "near_dup", 6L -> "contaminated"))
    val canon = cur.collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    assert(canon(2L) == 1L && canon(5L) == 1L && canon(1L) == 1L)
    val rep = CorpusPipeline.report(cur).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rep.values.sum == 6 && rep("kept") == 1)
  }

  test("CorpusPipeline.curate: language gate runs first; a wrong-lang doc never claims a keep slot") {
    import graft.scale.CorpusPipeline
    // a fake frozen classifier (the gate contract is any text->bool
    // column): target language == contains " the "
    val docs = Seq(
      (1L, "here the alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "bonjour le monde ici sans marqueur anglais du tout vraiment rien"), // wrong lang
      (3L, "courte"),                                     // wrong lang AND too short
      (4L, "here the alpha beta gamma delta epsilon zeta eta theta iota nu")    // near dup of 1
    ).toDF("doc_id", "text")
    val gate: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      t => t.contains(" the ")
    val cur = CorpusPipeline.curate(docs, None, col("doc_id"), col("text"),
      CorpusPipeline.Config(shingleN = 1, neardupTau = 0.8), langKeep = Some(gate))
    val stages = cur.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(stages(1L) == "kept", stages)
    assert(stages(2L) == "wrong_lang", stages)
    assert(stages(3L) == "wrong_lang", stages) // lang wins over too_short (first gate)
    assert(stages(4L) == "near_dup", stages)
    // without the gate, behavior is unchanged (back-compat: no wrong_lang)
    val cur0 = CorpusPipeline.curate(docs, None, col("doc_id"), col("text"),
      CorpusPipeline.Config(shingleN = 1, neardupTau = 0.8))
    val s0 = cur0.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(!s0.values.exists(_ == "wrong_lang") && s0(2L) == "kept")
    assert(s0(3L) == "too_short")
  }

  test("CorpusPipeline.curate: canonical re-points to the lowest KEPT near-dup member") {
    import graft.scale.CorpusPipeline
    // doc 1: min-id member of the near-dup group but REPETITIVE (Gopher
    // gate) — it must not drag the group down; doc 2 (next member,
    // quality-clean) becomes canonical and survives, doc 3 dies as its
    // near_dup. Without the re-pointing every copy of the content
    // silently vanishes. With 1-word shingles doc 1's DISTINCT unigram
    // set equals doc 2's (repeats don't add shingles), so jaccard = 1.0
    // and the group assignment is LSH-certain.
    val base12 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, (Seq.fill(140)("alpha") :+ base12).mkString(" ")), // dup_word_frac .92
      (2L, base12),
      (3L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
      (4L, "one two three four five six seven eight nine ten eleven twelve")
    ).toDF("doc_id", "text")
    val cfg = CorpusPipeline.Config(shingleN = 1)
    val cur = CorpusPipeline.curate(docs, None, col("doc_id"), col("text"), cfg)
    val rows = cur.collect().map(r => r.getLong(0) -> r).toMap
    val stages = rows.view.mapValues(_.getString(2)).toMap
    assert(stages(1L) == "repetitive", stages)
    assert(stages(2L) == "kept", stages)       // NOT near_dup of dead doc 1
    assert(stages(3L) == "near_dup", stages)
    assert(stages(4L) == "kept", stages)
    val canon = rows.view.mapValues(_.getLong(4)).toMap
    assert(canon(2L) == 2L && canon(3L) == 2L, canon) // lowest KEPT member
  }

  test("CorpusPipeline.curate: optional SemDeDup stage prunes survivors only") {
    import graft.scale.CorpusPipeline
    // docs 1/2/3 pass every text gate with distinct texts; 4 is too
    // short. Embeddings: 2 is a semantic twin of 1 (cos ≈ 1); 3 is
    // orthogonal; 4's twin-of-1 embedding must NOT matter (dead doc);
    // 5 has no embedding row at all... doc 3 also has none — untouched.
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
      (2L, "one two three four five six seven eight nine ten eleven twelve"),
      (3L, "red orange yellow green blue indigo violet cyan magenta white black gray"),
      (4L, "tiny doc")
    ).toDF("doc_id", "text")
    val emb = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.99f, 0.01f)),
      (4L, Array(1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    // k = 1: both surviving embeddings share one cluster (k = 2 would
    // seed each of the two survivors as its own singleton cluster)
    val cfg = CorpusPipeline.Config(semK = 1, semIters = 0, semTau = 0.9)
    val cur = CorpusPipeline.curate(docs, None, col("doc_id"), col("text"),
      cfg, embeddings = Some(emb))
    val stages = cur.collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(stages(1L) == "kept", stages)           // group's lowest survivor
    assert(stages(2L) == "semantic_dup", stages)   // twin of kept doc 1
    assert(stages(3L) == "kept", stages)           // no embedding: untouched
    assert(stages(4L) == "too_short", stages)      // earlier gate wins
    // without embeddings the stage never fires (back-compat)
    val cur0 = CorpusPipeline.curate(docs, None, col("doc_id"), col("text"), cfg)
    assert(!cur0.collect().exists(_.getString(2) == "semantic_dup"))
  }

  test("dedupConsensus: text-only and sem-only conflicts land in the right cells") {
    import graft.scale.Multimodal
    // the two modalities DELIBERATELY disagree: docs 1/2 share text
    // (simhash hamming 0) but carry orthogonal embeddings; docs 3/4 are
    // lexically disjoint paraphrase stand-ins with identical embeddings;
    // doc 5 has no embedding row (unpaired mass)
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta", "s1"),
      (2L, "alpha beta gamma delta epsilon zeta", "s1"),
      (3L, "one two three four five six", "s1"),
      (4L, "red orange yellow green blue indigo", "s1"),
      (5L, "unpaired doc with no embedding row here", "s2")
    ).toDF("doc_id", "text", "source")
    val emb = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(0.6f, 0.8f)), (4L, Array(0.6f, 0.8f))
    ).toDF("vec_id", "embedding")
    // k = 1: one cluster holds all four embeddings, so the semantic
    // verdict sees every pair; tau = 0.9 passes only the identical pair
    val out = Multimodal.dedupConsensus(docs, emb, col("doc_id"), col("text"),
        col("source"), maxHamming = 3, k = 1, iters = 0, tau = 0.9)
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6), r.getDouble(7)))).toMap
    // doc 2: text dup of 1, not semantic (orthogonal) -> text_only
    // doc 4: semantic dup of 3, not textual -> sem_only
    // docs 1/3: neither (lowest ids keep their groups)
    assert(out("s1") == ((4L, 4L, 0L, 1L, 1L, 2L, 0.5)), out("s1"))
    // the unpaired doc counts in n_docs but is never judged
    assert(out("s2") == ((1L, 0L, 0L, 0L, 0L, 0L, 0.0)), out("s2"))
  }

  test("fuzzyContamination: eval twin of a train doc leaks; disjoint eval doc does not") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today", false), // train
      (2L, "completely unrelated training content about spark engines", false),
      (10L, "the quick brown fox jumps over the lazy dog today", true), // leaked twin
      (11L, "zz yy xx ww vv uu tt ss rr qq", true),                     // novel
      (12L, "   ", true)                                                // token-less
    ).toDF("doc_id", "text", "ev")
    val out = Dedup.fuzzyContamination(docs, col("doc_id"), col("text"), col("ev"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getInt(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(10L)._2 == 0 && out(10L)._3 == 1L && out(10L)._4,
      s"exact twin leaks at hamming 0: ${out.get(10L)}")
    assert(!out.get(11L).exists(_._4), "novel doc must not leak")
    assert(!out.contains(12L), "token-less docs carry no fingerprint")
  }

  test("banded audits are layout-independent at maxHamming <= 3 (pigeonhole): 4x16 == 8x8 over the 64-bit kernel") {
    import graft.scale.{Banding, Multimodal}
    // same 64-bit fingerprint, two different tilings that both leave a
    // band intact at hamming <= 3 — verdicts must be IDENTICAL (the
    // pigeonhole completeness claim, executed): consensus matrix and
    // contamination flags over the real corpus
    val docs = Tables.documents(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val wide88 = Banding.Config(bands = 8, bandBits = 8, wide = true)
    def consensus(cfg: Banding.Config) =
      Multimodal.dedupConsensus(docs, emb, col("doc_id"), col("text"),
          col("source"), cfg = cfg)
        .collect().map(r => r.getString(0) -> r.toSeq.tail).toMap
    assert(consensus(Banding.wide64) == consensus(wide88))
    val ev = col("doc_id") % 10 === 0
    def leaks(cfg: Banding.Config) =
      Dedup.fuzzyContamination(docs, col("doc_id"), col("text"), ev, cfg = cfg)
        .select(col("eval_id"), col("leaked"))
        .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val l16 = leaks(Banding.wide64)
    val l88 = leaks(wide88)
    // candidate SETS differ across layouts (n_cands may differ); the
    // at-threshold verdict cannot
    assert(l16.keySet.filter(l16) == l88.keySet.filter(l88))
  }

  test("incrementalDedup: delta doc matches its index twin; novel doc stays unmatched") {
    val index = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "completely unrelated index content about spark engines")
    ).toDF("doc_id", "text")
    val delta = Seq(
      (10L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 1
      (11L, "zz yy xx ww vv uu tt ss rr qq")                      // novel
    ).toDF("doc_id", "text")
    val out = Dedup.incrementalDedup(index, delta, col("doc_id"), col("text"),
        n = 3, tau = 0.5)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(out(10L).getLong(1) == 1L && out(10L).getDouble(2) == 1.0 &&
      out(10L).getBoolean(3))
    assert(out(11L).getLong(1) == -1L && out(11L).getDouble(2) == 0.0 &&
      !out(11L).getBoolean(3))
  }

  test("dimCorrPairs: gram-derived corr is exact on hand vectors; dead dim -> null") {
    // dims: t, 2t, -t, const -> corr(0,1)=1, (0,2)=-1, (1,2)=-1, any pair with 3 null
    val rows = Seq(1f, 2f, 3f).map(t => Tuple1(Array(t, 2 * t, -t, 5f)))
    val corpus = rows.toDF("embedding").repartition(3) // force partial merges
    val got = Similarity.dimCorrPairs(corpus).collect()
      .map(r => (r.getInt(0), r.getInt(1)) ->
        (if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toMap
    assert(got.size == 6)
    assert(math.abs(got((0, 1)).get - 1.0) < 1e-12 &&
      math.abs(got((0, 2)).get + 1.0) < 1e-12 &&
      math.abs(got((1, 2)).get + 1.0) < 1e-12)
    assert(got((0, 3)).isEmpty && got((1, 3)).isEmpty && got((2, 3)).isEmpty)
  }

  test("mixtureWeights: alpha-temperature weights normalize; epochs = weight*budget/tokens") {
    val docs = Seq.tabulate(16)(i => (s"d$i", "a")) ++ Seq(("e", ("a " * 81).trim))
    val df = docs.toDF("id", "text")
      .withColumn("source", when(col("id") === "e", "big").otherwise("small"))
    val out = Splits.mixtureWeights(df, col("source"), TextOps.nTokens(col("text")),
        alpha = 0.5, budgetTokens = 130L)
      .collect().map(r => r.getString(0) -> r).toMap
    // tokens: small=16 (16 docs x 1), big=81; sqrt-> 4 and 9, z=13
    assert(out("small").getLong(2) == 16 && out("big").getLong(2) == 81)
    assert(math.abs(out("small").getDouble(3) - 4.0 / 13) < 1e-12)
    assert(math.abs(out("big").getDouble(3) - 9.0 / 13) < 1e-12)
    assert(math.abs(out("small").getDouble(4) - 2.5) < 1e-12)      // 40/16
    assert(math.abs(out("big").getDouble(4) - 90.0 / 81) < 1e-12)
    assert(math.abs(out.values.map(_.getDouble(3)).sum - 1.0) < 1e-12)
  }

  test("mixture budget: rates cap at 1, the binding source saturates, weights sum to 1") {
    val rows = graft.queries.ScaleQueries.defs("q195_mixture_budget")(
      spark, "/root/testdata/sf0.001").collect()
    assert(rows.length == 20)
    val weightSum = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(weightSum - 1.0) < 1e-3, weightSum.toString) // 4dp-rounded parts
    val budgets = rows.map(_.getAs[Double]("budget_tokens")).distinct
    assert(budgets.length == 1) // one corpus-wide budget
    rows.foreach { r =>
      val rate = r.getAs[Double]("rate")
      assert(rate <= 1.0 + 1e-9, r.toString)
      assert(r.getAs[Double]("sampled_tokens") <= r.getAs[Long]("tokens") + 1e-6, r.toString)
      if (r.getAs[Boolean]("binding")) assert(math.abs(rate - 1.0) < 1e-9, r.toString)
    }
    assert(rows.count(_.getAs[Boolean]("binding")) >= 1)
  }

  test("Pca.topComponent recovers a rank-1 direction exactly") {
    // points t·(3,4), t ∈ {-2..2}: cov = 2·[[9,12],[12,16]], top
    // eigenvector (0.6, 0.8), λ = trace = 50 → explained ratio 1
    val df = Seq(-2f, -1f, 0f, 1f, 2f)
      .map(t => Tuple1(Array(3 * t, 4 * t))).toDF("embedding")
    val c = graft.scale.Pca.topComponent(df, col("embedding"), iters = 6)
    assert(c.d == 2 && c.n == 5)
    assert(c.loadings.toSeq == Seq(0.6, 0.8), c.loadings.toSeq.toString)
    assert(c.lambda == 50.0 && c.explainedRatio == 1.0,
      s"${c.lambda} ${c.explainedRatio}")
    assert(c.means.toSeq == Seq(0.0, 0.0), c.means.toSeq.toString)
  }

  test("topComponents: deflation recovers orthogonal axes; full-rank reconstruction nulls the residual") {
    // axis-aligned corpus: cov = diag(10/6, 2/6); deflation must hand
    // component 2 the minor axis, and k=2 reconstruction is lossless
    val pts = Seq((2f, 0f), (-2f, 0f), (1f, 0f), (-1f, 0f), (0f, 1f), (0f, -1f))
    val df = pts.map { case (a, b) => Tuple1(Array(a, b)) }.toDF("embedding")
    val cs = graft.scale.Pca.topComponents(df, col("embedding"), k = 2, iters = 6)
    assert(cs.length == 2)
    assert(math.abs(math.abs(cs(0).loadings(0)) - 1.0) < 0.01 &&
      math.abs(cs(0).loadings(1)) < 0.01, cs(0).loadings.toSeq.toString)
    assert(math.abs(cs(1).loadings(0)) < 0.01 &&
      math.abs(math.abs(cs(1).loadings(1)) - 1.0) < 0.01, cs(1).loadings.toSeq.toString)
    assert(math.abs(cs(0).lambda - 10.0 / 6) < 0.01, cs(0).lambda.toString)
    assert(math.abs(cs(1).lambda - 2.0 / 6) < 0.01, cs(1).lambda.toString)
    val errs = df.select(
      graft.scale.Pca.reconstructionError(col("embedding"), cs).as("e"))
      .collect().map(_.getDouble(0))
    errs.foreach(e => assert(math.abs(e) < 0.01, e.toString))
    // zero-variance corpus: the power iterate collapses and is rejected
    val const = Seq.fill(4)(Tuple1(Array(1f, 1f))).toDF("embedding")
    val err = intercept[IllegalArgumentException] {
      graft.scale.Pca.topComponents(const, col("embedding"), k = 1, iters = 3)
    }
    assert(err.getMessage.contains("collapsed"), err.getMessage)
  }

  test("Pca.reconstructionError: zero on the component line, exact off it") {
    // fit on t·(3,4): loadings (0.6, 0.8), means (0,0). On-line points
    // reconstruct exactly; the orthogonal point (-4,3) keeps its full
    // squared norm 25; (1,0) keeps 1 - 0.36 = 0.64
    val fit = Seq(-2f, -1f, 0f, 1f, 2f)
      .map(t => Tuple1(Array(3 * t, 4 * t))).toDF("embedding")
    val c = graft.scale.Pca.topComponent(fit, col("embedding"), iters = 6)
    val score = Seq(Array(6f, 8f), Array(-4f, 3f), Array(1f, 0f))
      .map(Tuple1(_)).toDF("embedding")
      .select(graft.scale.Pca.reconstructionError(col("embedding"), c).as("err"))
      .collect().map(_.getDouble(0))
    assert(math.abs(score(0)) < 1e-9, score(0).toString)
    assert(math.abs(score(1) - 25.0) < 1e-9, score(1).toString)
    assert(math.abs(score(2) - 0.64) < 1e-9, score(2).toString)
    // a component without means (pre-round-6 shape) is rejected
    val bare = c.copy(means = Array.empty)
    intercept[IllegalArgumentException] {
      graft.scale.Pca.reconstructionError(col("embedding"), bare)
    }
  }

  test("Bpe.fit: hand-computed merges incl. same-token runs and tie-break") {
    // banana×3 + bandana + aaaa×2:
    //  round 1: (a,n) cnt 8  — plain distinct-pair merge
    //  round 2: (a,a) cnt 6  — run "aaaa" must merge greedily to aa,aa
    //                           (odd offsets only), not aa,aa,AA-overlap
    //  round 3: (an,a) vs (b,an) tie at 4 — lexicographic left wins
    val words = Seq(("banana", 3L), ("bandana", 1L), ("aaaa", 2L))
      .toDF("word", "freq")
    val ms = graft.scale.Bpe.fit(words, col("word"), col("freq"), rounds = 3)
    assert(ms.map(m => (m.left, m.right, m.count)) ==
      Seq(("a", "n", 8L), ("a", "a", 6L), ("an", "a", 4L)), ms.toString)
    // vocab after each round: {b,an,a,d}; +aa; then (an,a) consumes the
    // final bare 'a' of banana/bandana and adds ana: {b,an,ana,d,aa}
    assert(ms.map(_.vocabAfter) == Seq(4L, 5L, 5L), ms.toString)
  }

  test("duplicateSpanReport: hand-computed interval unions incl. overlap, within-doc repeats and short docs") {
    val docs = Seq(
      // "a b c d e f g h" repeats WITHIN the doc (pos 0 and 11):
      // union [0,8) ∪ [11,19) = 16 covered of 20
      (1L, "a b c d e f g h x y z a b c d e f g h q"),
      // self-overlapping repeats: spans at pos 0,1,9,10 all duplicated,
      // union covers every one of the 18 tokens
      (2L, "p q r s t u v w x p q r s t u v w x"),
      // unique 9-token doc: 2 spans, none duplicated
      (3L, "one two three four five six seven eight nine"),
      // short doc: no spans at all
      (4L, "a b c"))
      .toDF("doc_id", "text")
    val out = Dedup.duplicateSpanReport(docs, col("doc_id"), col("text"), k = 8)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == ((20L, 13L, 2L, 16L)), s"doc1 ${out(1L)}")
    assert(out(2L) == ((18L, 11L, 4L, 18L)), s"doc2 ${out(2L)}")
    assert(out(3L) == ((9L, 2L, 0L, 0L)), s"doc3 ${out(3L)}")
    assert(out(4L) == ((3L, 0L, 0L, 0L)), s"doc4 ${out(4L)}")
  }

  test("Splits.bucketLocal equals the bucket column for every salt/id/n tried") {
    // the driver-side md5 draw (hyperparameter sampling, q207) must
    // agree with the distributed expression the oracle replays
    val ids = (0L to 50L) ++ Seq(999999L, 123456789L)
    val df = ids.toDF("id")
    for ((salt, n) <- Seq(("lr", 10000), ("it", 10), ("split", 100), ("rsval", 5))) {
      val dist = df.select(col("id"), Splits.bucket(col("id"), salt, n).as("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      ids.foreach { id =>
        assert(Splits.bucketLocal(salt, id.toString, n) == dist(id),
          s"salt=$salt n=$n id=$id")
      }
    }
  }

  test("Pii: counts, redaction chain order, and boundary behavior on a hand fixture") {
    import graft.scale.Pii
    val docs = Seq(
      (1L, "mail me at jo.na-84@sub.example.co.uk or jd@x.io thanks"),
      (2L, "call 555-010-1234 or 555.010.9999 not 55-010-1234"),
      (3L, "host 10.0.13.25 and 192.168.1.1, not 1.2.3"),
      (4L, "acct 123456789 card 1234567890123456 short 12345678 long 12345678901234567"),
      (5L, "clean text with no personal data at all"),
      (6L, "mixed: a@b.co 1.2.3.4 111-222-3333 999999999"))
      .toDF("doc_id", "text")
    val out = docs.select(col("doc_id"),
        Pii.countOf(col("text"), Pii.emailPattern).as("e"),
        Pii.countOf(col("text"), Pii.phonePattern).as("p"),
        Pii.countOf(col("text"), Pii.ipv4Pattern).as("i"),
        Pii.countOf(col("text"), Pii.digitRunPattern).as("d"),
        Pii.redact(col("text")).as("red"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5))))
      .toMap
    assert(out(1)._1 == 2 && out(1)._5 ==
      "mail me at <EMAIL> or <EMAIL> thanks")
    // 55-010-1234: the leading group has 2 digits -> no match (\\b holds)
    assert(out(2)._2 == 2 && out(2)._5 ==
      "call <PHONE> or <PHONE> not 55-010-1234")
    // 1.2.3 has three octets -> not an IPv4
    assert(out(3)._3 == 2 && out(3)._5 ==
      "host <IP> and <IP>, not 1.2.3")
    // 9 and 16 digits match; 8 too short; 17 too long (\\b bounds the run)
    assert(out(4)._4 == 2 && out(4)._5 ==
      "acct <NUM> card <NUM> short 12345678 long 12345678901234567")
    assert(out(5) == ((0L, 0L, 0L, 0L, "clean text with no personal data at all")))
    // chain order: email first, then IP, then phone, then digit run —
    // each replacement token is inert for every later pattern
    assert(out(6) == ((1L, 1L, 1L, 1L, "mixed: <EMAIL> <IP> <PHONE> <NUM>")))
  }

  test("gopherRepetition: hand-computed gram masses, dup-5 interval union, and the published thresholds") {
    // doc 1: "a b a b a b a b" (8 tokens, word_chars=8)
    //   top 2-gram "a b" occurs 4x, mass 4*2=8 -> top2 = 8/8 = 1.0 (>0.20)
    //   dup 5-grams: positions 0..3, spans alternate "a b a b a"/"b a b a b",
    //   each occurring 2x -> all dup; union covers all 8 tokens -> dup5 = 1.0
    // doc 2: 40 DISTINCT tokens (tok1..tok40) -> all gram counts 1, the
    //   masses are just the longest gram's chars over 191 total: far
    //   below every threshold, so a long organic doc must NOT flag
    // doc 4: one token; no grams at all -> zero fracs
    // doc 5: empty text; doc 6: null text -> no tokens, zero fracs
    val docs = Seq(
      (1L, "a b a b a b a b"),
      (2L, (1 to 40).map(i => s"tok$i").mkString(" ")),
      (4L, "solo"),
      (5L, ""),
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val out = TextOps.gopherRepetition(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4),
          r.getDouble(5), r.getBoolean(6)))).toMap
    assert(out(1)._1 == 8L)
    assert(out(1)._2 == 1.0, "top2: 'a b' 4 occurrences x 2 chars over 8 chars")
    // top3 'a b a' at positions 0,2,4 -> 3x, mass 3*3=9 over 8 = 1.125
    assert(out(1)._3 == 1.125)
    // top4 'a b a b' at positions 0,2,4 -> 3x, mass 3*4=12 over 8 = 1.5
    assert(out(1)._4 == 1.5)
    assert(out(1)._5 == 1.0 && out(1)._6, "all 5-grams duplicated -> full coverage")
    // doc 2: word_chars = 9*4 + 31*5 = 191; heaviest 2/3/4-gram = the
    // all-5-char-token runs (10/15/20 chars); nothing flags
    assert(out(2)._2 == 0.0524 && out(2)._3 == 0.0785 && out(2)._4 == 0.1047)
    assert(out(2)._5 == 0.0 && !out(2)._6, "distinct tokens: no dup spans, no flag")
    assert(out(4) == ((1L, 0.0, 0.0, 0.0, 0.0, false)))
    assert(out(5) == ((0L, 0.0, 0.0, 0.0, 0.0, false)))
    assert(out(6) == ((0L, 0.0, 0.0, 0.0, 0.0, false)))
  }

  test("C4 line rules: kept lines, doc flags and keep decision on hand fixtures") {
    import graft.scale.C4
    val goodDoc = "alpha beta gamma delta epsilon.\nzeta eta theta iota kappa!\nlambda mu nu xi omicron?"
    val docs = Seq(
      // l1 kept (terminal, 6 words); l2 no terminal punct -> dropped;
      // l3 terminal but 2 words -> dropped; l4 kept (5 words, '!')
      (1L, "this line has five words here.\nno terminal punct line\nshort one.\nanother good line with words!"),
      (2L, goodDoc),                                               // 3 kept -> doc kept
      (3L, goodDoc + "\nlorem ipsum dolor sit amet."),             // lorem -> dropped
      (4L, goodDoc + "\nvar x = { a: 1 };"),                       // brace -> dropped
      (5L, goodDoc + "\nbig casino wins await you tonight."),      // bad word -> dropped
      // javascript is a LINE rule: the line drops, the doc survives
      (6L, goodDoc + "\nplease enable javascript to continue viewing."),
      (7L, ""),
      (8L, null.asInstanceOf[String]),
      // CRLF corpus: the \r must strip at the split — otherwise Java's
      // `$` matches before the trailing \r while RE2 engines do not
      // (ADVICE r13), and the \r would also inflate kept_chars
      (9L, goodDoc.replace("\n", "\r\n"))
    ).toDF("doc_id", "text")
    val out = C4.lineStats(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4),
          r.getBoolean(5), r.getBoolean(6), r.getBoolean(7)))).toMap
    val keptChars1 = "this line has five words here.".length.toLong +
      "another good line with words!".length
    assert(out(1L) == ((4L, 2L, keptChars1, false, false, false, false)))
    val goodChars = goodDoc.split("\n").map(_.length.toLong).sum
    assert(out(2L) == ((3L, 3L, goodChars, false, false, false, true)))
    assert(out(3L) == ((4L, 4L, goodChars + "lorem ipsum dolor sit amet.".length,
      true, false, false, false)))
    assert(out(4L)._5 && !out(4L)._7, "brace doc dropped")
    assert(out(4L)._2 == 3L, "brace line has no terminal punct -> not kept")
    assert(out(5L)._6 && !out(5L)._7, "bad-word doc dropped")
    assert(out(6L) == ((4L, 3L, goodChars, false, false, false, true)),
      "javascript drops the LINE, not the doc")
    assert(out(7L) == ((0L, 0L, 0L, false, false, false, false)))
    assert(out(8L) == ((0L, 0L, 0L, false, false, false, false)))
    assert(out(9L) == out(2L), "CRLF doc behaves exactly like its LF twin")
  }

  test("Gopher quality rules: each bound trips its flag; clean doc survives") {
    val good = ("alpha beta gamma delta epsilon " * 10) + "the of and that"
    val docs = Seq(
      (1L, good),                                              // survives
      (2L, "the of and that tiny"),                            // < 50 words
      (3L, good + " " + ("pneumonoultramicroscopics " * 40)),  // mean len > 10
      (4L, good + " " + ("# " * 20)),                          // hash ratio
      (5L, good + " " + ("word... " * 20)),                    // ellipsis ratio
      (6L, (1 to 10).map(i => s"- bullet item $i alpha beta").mkString("\n")),
      (7L, (1 to 10).map(i =>
        if (i <= 4) s"line $i trails off..." else s"line $i ends firmly")
        .mkString("\n") + " " + good),                         // 40% ellipsis lines
      (8L, good + " " + ("12345 " * 20)),                      // alpha frac < 0.8
      (9L, "alpha beta gamma delta epsilon " * 10),            // no stop words
      (10L, "")                                                // empty
    ).toDF("doc_id", "text")
    val out = TextOps.gopherQuality(docs, col("doc_id"), col("text"))
      .collect().map(r => r.getLong(0) -> r).toMap
    def flag(id: Long) = out(id).getBoolean(9)
    assert(!flag(1L), "clean doc survives")
    assert(out(1L).getLong(1) == 54 && out(1L).getLong(8) == 4)
    assert(flag(2L) && out(2L).getLong(1) < 50)
    assert(flag(3L) && out(3L).getDouble(2) > 10.0, "mean word length")
    assert(flag(4L) && out(4L).getDouble(3) > 0.1, "hash ratio")
    assert(flag(5L) && out(5L).getDouble(4) > 0.1, "ellipsis ratio")
    assert(flag(6L) && out(6L).getDouble(5) > 0.9, "bullet lines")
    assert(flag(7L) && out(7L).getDouble(6) > 0.3 && out(7L).getDouble(6) < 0.5,
      "ellipsis lines")
    assert(flag(8L) && out(8L).getDouble(7) < 0.8, "alpha word fraction")
    assert(flag(9L) && out(9L).getLong(8) == 0, "stop words")
    assert(flag(10L) && out(10L).getLong(1) == 0L && out(10L).getDouble(2) == 0.0)
  }

  test("BM25: pair scores match the Okapi formula computed by hand") {
    import graft.scale.Retrieval
    val docs = Seq(
      (0L, "apple banana apple"),
      (1L, "apple cherry"),
      (2L, "banana banana durian")
    ).toDF("doc_id", "text")
    val out = Retrieval.bm25Pairs(docs, col("doc_id"), col("text"),
        col("doc_id") === 0L)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // N=3, avgdl = 8/3; df: apple 2, banana 2; query 0 = {apple, banana}
    val avgdl = 8.0 / 3
    def idf(df: Long) = math.log((3L - df + 0.5) / (df + 0.5) + 1.0)
    def tfp(tfc: Long, len: Long) = (tfc * (1.2 + 1.0)) /
      (tfc + 1.2 * ((1.0 - 0.75) + 0.75 * (len.toDouble / avgdl)))
    val d1 = idf(2) * tfp(1, 2) // doc1: apple tf=1, len=2
    val d2 = idf(2) * tfp(2, 3) // doc2: banana tf=2, len=3
    assert(out.keySet == Set((0L, 1L), (0L, 2L)), "self excluded, 2 candidates")
    assert(math.abs(out((0L, 1L)) - d1) < 1e-12, s"${out((0L, 1L))} vs $d1")
    assert(math.abs(out((0L, 2L)) - d2) < 1e-12, s"${out((0L, 2L))} vs $d2")
  }

  test("source unigram KL matches the hand-computed two-source fixture") {
    val docs = Seq(("A", "a a b"), ("B", "b c")).toDF("source", "text")
    val out = TextOps.sourceUnigramKl(docs, col("source"), col("text"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // corpus: a 2, b 2, c 1 of 5
    val klA = (2.0 / 3) * math.log((2.0 / 3) / (2.0 / 5)) +
      (1.0 / 3) * math.log((1.0 / 3) / (2.0 / 5))
    val klB = (1.0 / 2) * math.log((1.0 / 2) / (2.0 / 5)) +
      (1.0 / 2) * math.log((1.0 / 2) / (1.0 / 5))
    assert(out("A")._1 == 3L && out("A")._2 == 2L)
    assert(out("B")._1 == 2L && out("B")._2 == 2L)
    assert(math.abs(out("A")._3 - klA) < 1e-12)
    assert(math.abs(out("B")._3 - klB) < 1e-12)
    // KL is non-negative and zero iff the source IS the corpus
    val one = TextOps.sourceUnigramKl(
      Seq(("X", "a b c")).toDF("source", "text"), col("source"), col("text"))
      .collect()
    assert(math.abs(one.head.getDouble(3)) < 1e-15)
  }

  test("BM25 posting truncation: huge m is exact, m=1 keeps one posting per term") {
    import graft.scale.Retrieval
    val docs = Seq(
      (0L, "apple banana apple cherry"),
      (1L, "apple cherry cherry"),
      (2L, "banana banana durian apple"),
      (3L, "cherry durian banana apple apple")
    ).toDF("doc_id", "text")
    val tf = Retrieval.tokenIndex(docs, col("doc_id"), col("text"),
      col("doc_id") === 0L)
    def pairs(p: Option[Int]) =
      Retrieval.bm25PairsFromIndex(tf, pruneTo = p)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = pairs(None)
    assert(pairs(Some(100)) == exact, "m beyond every posting list is exact")
    val m1 = pairs(Some(1))
    // every surviving contribution exists in the exact score set and a
    // pruned doc's score never exceeds its exact score
    assert(m1.keySet.subsetOf(exact.keySet))
    m1.foreach { case (k, v) => assert(v <= exact(k) + 1e-12, s"$k") }
    // m=1 keeps the max-tf posting (doc tie-break): banana -> doc 2
    // (tf 2); apple -> doc 0 (tf 2, the query itself) so no candidate
    // survives via apple; cherry -> doc 1 (tf 2)
    assert(m1.contains((0L, 2L)) && m1.contains((0L, 1L)))
  }
}
