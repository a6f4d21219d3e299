package graft

import graft.plans.Tuning
import graft.queries.{CoreQueries, PipelineQueries, RelationalQueries}
import graft.tables.Tables
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the 100 TB posture is a property of
  * the PLAN, not the output: filters/projections must reach the parquet
  * scan, small dims must broadcast, and a multi-window feature view must
  * cost exactly one exchange on the entity key.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = Session.local(4)

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect() // materialize so AQE reports the FINAL plan incl. codegen
    // AQE's toString appends the pre-execution plan after "== Initial
    // Plan ==" — keep only the final executed tree
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }

  test("filter and column pruning reach the parquet scan") {
    val p = plan(Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_extendedprice"))
      .filter(col("l_extendedprice") > 1000.0))
    assert(p.contains("PushedFilters: [IsNotNull(l_extendedprice), GreaterThan(l_extendedprice,1000.0)"), p)
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_extendedprice:double>"), p)
  }

  test("72-feature view costs exactly one exchange (all windows share the sort)") {
    // the backfill kernel reads its sorted input as an RDD, so the
    // exchange shows in the lineage of the rows, not in the frame's plan
    def shuffles(rdd: org.apache.spark.rdd.RDD[_]): Seq[Int] = rdd.dependencies.flatMap {
      case d: org.apache.spark.ShuffleDependency[_, _, _] => d.shuffleId +: shuffles(d.rdd)
      case d => shuffles(d.rdd)
    }
    val df = PipelineQueries.defs("q37_full_features")(spark, sf)
    val ids = shuffles(df.queryExecution.toRdd).distinct
    assert(ids.length == 1, s"expected 1 exchange, got ${ids.length}:\n${df.queryExecution.toRdd.toDebugString}")
  }

  test("risk pipeline costs one exchange and stays in whole-stage codegen") {
    val p = plan(CoreQueries.defs("q08_risk_score")(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges")
    assert(p.contains("*("), p) // "*(n)" operator prefix == whole-stage codegen stage
  }

  test("peak-velocity: both frames and the max ride ONE exchange on the entity key") {
    // window partitionBy(customer) then groupBy(customer): the aggregation
    // reuses the window's hash partitioning — no second shuffle
    val p = plan(graft.queries.DomainQueries.defs("q111_peak_velocity")(spark, sf))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
  }

  test("trigram diversity is a narrow kernel projection: no exchange at all") {
    val p = plan(graft.queries.DomainQueries.defs("q129_trigram_diversity")(spark, sf))
    assert(!p.contains("Exchange hashpartitioning"), s"narrow plan expected:\n$p")
    assert(p.contains("trigram_stats"), p)
  }

  test("dimension joins broadcast the small side") {
    val p = plan(RelationalQueries.defs("q26_segment_revenue")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("feature lookup join broadcasts the snapshot side") {
    val p = plan(RelationalQueries.defs("q20_feature_lookup")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("broadcast"), p)
  }

  test("window distincts use the native aggregate, not per-row collect_set arrays") {
    val p = plan(new AmlFeatureStore(spark).customerFeatures(Tables.transactions(spark, sf)))
    assert(p.contains("exact_distinct"), p)
    assert(!p.contains("collect_set"), p)
  }

  test("date-partitioned store prunes partitions dynamically from a dim filter") {
    // The offline store at 100 TB is parquet partitioned by event date
    // (SURVEY §4.2): a join against a filtered date dimension must prune
    // unscanned partitions at RUNTIME (DPP), not read the full fact table.
    val dir = new java.io.File("target/tmp/dpp_events").getAbsolutePath
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    Tables.events(spark, sf)
      .withColumn("event_date", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("event_date").parquet(dir)
    val fact = spark.read.parquet(dir)
    // DPP requires a SELECTIVE predicate on the dim side (a bare limit or
    // constant column doesn't qualify) — a real filter over a date dim
    val dates = spark.range(0, 60)
      .where(col("id") % 30 === 0)
      .select(date_add(lit("2024-01-01").cast("date"), col("id").cast("int")).as("event_date"))
    val joined = fact.join(broadcast(dates), Seq("event_date"))
      .groupBy(col("event_date")).agg(count(lit(1)).as("n"), sum(col("value")).as("v"))
    val p = plan(joined)
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic partition pruning filter on the scan:\n$p")
  }

  test("winnowing operator is narrow — only the compute-spreading repartition shuffles") {
    val p = plan(graft.queries.ScaleQueries.defs("q55_winnowing")(spark, sf))
    val exchanges = "Exchange".r.findAllIn(p).length
    assert(exchanges == 1, s"expected only the explicit repartition, got $exchanges:\n$p")
    assert(!p.contains("Exchange hashpartitioning"), s"no key shuffle expected:\n$p")
    // the kernel itself adds none: no window sort either
    assert(!p.contains("WindowExec"), p)
  }

  test("simhash kernel is a narrow projection — no token explode, no exchange") {
    val p = plan(graft.scale.Dedup.simhash(Tables.documents(spark, sf),
      col("doc_id"), col("text")))
    assert(!p.contains("Exchange"), s"narrow plan expected:\n$p")
    assert(!p.contains("Generate"), s"no explode expected:\n$p") // Generate = explode
  }

  test("structuring screen is one hash-aggregate exchange on the entity key") {
    val p = plan(graft.ops.AmlPatterns.structuring(
      Tables.transactions(spark, sf), threshold = 100.0))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$p")
    assert(p.contains("partial"), p) // map-side partial aggregation present
  }

  test("fuzzy match plans an equi-join on the block key, not a nested-loop product") {
    val p = plan(graft.scale.FuzzyMatch.pairs(Tables.documents(spark, sf),
      col("doc_id"), col("text")))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"blocked equi-join expected:\n$p")
  }

  test("scalar-anchor queries broadcast the 1-row aggregate, never a cartesian shuffle") {
    for (q <- Seq("q93_decayed_activity", "q97_rfm", "q100_cusum")) {
      val p = plan(graft.queries.DomainQueries.defs(q)(spark, sf))
      assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoop"),
        s"$q should broadcast its anchor:\n$p")
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
    }
  }

  test("shared-id pair mining joins on the identifier key (no cross product)") {
    val p = plan(graft.queries.DomainQueries.defs("q98_shared_id_pairs")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"equi-join expected:\n$p")
  }

  test("decontamination: the probe shingle set broadcasts; corpus shingles never shuffle for the match") {
    val p = plan(graft.queries.ScaleQueries.defs("q147_decontam")(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"broadcast semi-join expected:\n$p")
  }

  test("column profile: every per-column aggregate prunes its scan to that one column") {
    val p = plan(graft.queries.OlapQueries.defs("q158_column_profile")(spark, sf))
    // a profile that reads all 11 columns for each single-column stat
    // would be 11x the IO at 100 TB — each union branch must scan one field
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint>"), p)
    assert(p.contains("ReadSchema: struct<l_returnflag:string>"), p)
    assert(!p.contains("ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint"), p)
  }

  test("incremental dedup: the delta batch's band keys broadcast against the index") {
    val p = plan(graft.queries.ScaleQueries.defs("q154_incremental_dedup")(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"delta band keys should broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("embedding near-dup exact pairs: block-partitioned join, no driver collect") {
    // the 100 TB contract: the exact all-pairs path must be a distributed
    // self-join over id-blocks — never a corpus collect() to the driver
    // (object-mode MapPartitions over a broadcast array) and never a
    // single-partition stage over the corpus
    val df = graft.queries.ScaleQueries.defs("q44_embedding_dups")(spark, sf)
    val p = plan(df)
    assert(!p.contains("MapPartitions"), s"driver-kernel path resurfaced:\n$p")
    assert(!p.contains("DeserializeToObject"), p)
    assert(!p.contains("Exchange SinglePartition"), p)
    assert(p.contains("Join"), s"expected a distributed self-join:\n$p")
  }

  test("behavioral profile: the entity-scale rank table is NOT hint-broadcast") {
    // ranks has one row per entity — same cardinality as the left side. A
    // forced broadcast hint there is an OOM at 10⁹ customers. With the
    // auto-broadcast threshold off, only an explicit hint could broadcast
    // an equi-join — so the k-join must plan as a shuffle join; the 1-row
    // population aggregate keeps its explicit broadcast (nested-loop cross).
    Tuning.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val tx = Tables.transactions(spark, sf)
      val p = plan(graft.ops.Behavioral.profile(
        tx, col("customer_id"), col("amount"), col("merchant_id")))
      // GlobalOrder's ≤#partitions-row bucket-offset joins (__go_bkt key)
      // legitimately broadcast; only the entity-key join must not
      val entityBroadcast = "BroadcastHashJoin \\[k#".r.findFirstIn(p)
      assert(entityBroadcast.isEmpty,
        s"entity-scale rank table must shuffle-join, not broadcast:\n$p")
      assert(p.contains("SortMergeJoin [k#") || p.contains("ShuffledHashJoin [k#"),
        s"expected a shuffle join on the entity key:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin"),
        s"1-row population aggregate should still broadcast:\n$p")
    }
  }

  test("tf-idf df join: word vocab broadcasts; over-threshold vocab falls back to shuffle join") {
    Tuning.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = Tables.documents(spark, sf)
      val small = plan(graft.scale.TextOps.tfidfTopK(docs, col("doc_id"), col("text"), 3))
      assert(small.contains("BroadcastHashJoin"),
        s"small vocab should broadcast the df side:\n$small")
      val big = plan(graft.scale.TextOps.tfidfTopK(docs, col("doc_id"), col("text"), 3,
        maxBroadcastVocab = 0L))
      assert(!big.contains("BroadcastHashJoin"),
        s"over-threshold vocab must not broadcast:\n$big")
      assert(big.contains("SortMergeJoin") || big.contains("ShuffledHashJoin"),
        s"expected a term-keyed shuffle join:\n$big")
    }
  }

  test("cell-partitioned q44 join shuffles on BOTH cell coordinates") {
    // disable auto-broadcast so the cluster-scale plan shape materializes
    // (at real corpus scale neither side broadcasts)
    Tuning.withConf(spark, "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.queries.ScaleQueries.defs("q44_embedding_dups")(spark, sf))
      assert("hashpartitioning\\(ci#\\d+, cj#\\d+".r.findFirstIn(p).isDefined,
        s"expected (ci, cj) cell-keyed exchange:\n$p")
    }
  }

  test("naive bayes: model tables broadcast; the scored side never shuffle-joins") {
    // prior (1 row) + per-feature likelihood tables (bucket cardinality)
    // all broadcast — the held-out side must flow through with no
    // shuffle join and no cross product at any data scale
    val p = plan(graft.queries.ModelQueries.defs("q167_naive_bayes")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"scored side must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3,
      s"three likelihood joins should broadcast:\n$p")
  }

  test("k-means summary plans zero joins — centroids enter as literals") {
    // the iteration collects happen at construction (k rows each); the
    // returned plan is scan -> assignment projection -> one k-group agg
    val p = plan(graft.queries.ModelQueries.defs("q170_kmeans")(spark, sf))
    assert(!p.contains("Join"), s"assignment must be join-free:\n$p")
    val ex = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(ex == 1, s"expected one exchange (cluster-id agg), got $ex:\n$p")
  }

  test("decision stump: argmin is a top-k merge, not a global sort") {
    val p = plan(graft.queries.ModelQueries.defs("q168_decision_stump")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-k argmin:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("sequence packing: bounded bin fan-out, offsets from partitioned windows") {
    val p = plan(graft.queries.ModelQueries.defs("q169_seq_packing")(spark, sf))
    assert(p.contains("Generate explode"), s"expected the bounded bin explode:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // every window is bucket-partitioned (GlobalOrder) — a bare
    // Window.orderBy would print "Window [..], [..]" with no partition list
    assert(!"Window \\[[^\\]]*\\], \\[[^\\]]*\\]\\n".r.findFirstIn(p).exists(_.contains(", []")), p)
  }

  test("stump bagging: each 1-row best-stump broadcasts onto the vote scan") {
    val p = plan(graft.queries.ModelQueries.defs("q171_stump_bagging")(spark, sf))
    assert(!p.contains("CartesianProduct"), p)
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length >= 3,
      s"three broadcast 1-row stump joins expected:\n$p")
  }

  test("boosted stumps: scoring is a literal projection — no shuffle join anywhere") {
    // per-round fits collect ONE argmax row at construction; the
    // returned report scores with literal CASE chains, so the plan may
    // contain only broadcast-side joins (1-row tot/auc anchors)
    val p = plan(graft.queries.ModelQueries.defs("q180_boosted_stumps")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"boosted scoring must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("threshold sweep + gini importance: GlobalOrder ranks only, cumulation via tiny broadcast joins") {
    for (q <- Seq("q181_threshold_sweep", "q184_gini_importance")) {
      val p = plan(graft.queries.ModelQueries.defs(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      // no bare Window.orderBy: every window partition-bucketed
      assert(!"Window \\[[^\\]]*\\], \\[[^\\]]*\\]\\n".r.findFirstIn(p).exists(_.contains(", []")),
        s"$q has a partition-less window:\n$p")
    }
  }

  test("stacked ensemble: report reads the checkpointed OOF with 1-row broadcast anchors only") {
    // the OOF assembly checkpoints at construction (its NB broadcast
    // shape is the q167 gate); the returned report may join only 1-row
    // broadcast anchors — meta weights enter as literals
    val p = plan(graft.queries.ModelQueries.defs("q182_stacked_ensemble")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"report must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("AS intercept"), s"meta intercept should be a literal:\n$p")
  }

  test("lr grid: one cached projection, cells are 1-row broadcast anchors") {
    val p = plan(graft.queries.ModelQueries.defs("q183_lr_grid")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"grid cells must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("depth-2 / BPE / PCA reports are pure model-state literals (zero exchanges)") {
    // fitting collects only model-size state at construction (3 split
    // rows / 1 argmax per round / a d² matrix); the returned reports
    // must therefore plan as local literal rows — any Exchange or join
    // would mean fact-table work leaked into the report side
    for (q <- Seq(
        graft.queries.ModelQueries.defs("q185_depth2_tree"),
        graft.queries.ScaleQueries.defs("q186_bpe_merges"),
        graft.queries.ScaleQueries.defs("q187_pca_power"))) {
      val p = plan(q(spark, sf))
      assert(!p.contains("Exchange") && !p.contains("Join"), s"report plan:\n$p")
      assert(p.contains("LocalTableScan") || p.contains("Range"), p)
    }
  }

  test("sided stump fit: GlobalOrder cumsum only — no partition-less window") {
    import spark.implicits._
    val df = (1 to 200).map(i => (i % 40 * 1.0, i % 7, i % 2)).toDF("x", "z", "y")
    val p = plan(graft.scoring.Models.stumpCandidatesSided(
      df, Seq("x", "z"), col("y"), when(col("z") <= 3, 0).otherwise(1)))
    assert(!"Window \\[[^\\]]*\\], \\[[^\\]]*\\]\\n".r.findFirstIn(p).exists(_.contains(", []")),
      s"partition-less window in sided fit:\n$p")
  }

  test("pca projection: loadings are literals — narrow scan, one exchange, no join") {
    val p = plan(graft.queries.ScaleQueries.defs("q190_pca_project")(spark, sf))
    assert(!p.contains("Join"), s"projection must not join:\n$p")
    assert("Exchange".r.findAllIn(p).length <= 1, s"one label aggregate only:\n$p")
  }

  test("recon anomaly: scoring pass is join-free; only the 1-row AUC broadcasts") {
    for (q <- Seq("q192_recon_anomaly", "q196_recon_anomaly_k")) {
      val p = plan(graft.queries.ScaleQueries.defs(q)(spark, sf))
      // model arrays are literals -> the err scan never shuffle-joins; the
      // single-row AUC attaches via broadcast
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q scoring must not shuffle-join:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q AUC must attach via broadcast:\n$p")
    }
  }

  test("markov nll: transition model broadcasts; events shuffle once on customer") {
    val p = plan(graft.queries.DomainQueries.defs("q193_markov_nll")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"model joins must broadcast:\n$p")
    // the per-customer window + reuse for the final agg: the entity-scale
    // side pays ONE hashpartitioning exchange on customer_id — the model
    // lineages re-read it via ReusedExchange, so count only real ones
    val entityEx = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(customer_id") && !l.contains("ReusedExchange"))
    assert(entityEx == 1, s"expected one customer_id exchange, got $entityEx:\n$p")
  }

  test("model leaderboard: every model scores via literals/broadcast — no shuffle join") {
    val p = plan(graft.queries.ModelQueries.defs("q194_model_leaderboard")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"leaderboard scoring must not shuffle-join:\n$p")
  }

  test("mixture budget: one source aggregate, everything after broadcasts") {
    val p = plan(graft.queries.ScaleQueries.defs("q195_mixture_budget")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"model-size tables must broadcast:\n$p")
  }

  test("percentile gate: partial-merge sketch agg + broadcast rank pass") {
    val p = plan(graft.queries.DomainQueries.defs("q188_percentile_sketch")(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"rank pass must broadcast the per-group answers:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"), p)
  }

  test("dim-corr screen: pair expansion happens AFTER the Gram aggregate (explode over one row)") {
    val p = plan(graft.queries.ScaleQueries.defs("q149_dim_corr")(spark, sf))
    // gram_agg reduces to a single row before any Generate(explode):
    // the explode must sit above the aggregate, not above the scan
    val genIdx = p.indexOf("Generate explode")
    val aggIdx = p.lastIndexOf("gram_agg")
    assert(genIdx >= 0 && aggIdx >= 0 && genIdx < aggIdx,
      s"explode should consume the aggregate output (plan order generate<-agg):\n$p")
    assert(!p.contains("SortMergeJoin"), s"no row-level self-join expected:\n$p")
  }

  test("depth-3 tree report is pure model-state literals (zero exchanges)") {
    // the 3 fused candidate passes collect 7 split rows at construction;
    // the emitted report must plan as local literal rows
    val p = plan(graft.queries.ModelQueries.defs("q197_depth3_tree")(spark, sf))
    assert(!p.contains("Exchange") && !p.contains("Join"), s"report plan:\n$p")
    assert(p.contains("LocalTableScan") || p.contains("Range"), p)
  }

  test("mini-forest: voting is literal CASE chains — only 1-row anchors join") {
    // two fused passes collect 15 split rows at construction; the
    // held-out scoring pass reads the fact slice once per aggregate with
    // every model literal inline — no shuffle join anywhere
    val p = plan(graft.queries.ModelQueries.defs("q198_mini_forest")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"forest scoring must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("tree shap: per-row explanation is a literal projection over one broadcast pop row") {
    val p = plan(graft.queries.ModelQueries.defs("q199_tree_shap")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"shap scoring must not shuffle-join:\n$p")
    // the single population-counts row attaches via broadcast
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"pop row must broadcast:\n$p")
  }

  test("boosted trees: scoring is a nested literal CASE projection — no shuffle join") {
    val p = plan(graft.queries.ModelQueries.defs("q201_boosted_trees")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"boosted-tree scoring must not shuffle-join:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("mlp forward pass is a pure narrow projection: no exchange, no join") {
    val p = plan(graft.queries.ModelQueries.defs("q200_mlp_forward")(spark, sf))
    assert(!p.contains("Exchange") && !p.contains("Join"),
      s"forward pass must stay scan->project:\n$p")
    assert(p.contains("array_dot"), s"hidden units should be ArrayDot kernels:\n$p")
  }

  test("LIME: 8 factorial scores + surrogate are one broadcast-joined projection") {
    // after the (driver-side) fit, the whole explainer is row-local
    // arithmetic over the fact scan plus ONE broadcast 1-row background —
    // no shuffle join, no sort, no window
    val p = plan(graft.queries.ModelQueries.defs("q205_lime_local")(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"LIME scoring must not shuffle-join:\n$p")
    assert(!p.contains("WindowExec") && !p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"background row must broadcast:\n$p")
  }

  test("SMOTE family: shard-keyed k-NN joins, partitioned ranking window, no cartesian product") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case w: WindowExec => Seq(w)
        case _ => Nil
      }
      self ++ p.children.flatMap(windows) ++ p.subqueries.flatMap(windows)
    }
    import spark.implicits._
    val df = (1 to 200).map { i =>
      (i.toLong, (i % 17) * 1.5, ((i * 3) % 11).toDouble,
        if (i % 4 == 0) 1L else 0L)
    }.toDF("id", "a", "b", "y")
    val smote = graft.scale.Smote.synthesize(df.where(col("y") === 1L),
      col("id"), Seq("a", "b"), k = 3, reps = 2, shards = 4, salt = "ps")
    val shuffled = Seq(
      graft.scale.Smote.adasynCounts(df, col("id"), Seq("a", "b"), col("y"),
        k = 3, shards = 4, salt = "ps"),
      graft.scale.Smote.tomekLinks(df, col("id"), Seq("a", "b"), col("y"),
        shards = 4, salt = "ps"))
    (smote +: shuffled).foreach { out =>
      val p = plan(out)
      // the minority^2 blow-up guard: every candidate pair comes from a
      // shard-keyed equi-join, never a cross product
      assert(!p.contains("CartesianProduct"), p)
      // ranking never funnels through one task
      out.collect()
      val unpart = windows(out.queryExecution.executedPlan)
        .filter(_.partitionSpec.isEmpty)
      assert(unpart.isEmpty, unpart.map(_.simpleStringWithNodeId()).mkString("\n"))
    }
    // synthesize may broadcast: its k-NN sides are minority-bounded (the
    // same assumption sklearn's in-memory SMOTE makes)
    assert(plan(smote).contains("BroadcastHashJoin"),
      s"minority-bounded sides should broadcast:\n${plan(smote)}")
    // ENN/Tomek must NOT force-broadcast their query side — it can be the
    // majority class or the whole dataset; the PLANNER must pick a
    // shuffle-side join on the shard key. Assert on the pre-AQE static
    // plan: AQE demoting a genuinely small side to broadcast at runtime is
    // adaptive (good), but a static broadcast would be forced at any scale.
    shuffled.foreach { out =>
      val p = out.queryExecution.sparkPlan.toString
      assert(!p.contains("BroadcastNestedLoopJoin"), p)
      assert(p.contains("ShuffledHashJoin") || p.contains("SortMergeJoin"),
        s"opposite-class kNN join must be shuffle-side on the shard key:\n$p")
    }
  }

  test("per-source doc ranks never funnel a source through one task") {
    // q173/q248/q249 rank documents WITHIN source; sources are few and
    // huge (Common-Crawl-skewed: one source can be >60% of a corpus), so
    // a Window.partitionBy(source) would sort hundreds of millions of
    // rows in ONE task. The rank must come from the two-pass GlobalOrder
    // machinery: every surviving window is sub-partitioned by the
    // order-aligned bucket (or keyed per-doc), never by source alone.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case w: WindowExec => Seq(w)
        case _ => Nil
      }
      self ++ p.children.flatMap(windows) ++ p.subqueries.flatMap(windows)
    }
    for (q <- Seq("q173_source_caps", "q248_perplexity_filter",
        "q249_curation_funnel", "q256_dsir", "q281_curriculum")) {
      val out = graft.queries.ScaleQueries.defs(q)(spark, sf)
      out.collect()
      val bad = windows(out.queryExecution.executedPlan).filter { w =>
        w.partitionSpec.isEmpty ||
          w.partitionSpec.forall(_.references.map(_.name).toSet == Set("source"))
      }
      assert(bad.isEmpty, s"$q has a per-source single-task window:\n" +
        bad.map(_.simpleStringWithNodeId()).mkString("\n"))
    }
  }

  test("semDedup pairs join on the cluster id; PQ/IVF-PQ/near-dup stay broadcast-shaped") {
    // the pair space must be an equi-join on cid (Σ|c|², never an n²
    // product); the ANN code/LUT sides and the banded dedup index are
    // model-size frames that must broadcast — a CartesianProduct (the
    // SHUFFLED kind; the intended broadcast-cross of tiny centroid
    // frames plans as BroadcastNestedLoop) anywhere is the n² smell
    for (q <- Seq("q255_semdedup", "q257_pq_adc", "q258_ivfpq",
        "q260_neardup_delta", "q261_dedup_budget")) {
      val p = plan(graft.queries.ScaleQueries.defs(q)(spark, sf))
      assert(!p.contains("CartesianProduct"), s"$q:\n$p")
      assert(p.contains("BroadcastExchange"), s"$q should broadcast its model side:\n$p")
    }
    // the near-dup gate's four band joins are all broadcast hash joins
    val pnd = plan(graft.queries.ScaleQueries.defs("q260_neardup_delta")(spark, sf))
    val bhj = "BroadcastHashJoin".r.findAllIn(pnd).length
    assert(bhj >= 4, s"expected the 4 band joins broadcast, got $bhj:\n$pnd")
  }

  test("duplicate-line rules are a pure projection: zero exchanges in the q253 plan") {
    // the c-1 convention makes both numerators set differences on the
    // split-lines array, so the whole battery must compile to scan +
    // project — any shuffle here means the explode+groupBy shape crept
    // back in and the gate stopped being stream-servable
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def exchanges(p: SparkPlan): Seq[Exchange] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case e: Exchange => Seq(e)
        case _ => Nil
      }
      self ++ p.children.flatMap(exchanges) ++ p.subqueries.flatMap(exchanges)
    }
    val out = graft.queries.ScaleQueries.defs("q253_line_repetition")(spark, sf)
    out.collect()
    val ex = exchanges(out.queryExecution.executedPlan)
    assert(ex.isEmpty, "q253 must be shuffle-free:\n" +
      ex.map(_.simpleStringWithNodeId()).mkString("\n"))
  }

  test("target-correlation and ANOVA screens rank via a broadcast triangular join") {
    // the 15-feature moment collection is ONE aggregate (all corr/F
    // inputs are parallel agg columns — the melt is 15 rows); the final
    // visible plan is the tiny triangular rank join, which must
    // broadcast, never shuffle or sort
    for (q <- Seq("q208_target_correlation", "q209_select_kbest")) {
      val p = plan(graft.queries.CoreQueries.defs(q)(spark, sf))
      assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
        s"$q feature screen must not shuffle-join:\n$p")
      assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
        s"$q rank join must broadcast:\n$p")
      assert(!p.contains("WindowExec"), s"$q must stay window-free:\n$p")
    }
  }

  test("C4 battery is a pure projection: zero exchanges before the rollup") {
    // every rule is arithmetic on the split-lines array of one row —
    // any shuffle means the stats stopped being stream-servable
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    def exchanges(p: SparkPlan): Seq[Exchange] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
        case e: Exchange => Seq(e)
        case _ => Nil
      }
      self ++ p.children.flatMap(exchanges) ++ p.subqueries.flatMap(exchanges)
    }
    val out = graft.scale.C4.lineStats(
      Tables.documents(spark, sf), col("doc_id"), col("text"))
    out.collect()
    val ex = exchanges(out.queryExecution.executedPlan)
    assert(ex.isEmpty, "C4.lineStats must be shuffle-free:\n" +
      ex.map(_.simpleStringWithNodeId()).mkString("\n"))
    // the Gopher quality battery (q279) makes the same promise
    val gq = graft.scale.TextOps.gopherQuality(
      Tables.documents(spark, sf), col("doc_id"), col("text"))
    gq.collect()
    val gx = exchanges(gq.queryExecution.executedPlan)
    assert(gx.isEmpty, "gopherQuality must be shuffle-free:\n" +
      gx.map(_.simpleStringWithNodeId()).mkString("\n"))
  }

  test("BM25 ranks never funnel a query through one task; postings probe broadcasts") {
    // per-query candidate lists are corpus-scale (a common query term
    // matches most documents), so the top-k must come from the two-pass
    // GlobalOrder machinery, never row_number over partitionBy(query_id)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case w: WindowExec => Seq(w)
        case _ => Nil
      }
      self ++ p.children.flatMap(windows) ++ p.subqueries.flatMap(windows)
    }
    for (qn <- Seq("q268_bm25", "q286_chunk_bm25")) {
      val out = graft.queries.ScaleQueries.defs(qn)(spark, sf)
      out.collect()
      val bad = windows(out.queryExecution.executedPlan).filter { w =>
        w.partitionSpec.isEmpty ||
          w.partitionSpec.forall(_.references.map(_.name).toSet == Set("query_id"))
      }
      assert(bad.isEmpty, s"$qn has a per-query single-task window:\n" +
        bad.map(_.simpleStringWithNodeId()).mkString("\n"))
      val p = out.queryExecution.executedPlan.toString
      assert(!p.contains("CartesianProduct"), p)
      assert(p.contains("BroadcastHashJoin"),
        s"$qn query-term probe and stats should broadcast:\n$p")
    }
  }

  test("ANN top-k family never funnels a query through one task") {
    // the VERDICT-r13 demand: the exact twins' per-query candidate list
    // is the WHOLE corpus, LSH/IVF's is corpus/buckets — a
    // row_number().over(Window.partitionBy(query_id)) would sort a
    // corpus-scale list in ONE task per query at 100×. Every rank in
    // the family (probe selection included) must ride the two-pass
    // GlobalOrder: no surviving window partitioned by query_id alone
    // (or by (query_id, d) alone for the Matryoshka sweep), and none
    // with an empty partition spec.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.WindowExec
    def windows(p: SparkPlan): Seq[WindowExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => windows(a.executedPlan)
        case w: WindowExec => Seq(w)
        case _ => Nil
      }
      self ++ p.children.flatMap(windows) ++ p.subqueries.flatMap(windows)
    }
    for (q <- Seq("q35_ann_cosine", "q56_ann_lsh", "q59_ann_ivf",
        "q132_hard_negatives", "q257_pq_adc", "q258_ivfpq",
        "q259_matryoshka", "q266_ann_ndcg")) {
      val out = graft.queries.ScaleQueries.defs(q)(spark, sf)
      out.collect()
      val bad = windows(out.queryExecution.executedPlan).filter { w =>
        val refs = w.partitionSpec.flatMap(_.references.map(_.name)).toSet
        w.partitionSpec.isEmpty || refs == Set("query_id") ||
          refs == Set("query_id", "d")
      }
      assert(bad.isEmpty, s"$q has a per-query single-task window:\n" +
        bad.map(_.simpleStringWithNodeId()).mkString("\n"))
    }
  }

  test("banded near-dup audits ride the grouped-index fold — no doc-pair join survives") {
    // the VERDICT-r14 demand: a (band, key) cell SELF/CROSS-join emits
    // ~cell²/2 doc-pair rows — quadratic per cell at corpus scale. The
    // audits must scan cell lists inside each probe's own row (the
    // Banding.withFlags fold), so NO executed join may compare two
    // doc_id attributes (the a.doc_id < b.doc_id pair-join signature).
    // The semantic side's cluster-mate vec_id pair join is the accepted
    // Σ|c|² SemDeDup shape and stays out of this assert's scope.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, LessThan}
    def joins(p: SparkPlan): Seq[BaseJoinExec] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => joins(a.executedPlan)
        case j: BaseJoinExec => Seq(j)
        case _ => Nil
      }
      self ++ p.children.flatMap(joins) ++ p.subqueries.flatMap(joins)
    }
    def docPairCmp(e: Expression): Boolean = e match {
      case LessThan(a: AttributeReference, b: AttributeReference) =>
        a.name == "doc_id" && b.name == "doc_id"
      case other => other.children.exists(docPairCmp)
    }
    // q298 is the round-16 collapsed audit: its canonicalization joins
    // are fp/canonical-keyed equi-joins, never a doc-pair comparison
    for (q <- Seq("q278_crossmodal", "q287_fuzzy_contamination",
        "q290_crossmodal_wide", "q291_fuzzy_wide", "q293_crossmodal_pairs",
        "q298_collapsed_audit")) {
      val out = graft.queries.ScaleQueries.defs(q)(spark, sf)
      out.collect()
      val bad = joins(out.queryExecution.executedPlan)
        .filter(j => j.condition.exists(docPairCmp))
      assert(bad.isEmpty, s"$q materializes banded doc pairs in a join:\n" +
        bad.map(_.simpleStringWithNodeId()).mkString("\n"))
    }
  }
}
