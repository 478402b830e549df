package graft

import graft.queries.QueryRegistry

/** Results must be invariant to the PHYSICAL plan: the same query run
  * with broadcasts disabled (every join degrades to shuffle/sort-merge)
  * and AQE off must produce byte-identical rows. This is the property
  * that makes the engine safe at 100 TB, where the planner WILL make
  * different choices than at fixture scale — broadcast thresholds trip,
  * AQE re-plans, statistics shift. A query whose answer depends on a
  * build side or a partition count is a latent scale bug. */
class PlanInvarianceSpec extends SparkSpecBase {

  private val dir = "/root/testdata/sf0.001"

  // join-heavy + aggregate-heavy representatives across the surface
  private val names = Seq(
    "q3_join_topk", "q5_multijoin", "q7_nation_volume", "q10_returned_top",
    "q2_min_cost_supplier", "q20_avail_semi", "j2_range_classify",
    "a10_neardup_minhash", "j5_lsh_bucketed", "e2e_collect",
    "j6_asof", "q15_top_supplier", "q16_supplier_census",
    "q17_small_qty_revenue", "q21_waiting_supplier",
    "j5_kmeans_iter", "j5_sq8_quantize", "a10_incremental", "x28_bm25",
    "j5_pq_adc", "t6_event_collect", "a10_decontaminate_pruned",
    "j9_spatial_neighbors", "u4_merge_upsert", "j5_hard_negatives",
    "e2e_contrastive_pairs", "e2e_result_cache", "a12_syndication_rank",
    "j5_mmr_rerank", "x28_span_dedup", "a10_decontaminate_bloom",
    "a10_importance_weights", "j5_pq_refine", "s9_bucketed_join",
    "a12_triangle_count", "x28_fuzzy_match", "e2e_rag_context",
    "j5_label_separation", "x28_bigram_lm")

  test("results are invariant to the shuffle partition count") {
    for (name <- Seq("q1_agg", "q10_returned_top", "a10_dedup_clusters",
        "w3_tumbling", "e2e_llm_pipeline", "a10_split_assign",
        "a10_pack_sequences", "a10_decontaminate", "j6_asof",
        "x28_repetition", "a10_sample_stratified",
        "j5_kmeans_iter", "j5_sq8_quantize", "x28_pii_scrub",
        "a10_incremental", "x28_bm25",
        "s9_zorder_layout", "x28_heavy_hitters",
        "w4_gap_fill", "w4_funnel", "e2e_hybrid_search", "j8_cooccurrence",
        "t6_event_collect", "a10_source_mixing", "x28_bpe_merges",
        "w5_ewma", "x28_oov_rate", "w6_robust_outliers", "w7_retention_cohorts",
        "w8_change_detect", "sql_entry_q1", "x28_bpe_apply",
        "e2e_result_cache", "s9_compaction_plan", "a11_skew_census",
        "x28_span_dedup", "a12_syndication_rank",
        "a10_decontaminate_bloom", "a10_importance_weights",
        "a10_budget_select", "a10_curriculum_order",
        "a10_contrastive_batches", "a12_triangle_count",
        "x28_fuzzy_match", "w9_seasonal_outliers", "u5_scd2_history",
        "x28_bigram_lm")) {
      val fn = QueryRegistry.queries(name)
      val old = spark.conf.get("spark.sql.shuffle.partitions")
      try {
        val baseline = fn(spark, dir).collect().map(_.toString).sorted
        spark.conf.set("spark.sql.shuffle.partitions", "5")
        val repartitioned = fn(spark, dir).collect().map(_.toString).sorted
        if (!repartitioned.sameElements(baseline))
          failures += s"$name: result depends on spark.sql.shuffle.partitions (fold-order or partition-count leak)"
      } catch {
        case e: Throwable => failures += s"$name failed to execute: ${firstLine(e)}"
      } finally {
        spark.conf.set("spark.sql.shuffle.partitions", old)
      }
    }
    assertNoFailures("shuffle-partition invariance")
  }

  test("join-heavy queries produce identical rows with broadcasts and AQE disabled") {
    for (name <- names) {
      val fn = QueryRegistry.queries(name)
      val old = (spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
        spark.conf.get("spark.sql.adaptive.enabled"))
      try {
        val baseline = fn(spark, dir).collect().map(_.toString).sorted
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val degraded = fn(spark, dir).collect().map(_.toString).sorted
        if (!degraded.sameElements(baseline))
          failures += s"$name: result depends on the physical plan (broadcast/AQE)"
      } catch {
        case e: Throwable => failures += s"$name failed to execute: ${firstLine(e)}"
      } finally {
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old._1)
        spark.conf.set("spark.sql.adaptive.enabled", old._2)
      }
    }
    assertNoFailures("broadcast/AQE invariance")
  }

  test("rank-filter queries are invariant to the TopK lowering") {
    // the registered queries whose row_number-filter-drop shape
    // RewriteRankFilterToTopK.lower rewrites; lowering must never change
    // a result (every registered rank filter tiebreaks totally), and a
    // lowered plan without a TopKPerKey node would compare a query with
    // itself
    for (name <- Seq("a7_latest_last", "a7_latest_first", "j5_mmr_rerank")) {
      val fn = QueryRegistry.queries(name)
      try {
        val off = fn(spark, dir).collect().map(_.toString).sorted
        val lowered = graft.plans.RewriteRankFilterToTopK.lower(fn(spark, dir))
        val on = lowered.collect().map(_.toString).sorted
        if (!lowered.queryExecution.executedPlan.toString.contains("TopKPerKey"))
          failures += s"$name: the lowered plan has no TopKPerKey node"
        if (!on.sameElements(off))
          failures += s"$name: result depends on the TopK lowering"
      } catch {
        case e: Throwable => failures += s"$name failed to execute: ${firstLine(e)}"
      }
    }
    assertNoFailures("TopK-rewrite invariance")
  }

  // Sweep failures ACCUMULATE so one query that breaks analysis (as the
  // round-7 NTZ fixture regression did) cannot mask invariance signals
  // for every other query in the registry; the sweep names all offenders.
  private val failures = scala.collection.mutable.ArrayBuffer[String]()
  private def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(1).mkString
  private def assertNoFailures(sweep: String): Unit = {
    // Queries with internal .cache() blocks materialized them under this
    // sweep's non-default confs (broadcasts off, 5 shuffle partitions,
    // rewrite on); the cache manager would serve those plan fragments to
    // LATER suites' plan-shape pins (observed: j5_ivf_probe's pin seeing
    // the rewrite-on cached index). Drop them before handing back.
    spark.catalog.clearCache()
    val fs = failures.toSeq
    failures.clear()
    assert(fs.isEmpty, s"${fs.size} queries failed the $sweep sweep:\n  " +
      fs.mkString("\n  "))
  }
}
