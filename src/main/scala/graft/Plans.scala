package graft

import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.{InMemoryRelation, InMemoryTableScanExec}
import org.apache.spark.sql.internal.SQLConf

/** Regenerates PLANS.md: the formatted physical plan of each headline
  * query at the given SF — the plan-shape evidence (pushdown, broadcast
  * choices, partial aggregation, custom operators) reviewed per round.
  *
  * Usage: SPARK_GRAFT_CPUS=4 sbt "runMain graft.Plans [sfDir] [outFile]".
  * The header records the shuffle-partition count the plans were made
  * with; regenerate the whole file in one run so every section shares it.
  */
object Plans {
  private val Headline = Seq(
    "q1_agg"            -> "pushdown + partial aggregation",
    "q3_join_topk"      -> "broadcast chain + TakeOrderedAndProject",
    "q5_multijoin"      -> "unhinted fact joins, AQE decides",
    "j1_pivot"          -> "explicit-value pivot, single shuffle",
    "j2_range_classify" -> "broadcast equi + range fallback",
    "a10_neardup_minhash" -> "banded LSH, bucket-capped, no all-pairs",
    "j5_lsh_bucketed"   -> "sign-LSH bucket equi-join ANN",
    "j5_ivf_probe"      -> "IVF cached index + probe hash joins",
    "o2_topk_custom"    -> "custom partial/final bounded-heap top-k",
    "w2_range_frame"    -> "value-RANGE window frame",
    "x24_variant_access" -> "VariantType parse-once JSON",
    "e2e_collect"       -> "row-local classify + summary: one projection, no exchange",
    "e2e_collect_full"  -> "one TIFF scan and decode, broadcast CSV attrs, one site-keyed aggregate broadcast to the requests",
    "q2_min_cost_supplier" -> "struct-argmin, one aggregate, no window sort",
    "q10_returned_top"  -> "integer-cents revenue, TakeOrderedAndProject top-20",
    "j6_asof"           -> "as-of join with NO join operator: union + carry-forward window",
    "j7_interval_overlap" -> "range-overlap via time-bin hash equi-join, no nested loop",
    "q6_forecast_revenue" -> "every predicate pushed, 4-column pruned scan",
    "q21_waiting_supplier" -> "double correlation as per-order censuses, one fact join",
    "a10_semdedup"      -> "centroid cells bound the pairwise stage",
    "a10_sample_stratified" -> "census-derived integer rates, broadcast to one scan",
    "j5_ivf_recall"     -> "ANN quality loop: IVF vs exact, semi-join hits",
    "j5_kmeans_iter"    -> "Lloyd iteration: broadcast codebook, argmin agg carries the vector",
    "j5_pq_adc"         -> "PQ compressed-domain scan: broadcast LUT join on (m, code)",
    "x28_bm25"          -> "posting-list tf, broadcast df/avgdl, TakeOrdered top-20",
    "a10_incremental"   -> "batch-vs-history probes: fp semi-join + asymmetric band join",
    "s9_zorder_layout"  -> "Morton-file stats: broadcast bounds, two 32-group aggregates",
    "w4_gap_fill"       -> "dense grid explode + carry-forward window, user_id-keyed",
    "e2e_hybrid_search" -> "two TakeOrdered legs fused by RRF over a 20-row join",
    "j9_spatial_neighbors" -> "grid-bucketed spatial self-join: 9-cell explode side, hash equi on cell key",
    "u4_merge_upsert"   -> "MERGE as ONE full-outer sort-merge join on the key",
    "t6_event_collect"  -> "event->collect dispatch: row-local classify; exchanges only for the scan widen and the census",
    "x28_bpe_merges"    -> "BPE round: map-side partial pair census, one-row driver argmax",
    "a10_decontaminate_pruned" -> "broadcast bucket-set runtime filter ahead of the exact probe",
    "a10_sample_weighted" -> "two-level distributed prefix sum, no corpus-wide window",
    "w7_retention_cohorts" -> "cohort triangle: two shuffles (first-seen min + distinct count)",
    "w8_change_detect"  -> "lag window per user partition + one census aggregate",
    "e2e_result_cache"  -> "TTL cache probe: request dedup + left probe + anti-join carry-over",
    "e2e_contrastive_pairs" -> "triplets ride the bounded LSH candidate graph, no new quadratic stage",
    "s9_compaction_plan" -> "OPTIMIZE planning: window over file METADATA, per-partition prefix-sum bins",
    "a10_decontaminate_bloom" -> "native bloom_filter_agg scalar subquery + codegen'd might_contain probe ahead of the exact gram join",
    "a10_importance_weights" -> "DSIR scoring: two bounded bucket censuses, broadcast ratio table, TakeOrdered head",
    "a10_budget_select" -> "greedy budget fill: prefix sum over the bounded quality domain, no corpus-wide window",
    "s9_bucketed_join"  -> "bucketed scans (Bucketed: true, 8/8); at fixture sf AQE broadcasts the tiny side — with broadcast off the fact join is exchange-free (PlanShapeSpec-pinned)",
    "j5_pq_refine"      -> "two-stage ANN: compressed ADC shortlist, broadcast candidates fetch raw vectors O(|Q|*k)",
    "a12_triangle_count" -> "degree-ordered orientation: wedge self-join + closing equi-join, no quadratic hub term",
    "a10_contrastive_batches" -> "interleave batcher: level offsets + partitioned in-level rank, no corpus-wide window",
    "x28_fuzzy_match"   -> "SymSpell: delete-key equi-join against broadcast dictionary, levenshtein only on candidates",
    "u5_scd2_history"   -> "SCD Type-2: one pass, lead window builds intervals, no self-join",
    "w9_seasonal_outliers" -> "seasonal median/MAD per (dow,hour) cell — bounded-domain censuses, broadcast back",
    "x28_bigram_lm"     -> "bigram LM proxy: bounded vocab census joined twice, integer log-probs",
    "e2e_rag_context"   -> "RAG packing: TakeOrdered shortlist, prefix-sum token budget on <=20 rows",
    "j5_label_separation" -> "label-separation probe: windowed argmax over bounded candidate pairs",
    "d1_tiff_compressed" -> "compressed TIFF decode matrix: one scan, executor-side LZW/deflate kernels, pixel explode",
    "t2_budget_enforce" -> "budgeted per-source jobs under watchdog-cancelled job groups",
    "s1_rest_fetch"     -> "live HTTP V2 scan: url-partitioned fetch, in-plan JSON + TIFF decode",
    "s1_request_urls"   -> "request construction: four URL families as codegen'd string exprs, one projection",
    "e2e_collect_rest"  -> "full /collect with all inputs over HTTP: same plan as collect_full behind RestSource/RestFetch",
    "a13_drift_tvd"     -> "drift census: <=20-bin partial agg + broadcast one-row totals — scan + tiny shuffle at any scale",
    "j5_hamming_topk"   -> "1-bit ANN: sign-pack aggregate, broadcast probe row, TakeOrdered xor/popcount scan",
    "w10_attribution"   -> "1h-lookback range join as (user, hour-bin) hash equi-join; per-purchase rank windows, no nested loop",
    "a10_domain_cap"    -> "hard per-domain cap: seeded md5 shuffle rank within source, single window shuffle",
    "a10_preference_pairs" -> "DPO pairing: lead() over (source, lang) rank — adjacent pairs, linear not quadratic",
    "m6_cdc_native"     -> "CDC via native O(n) rolling-hash expression; per-doc lag-window chunk assembly",
    "j5_cascade"        -> "tiered ANN: Hamming-64 -> ADC-16 -> exact-3; every tier's intermediate bounded by |Q|*k",
    "a13_embedding_drift" -> "per-label centroid shift: bounded (label, dim) census, nothing corpus-sized after the scan",
    "w3_hopping"        -> "hopping windows: Expand to 4 windows map-side, partial agg before the one shuffle",
    "u7_matview_refresh" -> "matview refresh: two partial aggs + <=|types|-row monoid merge, base never rescanned",
    "u8_time_travel"    -> "time travel: two version-snapshot scans, user-keyed equi-join diff, census output",
    "s9_schema_evolution" -> "mergeSchema scan over two generations: columnar read intact, partition-discovered gen key",
    "s3_json_quarantine" -> "PERMISSIVE parse + corrupt capture: one scan, one bounded census, no shuffle blowup",
    "a10_length_buckets" -> "batch pricing: shard-partitioned rank windows, two bounded aggregates",
    "j5_mrr_eval"       -> "MRR eval: broadcast probes, per-probe window ranks, <=|Q|*10 eval join",
    "a13_auc_score"     -> "AUC: per-value census, cumulative window over the bounded domain only",
    "a12_reachability"  -> "recursive-CTE BFS: cached edge table, one frontier equi-join per level (UnionLoop)",
    "s9_row_provenance" -> "lineage: input_file_name stamped at scan, zero-shuffle file manifest census",
    "a12_association_rules" -> "Apriori conf/lift: one basket shuffle, row-local pairs, TakeOrdered top-20",
    "a11_equidepth_bins" -> "equi-depth binning: one percentile boundary agg + broadcast comparison-sum, no ntile",
    "a13_calibration_bins" -> "calibration/ECE: decile-bin census, windows over the 10-row bin domain only",
    "f12_contract_checks" -> "contract gate: FK anti-joins, count-distinct uniqueness, 6 single-agg checks unioned",
    "j5_matryoshka_probe" -> "MRL probe: one broadcast corpus pass, two rank windows on one q_id shuffle",
    "a10_overlap_estimate" -> "HLL overlap: per-user flag census vs 3-sketch inclusion-exclusion, 1-row broadcast",
    "j7_interval_union"  -> "gaps-and-islands: user-partitioned running-max windows, zero joins, bounded histogram",
    "a11_join_size_sketch" -> "AMS F2: key census shuffle, x5 row-local explode, 320-cell + 5-row bounded aggs",
    "x28_vocab_growth"  -> "Heaps curve: word-keyed min agg, cumulative window over the 20-chunk census only",
    "x28_url_normalize" -> "URL canonicalization: codegen regexp chain, shuffle-free until the distinct census",
    "a10_entity_resolution" -> "ER: blocking equi-join pairs, levenshtein gate on candidates only, CC closure",
    "j6_leakage_audit"  -> "PIT audit: one user-keyed label x feature equi-join, per-type bounded census",
    "a10_feature_hashing" -> "hashing trick: word-keyed distinct, md5 bucket census, join-free",
    "u9_conflict_detect" -> "OCC: two doc_id-keyed left joins classify a/b/conflict, bounded census",
    "x28_tfidf_sim"     -> "sparse cosine: df-capped 3-gram posting join, integer cos^2, TakeOrdered-20",
    "a13_slo_burn_rate" -> "SLO burn: 30-min bucket census, trailing range windows over buckets only",
    "a10_group_split"   -> "group vs row split: one scan, two hash columns, bounded leak censuses",
    "s9_orc_roundtrip"  -> "ORC interchange: zstd sink, vectorized scan with pushed filter, exact census",
    "a11_quantile_sketch" -> "sketch certification: 9-row broadcast rank probe vs the cents census, no sort",
    "w12_markov_transitions" -> "Markov matrix: user-partitioned lag window, 25-cell census, integer bp rows",
    // round-9 additions
    "a12_label_propagation" -> "LPA communities: dst-partitioned cached edges, broadcast labels, exchange-free packed-max rounds",
    "a11_countmin_sketch" -> "Count-Min: 256-cell counter census, TakeOrdered exact top-10, broadcast sketch probe",
    "a10_containment"   -> "asymmetric containment: df-capped 4-gram posting join, per-doc size broadcast, TakeOrdered-100",
    "x28_keyphrases"    -> "RAKE: per-doc run windows, two bounded censuses, broadcast word scores, TakeOrdered-15",
    "a13_ks_stat"       -> "KS drift: cents census, ONE bounded-domain cumulative window, 1-row TakeOrdered argmax",
    "a13_theil_sen"     -> "Theil-Sen trend: bucket-census pair join (wall-clock-bounded), rank-median selection",
    "x28_vocab_concentration" -> "HHI: (source, word) census, per-mille quantized shares, |sources|-row rollup",
    "a13_group_parity"  -> "parity audit: |sources|-bounded census + 1-row global broadcast",
    "a12_hits"          -> "HITS: per half-step one edge equi-join + per-node sum + 1-row max broadcast",
    "s9_deletion_vectors" -> "MOR deletes: _metadata position scan, (file, row_index) anti/semi joins",
    "a13_autocorrelation" -> "ACF: volume census, per-mille deviations, bucket-domain lag self-join",
    // round-10 additions (the LPA rounds checkpoint per round, so the
    // registered queries' final plans are RDD scans — the per-mode ROUND
    // plans are pinned in LabelPropSpec; these entries pin the SQL faces)
    "sql_entry_merge"    -> "raw-SQL MERGE: one full-outer key join, scalar-subquery max broadcast, outcome census",
    "sql_entry_window"   -> "raw-SQL window family: ONE user_id shuffle, all four functions evaluated in-sort",
    "sql_entry_contract" -> "raw-SQL contract gate: two broadcast anti-joins + four scan censuses, one union"
  )

  /** The whole executed tree in Spark's layout, except that an AQE node
    * shows only its final plan and a cached relation's plan is printed
    * under its first scan only: a chain of caches that each read the one
    * before (`e2e_result_cache`) otherwise prints its plans exponentially
    * often, 4.8 MB for that one query at sf0.001. */
  private[graft] def tree(root: SparkPlan): String = {
    val shown = java.util.Collections.newSetFromMap(new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean])
    val sb = new StringBuilder
    def go(node: QueryPlan[_], star: String, lead: String, indent: String): Unit = node match {
      case w: WholeStageCodegenExec => go(w.child, s"*(${w.codegenStageId}) ", lead, indent)
      case i: InputAdapter          => go(i.child, "", lead, indent)
      case _ =>
        sb ++= lead ++= star ++= node.simpleString(SQLConf.get.maxToStringFields) += '\n'
        val (kids, kidStar) = node match {
          case a: AdaptiveSparkPlanExec => (Seq(a.executedPlan), "")
          case q: QueryStageExec        => (Seq(q.plan), "")
          case m: InMemoryTableScanExec => (Seq(m.relation), "")
          case r: InMemoryRelation      => (Seq(r.cachedPlan).filter(shown.add), "")
          case p                        => (p.children.collect { case c: QueryPlan[_] => c }, star)
        }
        kids.zipWithIndex.foreach { case (k, i) =>
          val last = i == kids.size - 1
          go(k, kidStar, indent + (if (last) "+- " else ":- "), indent + (if (last) "   " else ":  "))
        }
    }
    go(root, "", "", "")
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.001"
    val outFile = if (args.length > 1) args(1) else "PLANS.md"
    val spark = GraftSession.local("graft-plans")
    val sb = new StringBuilder
    sb.append("# PLANS — headline physical plans (generated by `graft.Plans`)\n\n")
    sb.append(s"Source: `$sfDir`. Regenerate: `SPARK_GRAFT_CPUS=4 sbt \"runMain graft.Plans\"`.\n")
    sb.append(s"Shuffle partitions (`spark.sql.shuffle.partitions`, from `SPARK_GRAFT_CPUS`): " +
      s"${spark.conf.get("spark.sql.shuffle.partitions")}.\n")
    Headline.foreach { case (name, why) =>
      val df = queries.QueryRegistry.queries(name)(spark, sfDir)
      df.collect() // finalize AQE so the printed plan is the executed one
      sb.append(s"\n## $name — $why\n\n```\n")
      sb.append(tree(df.queryExecution.executedPlan))
      sb.append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), sb.toString)
    println(s"wrote $outFile")
    spark.stop()
  }
}
