package graft

import org.apache.spark.sql.SparkSession

/** Scale-curve bench: time the same registered queries against TWO
  * fixture dirs (e.g. sf0.1 and the ScaleGen'd sf1) in ONE JVM, with
  * the per-query runs INTERLEAVED small/big — so host-speed drift
  * (measured at ±60% across sessions on this box) hits both sides of
  * every ratio equally and the sf-to-sf curve is trustworthy. Usage:
  *
  *   sbt "runMain graft.ScaleBench [smallDir] [bigDir] [outFile]"
  *
  * Per query: one untimed warm-up on each side, then three timed
  * (small, big) pairs; reports min-of-3 per side and the big/small
  * ratio. Emits one JSON line (and writes it to outFile) with per-query
  * {small, big, ratio, rows_small, rows_big}.
  */
object ScaleBench {

  /** The audit set: the most expensive queries of the committed sf0.1
    * bench plus every operator whose 100 TB story deserves a measured
    * curve (banded dedup, semantic dedup, distributed prefix-sum
    * sampling, grid spatial join, CDC merge, BPE trainer, event-collect
    * composition). Fixture-staged queries (s1/s9) are excluded — they
    * bench write paths keyed to the driver dirs. */
  val Audit: Seq[String] = Seq(
    "e2e_llm_pipeline", "a10_dedup_clusters", "a10_neardup_minhash",
    "a10_jaccard_ngram", "a10_semdedup", "a10_sample_weighted",
    "a10_decontaminate_pruned", "j5_pq_adc", "j5_topk_cosine",
    "q21_waiting_supplier", "q10_returned_top", "q11_value_share",
    "q12_conditional_agg", "q3_join_topk", "q8_market_share",
    "j8_cooccurrence", "j9_spatial_neighbors", "u4_merge_upsert",
    "t6_event_collect", "x28_bpe_merges", "x28_bpe_apply",
    "w6_robust_outliers", "w7_retention_cohorts", "e2e_contrastive_pairs",
    // round-7 additions: graph build + wedge join, PQ refine stage,
    // interleave batcher, DSIR censuses, span dedup
    "a12_syndication_rank", "a12_triangle_count", "j5_pq_refine",
    "a10_contrastive_batches", "a10_importance_weights", "x28_span_dedup",
    // round-8 additions: the bigram-LM census (this round's cache fix),
    // SCD2 interval build, seasonal MAD cells, RAG packing
    "x28_bigram_lm", "u5_scd2_history", "w9_seasonal_outliers", "e2e_rag_context",
    // round-8 second wave: attribution range join, 1-bit ANN pack+scan,
    // drift/profile monitoring censuses, hard domain caps, DPO pairing,
    // k-anonymity classes (CDC queries are doc-capped — no curve to read)
    "w10_attribution", "j5_hamming_topk", "a13_drift_tvd", "a13_profile_card",
    "a10_domain_cap", "a10_preference_pairs", "a10_k_anonymity",
    // token-domain drift (unbounded census + TakeOrdered head) and the
    // rank-filter query the TopK rewrite now lowers (heap vs sort curve)
    "a13_trending_terms", "a7_latest_last",
    // round-8 third wave: hopping-window Expand fan-out, matview-refresh
    // partials merge, time-travel snapshot diff, length-bucket batch
    // pricing (per-shard windows), Hamming-tier MRR eval
    "w3_hopping", "u7_matview_refresh", "u8_time_travel",
    "a10_length_buckets", "j5_mrr_eval",
    // round-8 fourth/fifth waves: basket rule mining, BFS recursion,
    // gaps-and-islands coverage, ER blocking+closure, PIT leakage join,
    // AMS sketch census, matryoshka double-rank pass, Heaps census
    "a12_association_rules", "a12_reachability", "j7_interval_union",
    "a10_entity_resolution", "j6_leakage_audit", "a11_join_size_sketch",
    "j5_matryoshka_probe", "x28_vocab_growth",
    // the sparse posting-list similarity join (the round's last
    // structurally new shape: gram-keyed pair expansion + norm joins)
    "x28_tfidf_sim",
    // round-9 additions: LPA rounds over the basket graph, asymmetric
    // containment posting join, RAKE phrase censuses, KS cumulative
    // window, Count-Min counter census, Theil-Sen bucket pairs, HHI
    "a12_label_propagation", "a10_containment", "x28_keyphrases",
    "a13_ks_stat", "a11_countmin_sketch", "a13_theil_sen",
    "x28_vocab_concentration")

  def main(args: Array[String]): Unit = {
    val small = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val big = if (args.length > 1) args(1) else "/root/repo/target/scale/sf1"
    val outFile = if (args.length > 2) args(2) else "/root/repo/target/scale/scale_bench.json"
    // optional 4th arg: comma-separated audit subset (e.g. the heaviest
    // queries for an extra decade of the curve at sf3)
    val only: Option[Set[String]] = if (args.length > 3) Some(args(3).split(',').toSet) else None
    val spark = GraftSession.local("graft-scalebench")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    def once(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
             dir: String): (Double, Long, Long) = {
      val mark = tally.settle()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      (dt, n, tally.settle() - mark)
    }

    val auditSet = only.getOrElse(Audit.toSet)
    val rows = (Audit ++ only.toSeq.flatten.filterNot(Audit.contains))
      .filter(auditSet.contains).filter(SparkEntry.queries.contains).map { name =>
      val fn = SparkEntry.queries(name)
      once(fn, small); once(fn, big) // warm-up both sides, untimed
      val timed = (1 to 3).map(_ => (once(fn, small), once(fn, big)))
      val (s, b) = (timed.map(_._1._1).min, timed.map(_._2._1).min)
      val (ns, nb) = (timed.head._1._2, timed.head._2._2)
      val (shs, shb) = (timed.head._1._3, timed.head._2._3)
      println(f"[scalebench] $name%-28s small=$s%8.3f  big=$b%8.3f  ratio=${b / s}%6.2f  " +
        f"shuffle=${shs}%d/${shb}%d (${if (shs > 0) shb.toDouble / shs else 0.0}%5.2fx)  rows=$ns%d/$nb%d")
      name -> (s, b, ns, nb, shs, shb)
    }

    val qJson = rows.map { case (n, (s, b, ns, nb, shs, shb)) =>
      s""""$n":{"small":$s,"big":$b,"ratio":${b / s},"rows_small":$ns,"rows_big":$nb,""" +
        s""""shuffle_small":$shs,"shuffle_big":$shb}"""
    }.mkString("{", ",", "}")
    val line = s"""{"metric":"scale_curve","small_dir":"$small","big_dir":"$big","queries":$qJson}"""
    println(line)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outFile).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
  }
}
