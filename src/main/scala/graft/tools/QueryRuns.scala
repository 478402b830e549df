package graft.tools

import graft.{GraftSession, Profile}
import graft.queries.QueryRegistry
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Times registered queries over one or more fixture dirs in one JVM (a
  * scale curve; one run per `SPARK_GRAFT_MASTER`, fingerprints diffed;
  * one query's min-of-N). Per query: an untimed warm-up per dir that
  * takes the rows and fingerprint, then `reps` rounds with the dirs
  * interleaved, so host drift hits every dir alike. A timed run is a
  * `noop` write of the whole result under [[graft.Profile.run]] (`count()`
  * would let the optimizer prune columns). Per dir: the fastest run's
  * wall seconds, jobs and shuffle bytes, the rows, and the fingerprint
  * `rows:sum(xxhash64(row))`, computed on the executors and blind to row
  * order. Prints one JSON line, also written to `outJson` if given.
  * Plans: [[PlanFiles]].
  *
  * Usage: sbt "runMain graft.tools.QueryRuns <dir[,dir...]> <q1,q2,...|audit> [reps=3] [outJson]"
  */
object QueryRuns {

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

  final case class DirRun(dir: String, wallS: Double, jobs: Long, shuffleBytes: Long,
                          rows: Long, fingerprint: String) {
    def json: String = s"""{"dir":"$dir","wall_s":$wallS,"jobs":$jobs,"shuffle_bytes":$shuffleBytes,""" +
      s""""rows":$rows,"fingerprint":"$fingerprint"}"""
  }

  /** (rows, `rows:sum of the row hashes`) from one aggregate job. Columns
    * hash in their string form, which every type has (`xxhash64`
    * rejects maps and variants). */
  def fingerprint(df: DataFrame): (Long, String) = {
    val cols = df.columns.indices.map(i => s"c$i") // positional: names may repeat
    val r = df.toDF(cols: _*)
      .agg(count(lit(1)), sum(xxhash64(cols.map(col(_).cast("string")): _*).cast("decimal(38,0)")))
      .head()
    (r.getLong(0), s"${r.getLong(0)}:${r.getDecimal(1)}")
  }

  /** Measures each of `names` over every dir of `dirs`, in order. */
  def run(spark: SparkSession, dirs: Seq[String], names: Seq[String],
          reps: Int): Seq[(String, Seq[DirRun])] = {
    require(dirs.nonEmpty && reps >= 1, s"need a dir and reps >= 1, got $dirs, $reps")
    val unknown = names.filterNot(QueryRegistry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    def uncached[A](body: => A): A = try body finally spark.catalog.clearCache()
    val profile = Profile(spark)
    try names.map { name =>
      val fn = QueryRegistry.queries(name)
      val prints = dirs.map(dir => uncached(fingerprint(fn(spark, dir))))
      val rounds = (1 to reps).map(r => dirs.zipWithIndex.map { case (dir, i) =>
        uncached(profile.run(s"query_runs:$name:$i:$r") {
          fn(spark, dir).write.format("noop").mode("overwrite").save()
        })
      })
      val perDir = dirs.indices.map { i =>
        val best = rounds.map(_(i)).minBy(_.wallS)
        DirRun(dirs(i), best.wallS, best.jobs, best.shuffleWriteBytes, prints(i)._1, prints(i)._2)
      }
      System.err.println(f"[queryruns] $name%-28s " + perDir.map(d =>
        f"${d.wallS}%8.3f s jobs=${d.jobs}%d shuffle=${d.shuffleBytes}%d rows=${d.rows}%d").mkString(" | "))
      name -> perDir
    } finally profile.close()
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: QueryRuns <dir[,dir...]> <q1,q2,...|audit> [reps=3] [outJson]")
    val dirs = args(0).split(',').toSeq
    val names = if (args(1) == "audit") Audit else args(1).split(',').toSeq
    val reps = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.local("graft-query-runs")
    val qJson = run(spark, dirs, names, reps).map { case (name, perDir) =>
      s""""$name":${perDir.map(_.json).mkString("[", ",", "]")}"""
    }.mkString("{", ",", "}")
    val line = s"""{"tool":"query_runs","dirs":${dirs.mkString("[\"", "\",\"", "\"]")},""" +
      s""""master":"${spark.sparkContext.master}","reps":$reps,"queries":$qJson}"""
    println(line)
    if (args.length > 3) java.nio.file.Files.writeString(java.nio.file.Paths.get(args(3)), line + "\n")
    spark.stop()
  }
}
