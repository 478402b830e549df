package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by min-label propagation with pointer jumping —
  * the MapReduce-shaped algorithm dedup cluster resolution runs at scale
  * (each round: two hash-key shuffles over (node, label) pairs; rounds
  * grow with log(diameter), not diameter).
  *
  * Per round: (1) every node pulls the min label over itself and its
  * neighbors (one hop); (2) pointer jump label(v) ← label(label(v)) —
  * labels are node ids, so the indirection resolves in the same table and
  * doubles the effective reach. A monotone sum(label) acts as the
  * convergence measure (labels only decrease); `localCheckpoint`
  * truncates per-round lineage so optimizer time stays flat (a cluster
  * deployment checkpoints to reliable storage instead).
  */
object ConnectedComponents {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Labels plus the loop's exit state, for callers that need to act on a
    * blown round budget instead of silently using partially-merged
    * components. `rounds` counts executed rounds (convergence costs one
    * verification round beyond the last merging round). */
  final case class Result(labels: DataFrame, rounds: Int, converged: Boolean)

  /** @param edges two columns `src`, `dst` (directed input; symmetrized
    *              internally). Node ids must be numeric (labels use min).
    * @return (node, lbl) — lbl is the min node id of the component.
    */
  def resolve(edges: DataFrame, maxRounds: Int = 16): DataFrame =
    resolveChecked(edges, maxRounds).labels

  def resolveChecked(edges: DataFrame, maxRounds: Int = 16): Result = {
    // round 1 is fused into the label initialization below, so at least
    // one round must run for labels to exist at all
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    // Pre-partition the (static) edge table on the join key ONCE: the
    // cached InMemoryRelation keeps hash(src) as its output partitioning,
    // so every round's edge-side exchange is planned away — the same
    // "shuffle the invariant side once, reuse across iterations" a
    // cluster job does with persisted bucketing.
    // explode, not union-of-two-selects: a union would evaluate the
    // (typically expensive, uncached) edge plan twice — LSH verify joins
    // feed this directly
    val sym = edges
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
      .repartition(col("src"))
      .cache()
    // label(v) <- label(label(v)), resolved within the same table; total
    // since every label IS a node id present in `df` (coalesce is belt).
    def jump(df: DataFrame): DataFrame = {
      val j = df.select(col("node").as("jnode"), col("lbl").as("jlbl"))
      df.join(j, col("lbl") === col("jnode"), "left")
        .select(col("node"), coalesce(col("jlbl"), col("lbl")).as("lbl"))
    }
    // the live round's pre-jump label table, cached so the jump
    // self-join reads ONE materialization
    var steppedM: DataFrame = null
    try {
      // Lazy checkpoints: each round's convergence-sum action is the one
      // job that both materializes the round's labels and measures them —
      // eager checkpointing would run a second, redundant job per round.
      var lbl: DataFrame = null
      var prevSum: Option[BigDecimal] = None
      var round = 0
      var converged = false
      while (round < maxRounds && !converged) {
        // Round 1 fused (r13): with lbl0(v) = v, the one-hop min is just
        // min(dst, min(src)) per dst over the symmetrized edges — one
        // aggregate over sym replaces the separate node-census job, the
        // initial-label checkpoint, AND round 1's edge join (measured
        // ~0.5 s of pure per-job latency per resolve on this host).
        // Every node appears as dst (sym is symmetric), so the label
        // universe is unchanged; later rounds keep the join shape.
        val stepped =
          if (lbl == null)
            sym.groupBy(col("dst"))
              .agg(least(col("dst"), min(col("src"))).as("lbl"))
              .select(col("dst").as("node"), col("lbl"))
          else {
            val nmin = sym.join(lbl.withColumnRenamed("node", "src"), "src")
              .select(col("dst").as("node"), col("lbl"))
            lbl.union(nmin).groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
          }
        // Cached before the jump (r13): jump is a self-join, so an
        // uncached `stepped` is computed TWICE per round — the probed
        // final plan (OPTIMIZATION_r13.md §3) shows two separate shuffle
        // stages running the identical join+union+aggregate, which AQE's
        // stage reuse does NOT deduplicate across the self-join's
        // re-aliased attributes. The cache halves the per-round work;
        // block-level locking makes the concurrent first scans fill it
        // once.
        steppedM = stepped.cache()
        lbl = jump(steppedM).localCheckpoint(false)
        // sum over an empty frame is null: an empty node set is trivially
        // converged, not an NPE
        val s = Option(lbl.agg(sum(col("lbl")).cast("decimal(38,0)")).head().getDecimal(0))
          .map(BigDecimal(_))
        // the sum job checkpointed this round's labels, so nothing reads
        // the pre-jump cache again: releasing it here keeps at most one
        // round's cache alive
        steppedM.unpersist(blocking = false)
        steppedM = null
        converged = s.isEmpty || prevSum == s
        prevSum = s
        round += 1
      }
      if (!converged) {
        log.warn(s"ConnectedComponents exhausted maxRounds=$maxRounds before the " +
          "label sum stabilized; returned components may be partially merged")
      }
      Result(lbl, round, converged)
    } finally {
      sym.unpersist()
      // a round that threw before its release still holds its cache
      if (steppedM != null) steppedM.unpersist(blocking = false)
    }
  }
}
