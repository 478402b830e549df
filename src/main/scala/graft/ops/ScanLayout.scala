package graft.ops

import org.apache.spark.sql.{Column, DataFrame}

/** Scale-adaptive widening for UNSPLITTABLE scans (optimization guide
  * §2.5 "input skew: one huge unsplittable file … repartition
  * immediately after the read", §2.2 "fewer, larger map tasks").
  *
  * The driver fixtures are single-row-group parquet, so every scan runs
  * in ONE task (OPTIMIZATION_r12.md §6) and everything pipelined onto it
  * — pair explosions, the partial side of a collect_set/distinct
  * aggregate (which falls back to sort-based beyond 128 groups), MinHash
  * signatures, regex censuses — is single-threaded no matter how many
  * cores the session has. Repartitioning ON THE DOWNSTREAM GROUPING KEY
  * right after the read moves that work behind a hash exchange of the
  * raw scan rows: the groupBy's own exchange is then satisfied by the
  * repartition (HashPartitioning(k) ⊆ every ClusteredDistribution
  * containing k), so the exchange COUNT is unchanged — the shuffle just
  * happens before the expensive per-row work instead of after it.
  *
  * Scale-adaptive, not local-tuned: the target is the session's
  * `defaultParallelism` (the core count on any master), and the
  * repartition fires only while the scan provides FEWER partitions than
  * that — on a real estate the inputs are splittable, the scan already
  * carries ≥ cores partitions, and this is the identity.
  *
  * CONTRACT: pass scan-level or already-materialized frames ONLY. The
  * partition probe converts the frame to an RDD, and under AQE that
  * conversion (`getFinalPhysicalPlan`) EAGERLY EXECUTES any upstream
  * shuffle stages the frame contains — on a raw scan or a checkpointed
  * frame it runs no job, on a frame with exchanges it runs them all
  * (the r12 ADVICE footgun, now enforced by this doc + the probe
  * cache). Probe results are memoized per (session, canonical plan), so
  * repeated widens of the same table — 16 call sites, many hit per
  * bench run — pay the physical-plan conversion once per session.
  *
  * NOT applied where the round-12 A/B measured it as a loss: payload
  * rows whose downstream per-row work is a single cheap pass (the
  * documents regex census, the BPE round corpus — the exchange barrier
  * plus payload write cost more than the parallelism buys; see
  * OPTIMIZATION_r12.md §6).
  */
object ScanLayout {

  /** Partition-count memo keyed on (session identity, canonical-plan
    * semantic hash). A hash collision could only return a stale COUNT —
    * a widen mis-decision, never a correctness issue — and the map stays
    * tiny (one entry per distinct widened scan per session). */
  private val probeCache =
    new java.util.concurrent.ConcurrentHashMap[(Int, Int), Int]()

  /** `df` hash-partitioned `defaultParallelism` ways on `keys` when the
    * current layout has fewer partitions; `df` unchanged otherwise.
    * Key-based (not round-robin): no sort-before-repartition pass, and
    * deterministic row placement under task retry. */
  def widenByKey(df: DataFrame, keys: Column*): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cacheKey = (System.identityHashCode(df.sparkSession),
      df.queryExecution.logical.canonicalized.semanticHash())
    val n = probeCache.computeIfAbsent(cacheKey, _ => df.rdd.getNumPartitions)
    if (n < target) df.repartition(target, keys: _*)
    else df
  }
}
