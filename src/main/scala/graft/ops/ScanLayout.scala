package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.Exchange

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
  * Precondition, checked: `df`'s physical plan holds no exchange. The
  * partition probe turns the frame into an RDD, and under AQE that
  * (`getFinalPhysicalPlan`) EAGERLY EXECUTES every upstream shuffle or
  * broadcast stage. On a raw scan or a checkpointed frame the probe
  * runs no job; any other frame is rejected before one runs. The probe is cheap, so it runs on every
  * call: nothing is memoized across calls or sessions.
  *
  * NOT applied where the round-12 A/B measured it as a loss: payload
  * rows whose downstream per-row work is a single cheap pass (the
  * documents regex census, the BPE round corpus — the exchange barrier
  * plus payload write cost more than the parallelism buys; see
  * OPTIMIZATION_r12.md §6).
  */
object ScanLayout {

  /** `df` hash-partitioned `defaultParallelism` ways on `keys` when the
    * current layout has fewer partitions; `df` unchanged otherwise.
    * Key-based (not round-robin): no sort-before-repartition pass, and
    * deterministic row placement under task retry.
    * @throws IllegalArgumentException if `df`'s plan holds an exchange */
  def widenByKey(df: DataFrame, keys: Column*): DataFrame = {
    val plan = df.queryExecution.executedPlan
    require(!hasExchange(plan),
      s"ScanLayout.widenByKey takes a scan or a checkpointed frame; this plan has an exchange:\n$plan")
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < target) df.repartition(target, keys: _*)
    else df
  }

  private def hasExchange(plan: SparkPlan): Boolean =
    plan.collectWithSubqueries {
      case _: Exchange              => true
      case a: AdaptiveSparkPlanExec => hasExchange(a.executedPlan)
    }.contains(true)
}
