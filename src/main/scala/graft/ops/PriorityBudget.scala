package graft.ops

import java.util.concurrent.{Executors, ScheduledExecutorService, TimeUnit}

import org.apache.spark.sql.SparkSession

/** SURVEY §4 — priority timeout ENFORCEMENT (the piece the reference
  * routes but never enforces: orchestrator.py:924-935 assigns 60/120/30 s
  * budgets per priority, then awaits the container calls with no
  * cancellation — a slow source holds the whole collect).
  *
  * Spark-first enforcement: every budgeted action runs under a Spark
  * job tag, and a watchdog cancels the tag's jobs when the budget
  * expires. `cancelJobsWithTag` is the cluster-correct mechanism — it
  * kills the jobs' running stages/tasks on every executor (with
  * interrupt-on-cancel set, tasks blocked in IO are interrupted too),
  * so at 1000 executors a timed-out query stops consuming cluster
  * resources immediately instead of running to completion in the
  * background. The driver thread gets a SparkException, which we fold
  * into a typed `Budgeted` result rather than letting it escape. A tag
  * adds to the calling thread's tags, so the caller's job group, and a
  * [[graft.Profile.run]] around the budgeted action, still see its jobs.
  */
object PriorityBudget {

  /** Outcome of a budget-enforced action: either the value, or a
    * timeout marker with the elapsed time (never both). */
  final case class Budgeted[T](
      value: Option[T],
      budgetMs: Long,
      elapsedMs: Long,
      timedOut: Boolean)

  /** The reference's routing table (orchestrator.py:924-935), in ms. */
  def budgetMsFor(priority: String, eventType: String): Long =
    if (priority == "emergency") 60000L
    else if (eventType == "created") 120000L
    else 30000L

  // one daemon watchdog thread for the whole JVM — cancellation is a
  // single sc.cancelJobsWithTag call, never long-running
  private lazy val watchdog: ScheduledExecutorService =
    Executors.newSingleThreadScheduledExecutor { r =>
      val t = new Thread(r, "graft-priority-budget-watchdog")
      t.setDaemon(true)
      t
    }

  private val InterruptOnCancel = "spark.job.interruptOnCancel"

  /** Run `action` (any driver-side code that launches Spark jobs) under
    * `budgetMs`. Jobs launched from the calling thread carry the job tag
    * `groupId` (job tags are thread-local); the watchdog cancels that
    * tag's jobs at the deadline. The session stays fully usable
    * afterwards — cancellation is scoped to the tag, not the
    * SparkContext. `groupId` must be a valid job tag (non-empty, no
    * comma) that the calling thread does not already carry.
    */
  def run[T](spark: SparkSession, groupId: String, budgetMs: Long)(action: => T): Budgeted[T] = {
    val sc = spark.sparkContext
    graft.Profile.requireFreeTag(sc, groupId)
    val interruptBefore = sc.getLocalProperty(InterruptOnCancel)
    sc.addJobTag(groupId)
    sc.setInterruptOnCancel(true)
    val start = System.nanoTime()
    @volatile var fired = false
    val canceller = watchdog.schedule(new Runnable {
      def run(): Unit = { fired = true; sc.cancelJobsWithTag(groupId) }
    }, budgetMs, TimeUnit.MILLISECONDS)
    try {
      val v = action
      val elapsed = (System.nanoTime() - start) / 1000000L
      // the watchdog may have fired between the last job finishing and
      // here; the action still completed, so it's a success
      Budgeted(Some(v), budgetMs, elapsed, timedOut = false)
    } catch {
      case e: Throwable if fired || isCancellation(e) =>
        val elapsed = (System.nanoTime() - start) / 1000000L
        Budgeted(None, budgetMs, elapsed, timedOut = true)
    } finally {
      canceller.cancel(false)
      sc.removeJobTag(groupId)
      sc.setLocalProperty(InterruptOnCancel, interruptBefore)
    }
  }

  /** Convenience: route an event's (priority, event_type) through the
    * reference's budget table and enforce it around `action`. */
  def runRouted[T](spark: SparkSession, priority: String, eventType: String, groupId: String)(
      action: => T): Budgeted[T] =
    run(spark, groupId, budgetMsFor(priority, eventType))(action)

  private def isCancellation(e: Throwable): Boolean = {
    var cur = e
    var depth = 0
    while (cur != null && depth < 10) {
      val m = Option(cur.getMessage).getOrElse("")
      if (cur.isInstanceOf[InterruptedException] ||
          m.contains("cancelled") || m.contains("canceled") ||
          m.contains("SPARK_JOB_CANCELLED")) return true
      cur = cur.getCause
      depth += 1
    }
    false
  }
}
