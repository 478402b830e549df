package perfbench

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything the benchmark learns about Spark, learned from outside:
  * a SparkListener (jobs, stages, tasks, blocks), a QueryExecutionListener
  * (planning phases) and a StreamingQueryListener (micro-batch
  * progress). Jobs are attributed to items through their job group.
  * Times are epoch milliseconds, as Spark reports them.
  */
final class Probe extends SparkListener {
  import Probe._

  val jobs = mutable.ArrayBuffer[JobRec]()
  val stages = mutable.LinkedHashMap[(Int, Int), StageRec]()
  val tasks = mutable.ArrayBuffer[TaskRec]()
  val plans = mutable.ArrayBuffer[PlanRec]()
  val batches = mutable.ArrayBuffer[BatchRec]()
  private val stageGroup = mutable.HashMap[Int, String]()
  private val blockBytes = mutable.HashMap[String, Long]()
  private var cachedNow = 0L
  var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs += JobRec(e.jobId, g, e.time, -1L, e.stageIds)
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.find(_.id == e.jobId).foreach(_.end = e.time)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    stages((i.stageId, i.attemptNumber())) = StageRec(i.stageId, i.attemptNumber(),
      stageGroup.getOrElse(i.stageId, ""), i.submissionTime.getOrElse(System.currentTimeMillis()),
      -1L, -1L)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    stages.get((i.stageId, i.attemptNumber())).foreach(_.end = i.completionTime.getOrElse(-1L))
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    stages.get((e.stageId, e.stageAttemptId)).foreach { s =>
      if (s.firstLaunch < 0 || e.taskInfo.launchTime < s.firstLaunch) s.firstLaunch = e.taskInfo.launchTime
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val i = e.taskInfo
    val m = Option(e.taskMetrics)
    tasks += TaskRec(e.stageId, stageGroup.getOrElse(e.stageId, ""), i.launchTime, i.finishTime,
      i.attemptNumber,
      m.map(_.executorRunTime).getOrElse(0L), m.map(_.executorCpuTime).getOrElse(0L),
      m.map(_.jvmGCTime).getOrElse(0L), m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(_.shuffleReadMetrics.fetchWaitTime).getOrElse(0L),
      m.map(_.memoryBytesSpilled).getOrElse(0L), m.map(_.diskBytesSpilled).getOrElse(0L),
      m.map(_.outputMetrics.bytesWritten).getOrElse(0L),
      m.map(_.outputMetrics.recordsWritten).getOrElse(0L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    b.blockId match {
      case _: RDDBlockId =>
        val key = s"${b.blockManagerId.executorId}/${b.blockId.name}"
        val now = b.memSize + b.diskSize
        cachedNow += now - blockBytes.getOrElse(key, 0L)
        if (now == 0) blockBytes.remove(key) else blockBytes(key) = now
        cachedPeak = math.max(cachedPeak, cachedNow)
      case _ =>
    }
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(_.durationMs).getOrElse(0L)
      val graftNs = qe.tracker.rules.iterator
        .collect { case (name, r) if name.startsWith("graft.") => r.totalTimeNs }.sum
      Probe.this.synchronized {
        plans += PlanRec(ms("analysis"), ms("optimization"), ms("planning"), graftNs)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(event: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = event.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue() }.toMap
      Probe.this.synchronized { batches += BatchRec(d) }
    }
  }
}

object Probe {
  final case class JobRec(id: Int, group: String, submit: Long, var end: Long, stages: Seq[Int])
  final case class StageRec(id: Int, attempt: Int, group: String, var submit: Long,
                            var firstLaunch: Long, var end: Long)
  final case class TaskRec(stage: Int, group: String, launch: Long, finish: Long, attempt: Int,
                           runMs: Long, cpuNs: Long, gcMs: Long, shuffleWrite: Long,
                           shuffleRead: Long, fetchWaitMs: Long, spillMem: Long,
                           spillDisk: Long, outBytes: Long, outRecords: Long)
  final case class PlanRec(analysisMs: Long, optimizerMs: Long, physicalMs: Long, graftRulesNs: Long)
  final case class BatchRec(durations: Map[String, Long])

  def attach(spark: SparkSession): Probe = {
    val p = new Probe
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p.queryListener)
    spark.streams.addListener(p.streamListener)
    p
  }

  def drain(spark: SparkSession): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)
}
