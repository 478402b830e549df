package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge

/** The measurement mains' one profiler: a listener counting jobs and
  * shuffle-write bytes per Spark job group, and [[run]], which times a
  * body under its own group and then reads that group's counts. The
  * read is exact, with no sleep: a job posts its events before its
  * action returns, and [[run]] drains the listener bus first. A stage
  * counts for the group of the job that submitted it (AQE stage and
  * broadcast jobs carry the caller's group); a reused stage is never
  * submitted. [[run]] sets the calling thread's job group and clears it
  * after, so runs do not nest; runs on other threads count apart.
  */
final class Profile private (sc: SparkContext) extends SparkListener with AutoCloseable {
  private val groupOfStage = new ConcurrentHashMap[Int, String]()
  private val jobs = new ConcurrentHashMap[String, java.lang.Long]()
  private val bytes = new ConcurrentHashMap[String, java.lang.Long]()

  private def group(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    group(e.properties).foreach(jobs.merge(_, 1L, _ + _))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    group(e.properties).foreach(groupOfStage.put(e.stageInfo.stageId, _))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(groupOfStage.remove(e.stageInfo.stageId)).foreach(
      bytes.merge(_, e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten, _ + _))

  /** `body`'s value, wall seconds, and the jobs and shuffle-write bytes
    * of job group `group` since its last run. */
  def run[A](group: String)(body: => A): Profile.Run[A] = {
    sc.setJobGroup(group, group)
    val t0 = System.nanoTime()
    val value = try body finally sc.clearJobGroup()
    val wallS = (System.nanoTime() - t0) / 1e9
    PlanBridge.drainListenerBus(sc)
    def take(m: ConcurrentHashMap[String, java.lang.Long]) = Option(m.remove(group)).fold(0L)(_.longValue)
    Profile.Run(value, wallS, take(jobs), take(bytes))
  }

  override def close(): Unit = sc.removeSparkListener(this)
}

object Profile {
  final case class Run[A](value: A, wallS: Double, jobs: Long, shuffleWriteBytes: Long)

  /** A profile of `spark`'s context, counting from now on. */
  def apply(spark: SparkSession): Profile = {
    val p = new Profile(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    p
  }
}
