package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.streaming.StreamingQuery

/** The engine's one listener: it counts jobs and shuffle-write bytes per
  * Spark job tag, and [[run]] times a body under its own tag and then
  * reads that tag's counts, exactly: a job posts its events before its
  * action returns, and [[run]] drains the listener bus first. A job, and
  * each stage it submits (AQE stage and broadcast jobs carry the
  * caller's tags; a reused stage is never submitted), counts for every
  * tag in its `spark.job.tags` that a [[run]] of this profile holds
  * open; other tags, Spark's own per-session and per-execution ones
  * among them, are ignored. Runs nest (an outer run counts the runs
  * inside it), runs on other threads count apart, and the calling
  * thread's job group is left to whoever called the engine.
  */
final class Profile private (sc: SparkContext) extends SparkListener with AutoCloseable {
  private val open = ConcurrentHashMap.newKeySet[String]()
  private val tagsOfStage = new ConcurrentHashMap[Int, Seq[String]]()
  private val jobs = new ConcurrentHashMap[String, java.lang.Long]()
  private val bytes = new ConcurrentHashMap[String, java.lang.Long]()

  private def tags(props: java.util.Properties): Seq[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .fold(Seq.empty[String])(_.split(',').toSeq.filter(open.contains))

  override def onJobStart(e: SparkListenerJobStart): Unit =
    tags(e.properties).foreach(jobs.merge(_, 1L, _ + _))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val ts = tags(e.properties)
    if (ts.nonEmpty) tagsOfStage.put(e.stageInfo.stageId, ts)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(tagsOfStage.remove(e.stageInfo.stageId)).foreach(_.foreach(
      bytes.merge(_, e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten, _ + _)))

  /** `body`'s value, wall seconds, and the jobs and shuffle-write bytes
    * of the jobs started under job tag `tag` while `body` ran. */
  def run[A](tag: String)(body: => A): Profile.Run[A] = {
    Profile.requireFreeTag(sc, tag)
    require(open.add(tag), s"job tag '$tag' is already open in this profile")
    try {
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val value = try body finally sc.removeJobTag(tag)
      val wallS = (System.nanoTime() - t0) / 1e9
      PlanBridge.drainListenerBus(sc)
      def take(m: ConcurrentHashMap[String, java.lang.Long]) = Option(m.remove(tag)).fold(0L)(_.longValue)
      Profile.Run(value, wallS, take(jobs), take(bytes))
    } finally open.remove(tag)
  }

  override def close(): Unit = sc.removeSparkListener(this)
}

object Profile {
  final case class Run[A](value: A, wallS: Double, jobs: Long, shuffleWriteBytes: Long)

  /** One micro-batch of a streaming query: its input rows, trigger wall
    * time, and the first state operator's rows and RocksDB SST bytes
    * (-1 where a value is absent). */
  final case class Progress(query_name: String, batch_id: Long, input_rows: Long,
                            trigger_ms: Long, state_rows: Long, rocksdb_sst_bytes: Long)

  /** A profile of `spark`'s context, counting from now on. */
  def apply(spark: SparkSession): Profile = {
    val p = new Profile(spark.sparkContext)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** Fails unless `tag` is a job tag Spark accepts (non-empty, without
    * the comma that separates tags in `spark.job.tags`) that the calling
    * thread does not carry yet. */
  def requireFreeTag(sc: SparkContext, tag: String): Unit = {
    require(tag != null && tag.nonEmpty && !tag.contains(','),
      s"a job tag must be non-empty and hold no comma: '$tag'")
    require(!sc.getJobTags().contains(tag), s"job tag '$tag' is already set on this thread")
  }

  /** The streaming face: `q`'s own recent progress, one row per
    * micro-batch, oldest first (the last `numRecentProgressUpdates`, 100
    * by default); exact once `q` has stopped, as `stop()` joins the
    * query thread, which reports each batch's progress before it ends. */
  def progress(q: StreamingQuery): Seq[Progress] =
    q.recentProgress.toSeq.map { p =>
      val so = p.stateOperators.headOption
      Progress(Option(p.name).getOrElse(p.id.toString), p.batchId, p.numInputRows,
        p.durationMs.getOrDefault("triggerExecution", -1L),
        so.fold(-1L)(_.numRowsTotal),
        so.fold(-1L)(_.customMetrics.getOrDefault("rocksdbSstFileSize", -1L)))
    }

  /** One JSON object per batch of `q` that read input: batch, rows,
    * trigger time and the first state operator's rows and RocksDB SST
    * bytes — the stream probes' progress record. */
  def progressJson(q: StreamingQuery): Seq[String] =
    progress(q).filter(_.input_rows > 0).map { p =>
      s"""{"batch":${p.batch_id},"input_rows":${p.input_rows},""" +
        s""""trigger_ms":${p.trigger_ms},"state_rows":${p.state_rows},""" +
        s""""rocksdb_sst_bytes":${p.rocksdb_sst_bytes}}"""
    }
}
