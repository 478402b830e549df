package graft.tools

import graft.{GraftSession, Profile}
import graft.streaming.{Drain, StreamingRetention}
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Estate-scale RocksDB leg for a ValueState-family operator (VERDICT
  * r11 next #5): runs the transformWithState retention triangle
  * (16-byte ValueState per user: cohort day + 64-bit age bitmask) over
  * the sf1 events estate, CRASHES the stream with an injected
  * post-write failure — the batch's sink output lands but its offset
  * never commits, so the restart replays a genuinely uncommitted batch
  * against version-restored RocksDB state — then drains and proves the
  * reconstructed cohort×age triangle equals the batch computation
  * EXACTLY. Prints ONE JSON line (the committed artifact) and exits
  * nonzero on any divergence.
  *
  * The operator's documented in-order-across-batches precondition is
  * satisfied by re-staging the estate as one file per day, fed to the
  * stream in day order (maxFilesPerTrigger=1) — the shape a real ingest
  * gives this operator (daily arrival), not a probe concession.
  *
  * Usage: spark-submit --class graft.tools.RetentionScaleProbe <jar>
  *        [eventsDir] [outJson]
  */
object RetentionScaleProbe {

  /** How long each of the drill's two queries may run: an hour, where
    * each drained in under 50 s at sf1. */
  val DrainTimeoutMs = 3600000L

  /** Stage the estate as one single-file parquet per activity day, file
    * names and mtimes ascending in day order so the file stream source
    * delivers days in order. */
  private def stageByDay(spark: SparkSession, eventsDir: String, stageDir: String): Int = {
    val ev = graft.Tables.normalizeTs(spark.read.parquet(eventsDir))
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    val days = ev.select(col("day")).distinct().orderBy(col("day"))
      .collect().map(_.getLong(0)) // bounded: the fixture horizon is <= 64 days
    val base = java.nio.file.Paths.get(stageDir)
    java.nio.file.Files.createDirectories(base)
    val t0 = System.currentTimeMillis() - days.length * 2000L
    days.zipWithIndex.foreach { case (d, i) =>
      val tmp = s"$stageDir/_tmp_day"
      ev.filter(col("day") === d).drop("day")
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = java.nio.file.Files.list(java.nio.file.Paths.get(tmp))
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      val dst = base.resolve(f"day$i%03d.parquet")
      java.nio.file.Files.move(part, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      dst.toFile.setLastModified(t0 + i * 1000L) // mtime ascending with day
      // drop the _tmp_day job dir (metadata + crc files)
      java.nio.file.Files.walk(java.nio.file.Paths.get(tmp))
        .sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    }
    days.length
  }

  /** The cohort×age triangle from (user, cohort_day, mask) snapshots:
    * masks are monotone per user, so max(mask) absorbs replays. */
  private def triangleFromSnapshots(snaps: DataFrame): DataFrame =
    snaps.groupBy(col("user_id"))
      .agg(min(col("cohort_day")).as("cohort_day"), max(col("mask")).as("mask"))
      .select(col("user_id"), col("cohort_day"),
        explode(expr(
          "filter(transform(sequence(0, 63), b -> IF((shiftright(mask, b) & 1) = 1, b, -1)), x -> x >= 0)"
        )).as("age_days"))
      .groupBy(col("cohort_day"), col("age_days"))
      .agg(count(lit(1)).as("n_active"))

  /** The batch triangle straight from the staged events — the
    * w7_retention_cohorts math on epoch days. */
  private def triangleFromBatch(spark: SparkSession, stageDir: String): DataFrame = {
    val ev = spark.read.parquet(stageDir)
      .withColumn("day", expr("unix_micros(ts) div 86400000000"))
    val fs = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.select(col("user_id"), col("day")).distinct()
      .join(fs, "user_id")
      .select(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .groupBy(col("cohort_day"), col("age_days"))
      .agg(count(lit(1)).as("n_active"))
  }

  def main(args: Array[String]): Unit = {
    val eventsDir = if (args.length > 0) args(0)
      else "/root/repo/target/scale/sf1/events.parquet"
    val outJson = if (args.length > 1) args(1)
      else "/root/repo/scale/stream_retention_sf1_r12.json"
    val spark = GraftSession.local("graft-retention-probe")
    spark.sparkContext.setLogLevel("ERROR")

    val work = java.nio.file.Files.createTempDirectory("retention_probe").toString
    val stage = s"$work/staged"; val sink = s"$work/snaps"; val ck = s"$work/ck"
    val nDays = stageByDay(spark, eventsDir, stage)

    val (crashedAt, crashSurfaced, q1, q2) = Drain.crashThenDrain(
      StreamingRetention.stream(spark, stage), ck, 5, DrainTimeoutMs)(Drain.appendParquet(sink))
    val (p1, p2) = (Profile.progressJson(q1), Profile.progressJson(q2))

    // ---- correctness: streamed triangle == batch triangle ---------------
    val streamed = triangleFromSnapshots(spark.read.parquet(sink)).cache()
    val expected = triangleFromBatch(spark, stage).cache()
    val missing = expected.exceptAll(streamed).count()
    val extra = streamed.exceptAll(expected).count()
    val nUsers = spark.read.parquet(sink).select(col("user_id")).distinct().count()
    val nEvents = spark.read.parquet(stage).count()
    val ok = crashSurfaced && missing == 0 && extra == 0

    val line = s"""{"probe":"stream_retention","events_dir":"$eventsDir",""" +
      s""""n_events":$nEvents,"n_users":$nUsers,"n_day_files":$nDays,""" +
      s""""crashed_at_batch":$crashedAt,"crash_surfaced":$crashSurfaced,""" +
      s""""triangle_rows":${expected.count()},"missing":$missing,"extra":$extra,""" +
      s""""match":$ok,"checkpoint_bytes":${FileUtils.sizeOfDirectory(new java.io.File(ck))},""" +
      s""""progress_phase1":[${p1.mkString(",")}],""" +
      s""""progress_phase2":[${p2.mkString(",")}]}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), line + "\n")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
