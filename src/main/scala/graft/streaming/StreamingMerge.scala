package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The streaming face of the `u4_merge_upsert` operator — foreachBatch
  * CDC apply into a keyed snapshot, the Delta-style MERGE loop built on
  * plain parquet: each micro-batch reduces to one change row per key
  * (latest event by (ts, event_id) + event count), full-outer merges
  * into the previous snapshot version, and lands as an immutable new
  * version directory `v%05d` (write-once versions instead of
  * read-modify-write on one path — the snapshot a failed batch retries
  * against is untouched, so the batch-id-keyed rewrite is idempotent,
  * matching the file-sink exactly-once contract).
  *
  * The merge semantics are a commutative, associative fold (count adds,
  * latest-wins compares a (ts, event_id) struct), so the drained
  * snapshot equals the batch aggregate under ANY partitioning of the
  * input into micro-batches — no in-order delivery precondition, which
  * is what the spec exploits by replaying unordered files.
  *
  * Scale: each apply is one per-key reduce of the (small) batch + one
  * key equi-join against the snapshot; at 100 TB the snapshot would be
  * bucketed by the key so successive merges are exchange-free on the
  * big side, and old versions are vacuumed by retention.
  */
object StreamingMerge {

  /** Reduce a raw change batch to one row per key: latest event wins,
    * counts accumulate. */
  def reduceBatch(batch: DataFrame): DataFrame =
    batch
      .groupBy(col("user_id"))
      .agg(
        max(struct(col("ts"), col("event_id"), col("event_type"), col("value"))).as("last"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.ts").as("last_ts"), col("last.event_type").as("last_type"),
        col("last.value").as("last_value"), col("n_events"))

  /** Merge a reduced change set into a snapshot (either side's schema =
    * reduceBatch output). Full-outer on the key: counts add, the later
    * (ts, event_id) row's payload wins. */
  def merge(snapshot: DataFrame, delta: DataFrame): DataFrame = {
    val s = snapshot.select(col("user_id"), struct(col("last_ts"), col("last_event_id"),
      col("last_type"), col("last_value")).as("s_last"), col("n_events").as("s_n"))
    val d = delta.select(col("user_id"), struct(col("last_ts"), col("last_event_id"),
      col("last_type"), col("last_value")).as("d_last"), col("n_events").as("d_n"))
    s.join(d, Seq("user_id"), "full_outer")
      .withColumn("last", when(col("d_last").isNull, col("s_last"))
        .when(col("s_last").isNull, col("d_last"))
        .when(col("d_last") > col("s_last"), col("d_last"))
        .otherwise(col("s_last")))
      .select(col("user_id"), col("last.last_event_id").as("last_event_id"),
        col("last.last_ts").as("last_ts"), col("last.last_type").as("last_type"),
        col("last.last_value").as("last_value"),
        (coalesce(col("s_n"), lit(0L)) + coalesce(col("d_n"), lit(0L))).as("n_events"))
  }

  /** Version directories as (batch id, dir), in batch-id order. Ordered
    * and bounded by the NUMBER: `v%05d` names widen past v99999, so name
    * order would put v100000 before v10001. */
  private def versions(snapDir: String): Seq[(Long, java.io.File)] =
    Option(new java.io.File(snapDir).listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(f => f.getName.drop(1).toLong -> f)
      .sortBy(_._1)

  /** Latest snapshot version as a DataFrame, or None before the first
    * batch lands. `beforeBatch` bounds the lookup for the apply path: a
    * RETRIED batch must merge against the version preceding it, never
    * its own (possibly partial) earlier attempt — that is what makes the
    * batch-id-keyed rewrite idempotent. */
  def latestSnapshot(spark: SparkSession, snapDir: String,
                     beforeBatch: Long = Long.MaxValue): Option[DataFrame] =
    versions(snapDir).filter(_._1 < beforeBatch)
      .lastOption.map { case (_, f) => spark.read.parquet(f.getAbsolutePath) }

  /** The raw change stream: events, four files per micro-batch. */
  def stream(spark: SparkSession, srcDir: String): DataFrame =
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 4)

  /** The apply sink: per-batch reduce → merge with the version before
    * this batch → write version `v<batchId>` under `snapDir`. */
  def sink(snapDir: String): (DataFrame, Long) => Unit = { (batch, batchId) =>
    val delta = reduceBatch(batch)
    val merged = latestSnapshot(batch.sparkSession, snapDir, beforeBatch = batchId) match {
      case Some(prev) => merge(prev, delta)
      case None => delta
    }
    merged.write.mode("overwrite")
      .parquet(f"$snapDir/v$batchId%05d")
  }
}
