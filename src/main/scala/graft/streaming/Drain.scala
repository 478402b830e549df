package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryException, Trigger}
import org.apache.spark.sql.types.StructType

/** The one streaming policy graft's file-sourced streams use: a parquet
  * file source read a fixed number of files per micro-batch, drained
  * with `Trigger.AvailableNow` — every file present at start, split into
  * micro-batches, then the query stops — into a `foreachBatch` sink.
  * Each operator is a `stream(spark, srcDir)` that builds its source and
  * transform and returns the stream un-drained; the caller drains it:
  * `Drain(Op.stream(spark, src), ck)(Drain.appendParquet(sink))`, or
  * with the operator's own sink where the sink is part of its meaning.
  *
  * Boundary rule: `foreachBatch` hands its sink each micro-batch as a
  * `LogicalRDD` over the stream's executed plan. Column pruning, the
  * analyzer and whole-stage codegen stop at that RDD, and a transform
  * built inside the sink is analyzed again for every batch. So the
  * transform belongs on the stream side, in `ds`, where each micro-batch
  * is planned as one query, and a sink only stamps and writes.
  *
  * Delivery contract: at-least-once. A batch whose sink ran but whose
  * commit did not land (a crash in between) is replayed on restart from
  * the checkpoint, so [[appendParquet]] then appends its rows twice.
  * Consumers either absorb replays (a distinct, a max per key) or use a
  * sink that overwrites a batch-id-keyed directory (StreamingMerge,
  * StreamingVectorIngest). `StreamOperatorSpec` checks the contract for
  * every operator: each one drains once cleanly and once through
  * [[crashThenDrain]], and both final states must equal its batch twin.
  *
  * The state-store provider (RocksDB) is a session setting made once in
  * [[graft.GraftSession.builder]], never per stream. */
object Drain {

  /** A streaming parquet source over `dir`: at most `filesPerBatch`
    * files per micro-batch. */
  def parquetSource(spark: SparkSession, schema: StructType, dir: String,
                    filesPerBatch: Int): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", filesPerBatch.toString)
      .parquet(dir)

  /** Drain everything available now from `ds` into `sink`, one call per
    * micro-batch with its batch id; returns the running query. */
  def apply[T](ds: Dataset[T], checkpointDir: String)
              (sink: (Dataset[T], Long) => Unit): StreamingQuery =
    ds.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(sink)
      .start()

  /** The plain sink: append each micro-batch, unpartitioned, to the
    * parquet dataset at `dir`. */
  def appendParquet[T](dir: String): (Dataset[T], Long) => Unit =
    (batch, _) => batch.write.mode("append").parquet(dir)

  /** [[appendParquet]] with each row stamped with its micro-batch id in
    * a `batch_id` column. */
  def appendStamped[T](dir: String): (Dataset[T], Long) => Unit =
    (batch, batchId) => batch.withColumn("batch_id", lit(batchId)).write.mode("append").parquet(dir)

  /** The crash drill: drain `stream` into `sink`, but throw right after
    * the sink's first batch with id >= `crashFrom`. That batch's output
    * lands and its offset commit never does, so the query dies with a
    * genuinely uncommitted batch (not a graceful stop()'s clean
    * commit). Then drain again from the same checkpoint: the restart
    * replays that batch against the version-restored state, and the
    * sink sees it twice. Each of the two queries must stop within
    * `timeoutMs`, else it is stopped and the drill throws. Returns the
    * crashed batch id (-1 when the input never reached `crashFrom`),
    * whether the crash surfaced as a failed query, and both stopped
    * queries. */
  private[graft] def crashThenDrain[T](stream: => Dataset[T], checkpointDir: String, crashFrom: Long,
                                       timeoutMs: Long)
      (sink: (Dataset[T], Long) => Unit): (Long, Boolean, StreamingQuery, StreamingQuery) = {
    def await(q: StreamingQuery, phase: String): Unit =
      if (!q.awaitTermination(timeoutMs)) {
        q.stop()
        throw new IllegalStateException(s"the $phase query did not stop within $timeoutMs ms")
      }
    val crashedAt = new java.util.concurrent.atomic.AtomicLong(-1L) // set on the stream thread
    val crashed = apply(stream, checkpointDir) { (batch, id) =>
      sink(batch, id)
      if (id >= crashFrom && crashedAt.compareAndSet(-1L, id))
        throw new RuntimeException(
          s"graft injected post-write crash at batch $id (sink written, offset uncommitted)")
    }
    val surfaced =
      try { await(crashed, "crashing"); false }
      catch { case _: StreamingQueryException => true }
    val restarted = apply(stream, checkpointDir)(sink)
    await(restarted, "restarted") // AvailableNow: terminates when caught up
    (crashedAt.get(), surfaced, crashed, restarted)
  }
}
