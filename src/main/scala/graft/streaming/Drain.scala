package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one streaming policy graft's file-sourced streams use: a parquet
  * file source read a fixed number of files per micro-batch, drained
  * with `Trigger.AvailableNow` — every file present at start, split into
  * micro-batches, then the query stops — into a `foreachBatch` sink.
  * Each entry is source → transform → `Drain` and nothing else.
  *
  * Delivery contract: at-least-once. A batch whose sink ran but whose
  * commit did not land (a crash in between) is replayed on restart from
  * the checkpoint, so [[appendParquet]] then appends its rows twice.
  * Consumers either absorb replays (a distinct, a max per key — what the
  * StreamingNearDup and StreamingRetention docs rely on) or use a sink
  * that overwrites a batch-id-keyed directory (StreamingMerge,
  * StreamingVectorIngest).
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
}
