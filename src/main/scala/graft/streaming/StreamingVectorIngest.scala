package graft.streaming

import graft.ops.PqIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Streaming ANN-index maintenance: arriving vectors are PQ-encoded
  * against the FROZEN training codebook and appended to the compressed
  * index — the incremental path that keeps a 100 TB vector corpus
  * searchable without ever rebuilding it.
  *
  * Contract (the spec asserts both halves):
  *  - the encode is row-local and the codebook frozen, so the drained
  *    incremental index is BIT-IDENTICAL to a batch rebuild over the
  *    same vectors, no matter how the stream is chopped into
  *    micro-batches or in what order they arrive;
  *  - each micro-batch lands as its own write-once directory
  *    `b%05d` (the StreamingMerge discipline): a retried batch
  *    overwrites only its own directory, never a neighbor — append
  *    without read-modify-write, idempotent under replay.
  *
  * Scale: per batch one broadcast join (8×16 codebook) + one argmin
  * aggregate over the batch's rows only. The persisted index is the
  * codes table `j5_pq_adc`/`j5_pq_refine` scan — ~1/32 the vector
  * bytes — so queries probe the compressed domain while ingestion
  * appends to it; nothing global is touched. Re-training the codebook
  * (after drift) is the only rebuild, and that is `j5_kmeans_iter`'s
  * job, not the ingest path's.
  */
object StreamingVectorIngest {

  val vectorSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** The frozen codebook: trained once on the base corpus (first 16
    * vectors, the j5_pq_adc seeding) and broadcast to every batch. */
  def trainedCodebook(base: DataFrame): DataFrame =
    PqIndex.codebook(base.select(col("vec_id"), PqIndex.quantized.as("qe")))

  /** Encode one (micro-)batch of raw vectors into (vec_id, m, code). */
  def encodeBatch(batch: DataFrame, codebook: DataFrame): DataFrame =
    PqIndex.encode(batch.select(col("vec_id"), PqIndex.quantized.as("qe")), codebook)

  /** All landed index segments (empty before the first batch). */
  def indexSegments(spark: SparkSession, indexDir: String): Option[DataFrame] = {
    val dirs = Option(new java.io.File(indexDir).listFiles()).map(_.toSeq)
      .getOrElse(Seq.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("b"))
      .sortBy(_.getName)
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs.map(_.getAbsolutePath): _*))
  }

  /** The raw vector stream, one file per micro-batch. */
  def stream(spark: SparkSession, srcDir: String): DataFrame =
    Drain.parquetSource(spark, vectorSchema, srcDir, 1)

  /** The ingest sink: per-batch PQ encode → write-once segment
    * `b<batchId>` under `indexDir`. */
  def sink(indexDir: String, codebook: DataFrame): (DataFrame, Long) => Unit =
    (batch, batchId) => encodeBatch(batch, codebook).write.mode("overwrite")
      .parquet(f"$indexDir/b$batchId%05d")
}
