package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming near-duplicate candidate detection (A10 ⊕ × T): the banded
  * MinHash LSH from the batch dedup pipeline run INCREMENTALLY over a
  * document stream. Each arriving document is shingled and banded with
  * exactly the batch scheme (word 3-grams → one md5 per shingle → 4
  * signature slices → 2 band keys); a `transformWithState` processor
  * keyed by (band, band_key) holds the bucket's member ids in ListState
  * and emits a candidate pair for every (existing, new) member — so, as
  * long as every bucket stays within `MaxBucket`, the candidate stream
  * equals the batch candidate set at every prefix of the input, which is
  * what lets an ingest pipeline dedup against everything seen WITHOUT
  * re-scanning the corpus.
  *
  * Cap semantics differ from batch ABOVE the cap: the batch pipeline
  * drops an oversized bucket wholesale (its bucket-size filter is
  * `BETWEEN 2 AND MaxBucket`), while the stream has already emitted
  * C(MaxBucket, 2) pairs from the first `MaxBucket` members before it
  * can know the bucket is degenerate, and then stops pairing. The
  * equivalence guarantee therefore holds only while every bucket stays
  * within the cap — the precondition the spec asserts on its fixture.
  * State is bounded per bucket by the cap either way: a bucket at
  * `MaxBucket` members is degenerate (the shingle basis is
  * non-discriminative there). At 100 TB the bucket key is the shuffle
  * key and per-bucket state is O(min(bucket size, MaxBucket)).
  */
object StreamingNearDup {

  case class BandRow(b: Int, band_key: String, doc_id: Long)
  case class CandPair(i: Long, j: Long)

  val MaxBucket = 100

  /** The batch banding expressions (DedupQueries.jaccardNgram's scheme)
    * applied to a static-or-streaming documents frame. */
  def bandRows(docs: DataFrame): DataFrame = {
    val shingled = docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(1), size(col("toks")) - 2),
          i => concat_ws(" ",
            element_at(col("toks"), i),
            element_at(col("toks"), i + 1),
            element_at(col("toks"), i + 2)))).as("sh"))
      .withColumn("hs", transform(col("sh"), g => md5(g)))
    val sigs = (0 until 4).foldLeft(shingled) { (df, i) =>
      df.withColumn(s"mh$i", array_min(transform(col("hs"), h => substring(h, 1 + 8 * i, 8))))
    }
    val bandStructs = (0 until 2).map { b =>
      struct(lit(b).as("b"), concat(col(s"mh${2 * b}"), col(s"mh${2 * b + 1}")).as("band_key"))
    }
    sigs.select(col("doc_id"), explode(array(bandStructs: _*)).as("band"))
      .select(col("band.b").as("b"), col("band.band_key").as("band_key"), col("doc_id"))
  }

  /** Per-bucket incremental pairing: new member × stored members. */
  class Processor extends StatefulProcessor[String, BandRow, CandPair] {
    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members", Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[BandRow],
                                 timers: TimerValues): Iterator[CandPair] = {
      val existing = scala.collection.mutable.ArrayBuffer[Long](members.get().toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer[CandPair]()
      rows.foreach { r =>
        if (!existing.contains(r.doc_id) && existing.size < MaxBucket) {
          existing.foreach { m =>
            out += CandPair(math.min(m, r.doc_id), math.max(m, r.doc_id))
          }
          existing += r.doc_id
          members.appendValue(r.doc_id)
        }
      }
      out.iterator
    }
  }

  /** Parquet files the stream reads per micro-batch. */
  val FilesPerBatch = 2

  /** Documents parquet stream → band rows → keyed state → candidate
    * pairs. The pair set is deterministic, so a replayed batch is
    * absorbed by a distinct on read. */
  def stream(spark: SparkSession, srcDir: String): Dataset[CandPair] = {
    import spark.implicits._
    val docs = Drain.parquetSource(spark, StreamingDrift.docSchema, srcDir, FilesPerBatch)
    bandRows(docs)
      .as[BandRow]
      .groupByKey(r => s"${r.b}|${r.band_key}")
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[CandPair])
  }
}
