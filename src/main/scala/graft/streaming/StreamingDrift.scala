package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types._

/** The streaming face of the `a13_drift_tvd` batch query — corpus
  * distribution monitoring that keeps up with ingestion instead of
  * re-scanning the corpus per report. The batch query censuses n_chars
  * bins over the whole table; here each micro-batch of newly-ingested
  * documents INCREMENTS a per-bin (ref, cur) counter pair held in
  * `transformWithState`, and every batch emits the updated census rows
  * for the bins it touched. The drift arithmetic itself (ppm masses,
  * TVD, chi-square surrogate — see MonitorQueries) is pure integer math
  * over the ≤ 20-row census, so any consumer of the emitted snapshot
  * reproduces the batch query's numbers exactly.
  *
  * Scale: the state is bounded by the BIN DOMAIN (20 cells × 16 bytes),
  * not the corpus — a 100 TB firehose maintains the same 20 counters.
  * Counts are pure commutative increments, so unlike the order-sensitive
  * EWMA/funnel operators this one needs NO in-order-delivery
  * precondition: any arrival order yields the same final census.
  */
object StreamingDrift {

  case class Doc(doc_id: Long, n_chars: Long)
  case class BinCounts(c_ref: Long, c_cur: Long)
  case class DriftRow(bin: Long, c_ref: Long, c_cur: Long)

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  class Processor extends StatefulProcessor[Long, Doc, DriftRow] {
    @transient private var st: ValueState[BinCounts] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[BinCounts](
        "bin_counts", Encoders.product[BinCounts], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Doc],
                                 timers: TimerValues): Iterator[DriftRow] = {
      var s = if (st.exists()) st.get() else BinCounts(0L, 0L)
      rows.foreach { d =>
        if (d.doc_id % 2 == 0) s = s.copy(c_ref = s.c_ref + 1)
        else s = s.copy(c_cur = s.c_cur + 1)
      }
      st.update(s)
      Iterator.single(DriftRow(key, s.c_ref, s.c_cur))
    }
  }

  /** Documents parquet stream → bin key → incremental per-bin census →
    * per-batch snapshot rows. */
  def stream(spark: SparkSession, srcDir: String): Dataset[DriftRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, docSchema, srcDir, 1)
      .select(col("doc_id"), col("n_chars"))
      .as[Doc]
      .groupByKey(d => math.min(d.n_chars / 100L, 19L))
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[DriftRow])
  }
}
