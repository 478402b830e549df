package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** The streaming face of the `a11_countmin_sketch` batch query — the
  * Count-Min counter matrix maintained incrementally over the event
  * firehose, so point-frequency estimates ("how often has THIS user
  * appeared?") are answerable at any moment without re-scanning
  * history. Each event contributes one increment per hash row; the
  * d=4 × w=64 counter cells live in `transformWithState` keyed by the
  * packed (row, bucket) cell id and each micro-batch emits the updated
  * cells, so the latest snapshot per cell IS the sketch.
  *
  * Scale: state is bounded by the sketch geometry — exactly d·w = 256
  * counter cells no matter the event volume (the defining property of
  * the sketch; same bounded-state discipline as StreamingBurnRate).
  * Increments are commutative, so arrival order never matters: any
  * interleaving, restart, or replay of micro-batches yields the same
  * final counters, which must equal the batch census bit-for-bit (the
  * contract StreamOperatorSpec checks). Hash constants are the batch
  * query's — the streamed sketch and the batch certification answer
  * identical point queries.
  */
object StreamingCountMin {

  /** Same pairwise-independent hash family as a11_countmin_sketch. */
  val A = Seq(999983L, 999979L, 999961L, 999959L)
  val B = Seq(17L, 257L, 4099L, 65537L)
  val W = 64L

  case class Cell(cell: Long) // cell id = j * W + bucket
  case class CellRow(j: Long, b: Long, cnt: Long)

  class Processor extends StatefulProcessor[Long, Cell, CellRow] {
    @transient private var st: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[Long](
        "cm_counter", Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Cell],
                                 timers: TimerValues): Iterator[CellRow] = {
      var n = if (st.exists()) st.get() else 0L
      rows.foreach(_ => n += 1L)
      st.update(n)
      Iterator.single(CellRow(key / W, key % W, n))
    }
  }

  /** Events parquet stream → 4 hash cells per event → incremental
    * counter census → per-batch snapshot rows. */
  def stream(spark: SparkSession, srcDir: String): Dataset[CellRow] = {
    import spark.implicits._
    val cells = (0 until 4).map { j =>
      struct(expr(
        s"${j}L * $W + (((user_id % 1000003L) * ${A(j)}L + ${B(j)}L) % 1000003L) % $W")
        .as("cell"))
    }
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(explode(array(cells: _*)).as("h"))
      .select(col("h.cell").as("cell"))
      .as[Cell]
      .groupByKey(_.cell)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[CellRow])
  }
}
