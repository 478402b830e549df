package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import EventStreamPipeline.micros

/** The streaming face of the `u5_scd2_history` batch query — SCD Type-2
  * interval construction run incrementally: per user, the OPEN interval
  * (current type, since-when, version counter) lives in one ValueState
  * cell; each arriving state change CLOSES it (the closed interval is
  * emitted, immutable from then on) and opens the next. The sink
  * accumulates exactly the closed history rows; the open tail of each
  * user's history is the state itself, emitted only when a later change
  * closes it — so the sink is append-only and no emitted row is ever
  * revised, the property that lets the history land in write-once
  * parquet.
  *
  * Completes the CDC triptych: StreamingChangeDetect flags transitions,
  * StreamingMerge folds latest-state (Type 1), and this builds the
  * versioned validity intervals (Type 2).
  *
  * Order contract: within a micro-batch, rows sort by (event-time µs,
  * event_id); in-order delivery ACROSS batches is the documented
  * precondition (same as StreamingChangeDetect/StreamingEwma — the spec
  * replays time-split batches).
  *
  * Scale: O(1) state per user (type + two longs), no timers, no event
  * buffering; emitted volume = number of state changes, strictly less
  * than input volume.
  */
object StreamingScd2 {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String)
  case class OpenInterval(event_type: String, from_us: Long, version: Int)
  case class ClosedRow(user_id: Long, version: Int, event_type: String,
                       valid_from_us: Long, valid_to_us: Long)

  class Processor extends StatefulProcessor[Long, Event, ClosedRow] {
    @transient private var st: ValueState[OpenInterval] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[OpenInterval](
        "openInterval", Encoders.product[OpenInterval], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[ClosedRow] = {
      val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
      if (evs.isEmpty) return Iterator.empty
      var open: OpenInterval = if (st.exists()) st.get() else null
      val out = scala.collection.mutable.ArrayBuffer.empty[ClosedRow]
      for (e <- evs) {
        if (open == null) {
          open = OpenInterval(e.event_type, micros(e.ts), 1)
        } else if (open.event_type != e.event_type) {
          out += ClosedRow(key, open.version, open.event_type, open.from_us, micros(e.ts))
          open = OpenInterval(e.event_type, micros(e.ts), open.version + 1)
        } // repeat: the open interval absorbs it
      }
      st.update(open)
      out.iterator
    }
  }

  /** Events parquet stream → typed → transformWithState → closed
    * history intervals. */
  def stream(spark: SparkSession, srcDir: String): Dataset[ClosedRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[ClosedRow])
  }
}
