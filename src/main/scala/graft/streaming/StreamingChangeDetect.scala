package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import EventStreamPipeline.micros

/** The streaming face of the `w8_change_detect` batch query — the
  * SCD/compaction primitive run incrementally: per user, a row is a
  * "change" iff its event_type differs from the previous row's, and
  * the previous row now lives in a one-string ValueState cell instead
  * of a lag() window over the full history. The emitted stream is the
  * state-transition log itself (every event, flagged changed/repeat) —
  * a downstream SCD sink keeps the `changed` rows and drops the
  * repeats, which is exactly the compaction that collapses repeated
  * identical readings at 100 TB.
  *
  * This closes the CDC story end-to-end with StreamingMerge: change
  * DETECTION here turns an append log into a change stream, and the
  * merge APPLY folds that stream into versioned snapshots.
  *
  * Order contract: within a micro-batch, rows sort by (event-time µs,
  * event_id) before folding, so micro-batch boundaries are transparent;
  * in-order delivery ACROSS batches is the documented precondition, as
  * with StreamingEwma/StreamingFunnel (the spec replays the fixture as
  * time-split batches and requires the drained census to equal the
  * batch query's exactly — all integer counts, no tolerance).
  *
  * Scale: one string of state per user in the RocksDB store, no timers,
  * no event buffering; output volume equals input volume (flagged), or
  * just the changes if the caller filters — never a window over
  * history.
  */
object StreamingChangeDetect {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String)
  case class LastType(event_type: String)
  case class ChangeRow(event_id: Long, user_id: Long, event_type: String,
                       changed: Boolean)

  class Processor extends StatefulProcessor[Long, Event, ChangeRow] {
    @transient private var st: ValueState[LastType] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[LastType](
        "lastType", Encoders.product[LastType], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[ChangeRow] = {
      val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
      if (evs.isEmpty) return Iterator.empty
      var last: String = if (st.exists()) st.get().event_type else null
      val out = evs.map { e =>
        val changed = last == null || last != e.event_type
        last = e.event_type
        ChangeRow(e.event_id, key, e.event_type, changed)
      }
      st.update(LastType(last))
      out.iterator
    }
  }

  /** Events parquet stream → typed → transformWithState → flagged
    * transition rows. */
  def stream(spark: SparkSession, srcDir: String): Dataset[ChangeRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[ChangeRow])
  }
}
