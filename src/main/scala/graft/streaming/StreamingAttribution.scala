package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import EventStreamPipeline.micros

/** The streaming face of the `w10_attribution` batch query — real-time
  * multi-touch attribution: as purchases arrive, each distributes its
  * revenue over the SAME user's click/view touches in the preceding
  * hour under first/last/linear credit models, emitting one credit row
  * per (purchase, in-window touch) plus an explicit `unattributed` row
  * when the window is empty. The batch query finds the window with a
  * time-bin range join; here the window IS the state: a per-user list
  * of recent touches, pruned to the lookback horizon as event time
  * advances, so a purchase attributes against state instead of a join.
  *
  * Credit arithmetic is the batch query's exactly — integer cents via
  * floor(value·100), linear split cents div n with the remainder on the
  * LAST touch — so the drained credit rows aggregate to the identical
  * census, asserted with no tolerance. Each row carries its touch's
  * event id `t_id` (-1 on the unattributed row), so (p_id, t_id) keys
  * it: a replayed batch re-emits identical rows, which a distinct
  * absorbs — without the key, two middle touches of one type give equal
  * rows that a distinct would merge.
  *
  * Order contract: rows sort by (event-time µs, event_id) within a
  * micro-batch; in-order delivery ACROSS batches is the documented
  * precondition (as with StreamingEwma/Funnel) because a late touch
  * cannot re-credit an already-emitted purchase.
  *
  * Scale: per-user state is bounded by the user's touch rate × the
  * 1-hour horizon (pruning runs on every purchase), individually
  * addressable in RocksDB; purchases emit O(touches-in-window) rows and
  * touch nothing outside their key.
  */
object StreamingAttribution {

  val HourUs = 3600000000L

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)
  case class Touch(t_us: Long, t_id: Long, touch_type: String)
  case class CreditRow(p_id: Long, t_id: Long, touch_type: String,
                       first_cents: Long, last_cents: Long, linear_cents: Long)

  class Processor extends StatefulProcessor[Long, Event, CreditRow] {
    @transient private var touches: ListState[Touch] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      touches = getHandle.getListState[Touch](
        "touches", Encoders.product[Touch], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[CreditRow] = {
      val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
      val out = Seq.newBuilder[CreditRow]
      var window = touches.get().toArray.sortBy(t => (t.t_us, t.t_id))
      var dirty = false
      for (e <- evs) {
        val eUs = micros(e.ts)
        e.event_type match {
          case "click" | "view" =>
            window :+= Touch(eUs, e.event_id, e.event_type)
            dirty = true
          case "purchase" =>
            val cents = math.floor(e.value * 100).toLong
            // prune below the horizon — nothing older can ever attribute
            // again under the in-order contract
            val pruned = window.filter(_.t_us >= eUs - HourUs)
            if (pruned.length != window.length) { window = pruned; dirty = true }
            val inWin = window.filter(t => t.t_us >= eUs - HourUs && t.t_us < eUs)
            val n = inWin.length.toLong
            if (n == 0)
              out += CreditRow(e.event_id, -1L, "unattributed", cents, cents, cents)
            else inWin.zipWithIndex.foreach { case (t, i) =>
              val rn = i + 1L
              out += CreditRow(e.event_id, t.t_id, t.touch_type,
                if (rn == 1L) cents else 0L,
                if (rn == n) cents else 0L,
                cents / n + (if (rn == n) cents % n else 0L))
            }
          case _ => () // signup/error carry no attribution role
        }
      }
      if (dirty) { if (window.isEmpty) touches.clear() else touches.put(window) }
      out.result().iterator
    }
  }

  /** Events parquet stream → per-user touch state → per-purchase credit
    * rows. */
  def stream(spark: SparkSession, srcDir: String): Dataset[CreditRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[CreditRow])
  }
}
