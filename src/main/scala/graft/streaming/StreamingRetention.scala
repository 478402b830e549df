package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import EventStreamPipeline.micros

/** The streaming face of the `w7_retention_cohorts` batch query — the
  * cohort×age retention triangle kept incrementally. Per user, state is
  * exactly 16 bytes: the cohort day (first activity) and a 64-bit
  * bitmask of active AGES relative to it — the batch query's
  * `distinct (user, day)` materialization becomes one OR into the mask.
  * The drained per-user snapshots reconstruct the full triangle
  * (explode set bits → group by cohort, age → count users), which the
  * spec proves equal to the batch query exactly.
  *
  * Horizon contract: ages 0..63 (a 64-day product window — the fixture
  * spans 30). A longer-horizon deployment swaps the Long for a
  * fixed-width byte array or a MapState of week masks; the shape
  * (bounded per-user state, no event buffering) is the point.
  *
  * Order contract: within a micro-batch, rows sort by (event-time µs,
  * event_id), so the batch's earliest day correctly founds a new user's
  * cohort; in-order delivery ACROSS batches is the documented
  * precondition, as with the other streaming faces — an out-of-order
  * pre-cohort arrival fails loudly (require) rather than silently
  * mis-cohorting.
  *
  * Scale: masks only gain bits, so each user's snapshot value is
  * monotone — downstream can keep `max(mask)` per user idempotently,
  * and re-emission after replay converges (same property StreamingMerge
  * leans on).
  */
object StreamingRetention {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long)
  case class RetState(firstDay: Long, mask: Long)
  case class RetRow(user_id: Long, cohort_day: Long, mask: Long)

  /** Epoch day in UTC — matches the batch query's to_date under the
    * engine's UTC session timezone. */
  private def epochDay(t: java.sql.Timestamp): Long =
    Math.floorDiv(micros(t), 86400000000L)

  class Processor extends StatefulProcessor[Long, Event, RetRow] {
    @transient private var st: ValueState[RetState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      st = getHandle.getValueState[RetState](
        "retention", Encoders.product[RetState], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[RetRow] = {
      val evs = rows.toArray.sortBy(e => (micros(e.ts), e.event_id))
      if (evs.isEmpty) return Iterator.empty
      var s = if (st.exists()) st.get() else null
      for (e <- evs) {
        val d = epochDay(e.ts)
        if (s == null) s = RetState(d, 1L)
        else {
          val age = d - s.firstDay
          require(age >= 0,
            s"user $key: day $d precedes cohort ${s.firstDay} — out-of-order cross-batch delivery")
          require(age < 64, s"user $key: age $age outside the 64-day horizon")
          s = RetState(s.firstDay, s.mask | (1L << age))
        }
      }
      st.update(s)
      Iterator.single(RetRow(key, s.firstDay, s.mask))
    }
  }

  /** Events parquet stream → typed → transformWithState → per-batch
    * per-user snapshots (monotone per user: a replayed batch is absorbed
    * by max(mask) per user downstream). */
  def stream(spark: SparkSession, srcDir: String): Dataset[RetRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(col("event_id"), col("ts"), col("user_id"))
      .as[Event]
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.None(), OutputMode.Append(),
        Encoders.product[RetRow])
  }
}
