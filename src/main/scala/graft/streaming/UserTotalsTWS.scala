package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** SURVEY.md §2.9 T3/T5 depth — custom keyed state on
  * `transformWithState`, Spark 4.x's arbitrary-state API (SPARK-46815):
  * the per-entity accumulator the reference's fire-and-forget event path
  * never kept. Explicit typed state cells (`ValueState`) instead of
  * flatMapGroupsWithState's one opaque state object (StreamingFunnel
  * keeps that API), first-class event-time timers
  * (`registerTimer`/`handleExpiredTimer`) instead of a single timeout
  * slot, and TTL support per state cell.
  *
  * Why it matters at scale: state cells are individually addressable in
  * the RocksDB state store (no full-object rewrite per update), and
  * multiple independent cells/timers per key compose — the API designed
  * for billions of keys. Semantics here are order-insensitive folds
  * (count/sum/max), so results are deterministic under any micro-batch
  * partitioning of the input — the property the spec asserts against the
  * batch aggregate.
  *
  * Reference boundary: the reference's event path is fire-and-forget
  * (/root/reference/containers/orchestrator/orchestrator.py:960-986);
  * this persists per-entity state and emits an eviction summary when a
  * key goes idle (timer fires past the watermark).
  */
object UserTotalsTWS {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class Totals(n_events: Long, sum_value: Double, last_ms: Long)

  /** kind = "snapshot" (per batch the user appeared in) or "final"
    * (idle-eviction emission when the event-time timer fires). */
  case class UserRow(user_id: Long, kind: String, n_events: Long,
                     sum_value: Double, last_ms: Long)

  /** Idle gap before a key is evicted and its final row emitted. */
  val IdleGapMs: Long = 3600000L

  class Processor extends StatefulProcessor[Long, Event, UserRow] {
    @transient private var totals: ValueState[Totals] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      totals = getHandle.getValueState[Totals](
        "totals", Encoders.product[Totals], TTLConfig.NONE)
    }

    override def handleInputRows(key: Long, rows: Iterator[Event],
                                 timers: TimerValues): Iterator[UserRow] = {
      val evs = rows.toSeq
      if (evs.isEmpty) return Iterator.empty
      val prev = if (totals.exists()) totals.get() else Totals(0L, 0.0, 0L)
      val next = Totals(
        prev.n_events + evs.size,
        prev.sum_value + evs.map(_.value).sum,
        math.max(prev.last_ms, evs.map(_.ts.getTime).max))
      totals.update(next)
      // one idle-eviction timer per key: drop any stale timer, arm a new
      // one at last-seen + gap. Unlike flatMapGroupsWithState's timeout,
      // a TWS timer MAY be registered at/behind the watermark — it simply
      // fires in the next timer sweep, which is exactly right for a key
      // that is already idle-expired when its late data arrives.
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      getHandle.registerTimer(next.last_ms + IdleGapMs)
      Iterator.single(UserRow(key, "snapshot", next.n_events,
        math.round(next.sum_value * 100).toDouble / 100, next.last_ms))
    }

    override def handleExpiredTimer(key: Long, timers: TimerValues,
                                    expired: ExpiredTimerInfo): Iterator[UserRow] = {
      if (!totals.exists()) return Iterator.empty
      val t = totals.get()
      totals.clear() // eviction: bounded state at scale
      Iterator.single(UserRow(key, "final", t.n_events,
        math.round(t.sum_value * 100).toDouble / 100, t.last_ms))
    }
  }

  /** Events parquet stream → typed → transformWithState → snapshot and
    * final rows. */
  def stream(spark: SparkSession, srcDir: String): Dataset[UserRow] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 4)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .transformWithState(new Processor, TimeMode.EventTime(), OutputMode.Append(),
        Encoders.product[UserRow])
  }
}
