package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** SURVEY.md §2.9 T3/T5 depth — custom keyed state via
  * flatMapGroupsWithState: the per-entity accumulator the reference's
  * fire-and-forget event path never kept (orchestrator.py:960-986).
  *
  * Tracks, per user: event count, value sum, and emits an updated
  * snapshot row per micro-batch in which the user appeared. State is
  * bounded by event-time timeout (idle users are evicted), which is the
  * property that keeps a 100 TB / billions-of-keys stream from
  * accumulating unbounded executor state — eviction, not growth, is the
  * design decision that matters at scale.
  *
  * Typed `Dataset[Event]` with case-class encoders end-to-end — the
  * type-safe face of the engine (the DataFrame face is everywhere else).
  */
object StatefulEventTracker {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String, value: Double)

  case class UserState(n_events: Long, sum_value: Double, last_ts: Long)

  case class UserSnapshot(user_id: Long, n_events: Long, sum_value: Double,
                          last_event_type: String)

  /** The state transition: fold the batch's events into the running
    * accumulator, emit one snapshot, arm an idle timeout. Pure function
    * of (key, events, state) — unit-testable without a stream. */
  def updateUser(userId: Long, events: Iterator[Event],
                 state: GroupState[UserState]): Iterator[UserSnapshot] = {
    if (state.hasTimedOut) {
      state.remove() // idle eviction: bounded state at scale
      Iterator.empty
    } else {
      val evs = events.toSeq
      if (evs.isEmpty) Iterator.empty
      else {
        val prev = state.getOption.getOrElse(UserState(0L, 0.0, 0L))
        val sorted = evs.sortBy(e => (e.ts.getTime, e.event_id))
        val next = UserState(
          prev.n_events + sorted.size,
          prev.sum_value + sorted.map(_.value).sum,
          math.max(prev.last_ts, sorted.last.ts.getTime))
        state.update(next)
        // event-time idle eviction; the watermark may already be past
        // last_ts+1h when this key reappears late — clamp forward, since
        // a timeout must never be set behind the current watermark
        state.setTimeoutTimestamp(
          math.max(next.last_ts + 3600000L, state.getCurrentWatermarkMs() + 60000L))
        Iterator.single(UserSnapshot(userId,
          next.n_events, math.round(next.sum_value * 100).toDouble / 100,
          sorted.last.event_type))
      }
    }
  }

  /** Streaming entry: events parquet stream → typed → keyed state →
    * append snapshots to the sink. */
  def run(spark: SparkSession, srcDir: String, sinkDir: String,
          checkpointDir: String): StreamingQuery = {
    import spark.implicits._
    val out = Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 4)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      .as[Event]
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(updateUser)
    Drain(out, checkpointDir)(Drain.appendParquet(sinkDir))
  }
}
