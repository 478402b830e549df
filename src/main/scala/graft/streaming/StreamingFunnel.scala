package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import EventStreamPipeline.micros

/** SURVEY.md §2.9 depth — the streaming face of `w4_funnel`: a per-user
  * sequential-pattern state machine (view → click-after-view →
  * purchase-after-that-click) kept incrementally via
  * flatMapGroupsWithState, the CEP-style detection a product-analytics
  * stream runs instead of re-scanning history per batch.
  *
  * Stage entries only ever ADVANCE (each is the first qualifying event
  * strictly after the previous stage's entry), so under in-order
  * per-user delivery across micro-batches the incremental result equals
  * the batch query exactly — the spec model-checks that equivalence over
  * a multi-batch, time-split replay of the fixture. Out-of-order
  * arrivals within a micro-batch are handled (events sort by event time
  * before folding); arrivals out of order ACROSS batches are the
  * documented precondition, as with StreamingNearDup.
  *
  * Scale: state is three Longs per user (bounded, no event buffering).
  * Completed funnels stay as inert tombstones (advance() deliberately
  * never re-enters them — self-eviction would let a late replay re-open
  * a finished funnel and break batch equivalence); eviction is by
  * event-time idle timeout only, which alone holds executor state flat
  * on an unbounded key space.
  */
object StreamingFunnel {

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                   event_type: String)

  /** Stage-entry micros; 0 = stage not reached. */
  case class FunnelState(tv: Long, tc: Long, tp: Long)

  case class FunnelSnapshot(user_id: Long, stage: Int, tv_us: Long,
                            tc_us: Long, tp_us: Long)

  /** Fold a batch of one user's events into the stage machine. Pure
    * function of (key, events, state) — unit-testable without a stream.
    * Completed funnels stay INERT (every guard below no-ops once tp is
    * set) rather than self-evicting: an evicted key would restart a
    * fresh funnel on the user's next event and break equivalence with
    * the batch query. Eviction is idle-timeout only. */
  def advance(idleMs: Long)(userId: Long, events: Iterator[Event],
              state: GroupState[FunnelState]): Iterator[FunnelSnapshot] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val evs = events.toSeq
      if (evs.isEmpty) Iterator.empty
      else {
        var st = state.getOption.getOrElse(FunnelState(0L, 0L, 0L))
        val before = st
        for (e <- evs.sortBy(ev => (micros(ev.ts), ev.event_id))) {
          val us = micros(e.ts)
          e.event_type match {
            case "view" if st.tv == 0L => st = st.copy(tv = us)
            case "click" if st.tv != 0L && st.tc == 0L && us > st.tv =>
              st = st.copy(tc = us)
            case "purchase" if st.tc != 0L && st.tp == 0L && us > st.tc =>
              st = st.copy(tp = us)
            case _ => ()
          }
        }
        // event-time idle eviction (milliseconds); clamp past the
        // watermark — a timeout must never be set behind it
        state.update(st)
        state.setTimeoutTimestamp(math.max(
          evs.map(_.ts.getTime).max + idleMs,
          state.getCurrentWatermarkMs() + 60000L))
        if (st == before) Iterator.empty
        else {
          val stage = if (st.tp != 0L) 3 else if (st.tc != 0L) 2 else 1
          Iterator.single(FunnelSnapshot(userId, stage, st.tv, st.tc, st.tp))
        }
      }
    }
  }

  /** Events parquet stream → typed → stage machine → snapshots (stages
    * only advance; the max stage per user is the funnel position). A
    * user's state is evicted `idleMs` of event time after their last
    * event. */
  def stream(spark: SparkSession, srcDir: String, idleMs: Long): Dataset[FunnelSnapshot] = {
    import spark.implicits._
    Drain.parquetSource(spark, EventStreamPipeline.eventSchema, srcDir, 1)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .as[Event]
      .withWatermark("ts", "1 hour")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(advance(idleMs))
  }
}
