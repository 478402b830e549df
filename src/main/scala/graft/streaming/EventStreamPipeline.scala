package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

/** SURVEY.md §2.9 T1–T5 — the Structured Streaming form of the
  * reference's event-trigger path (/root/reference/containers/
  * orchestrator/orchestrator.py:882-986):
  *
  *   T1 ingestion       → `readStream` file source over event parquet
  *   T2 priority route  → `when` chain producing (sources, timeout)
  *   T3 background sink → `foreachBatch` appending event-keyed results —
  *                        the persistence the reference leaves as a TODO
  *                        (orchestrator.py:978-981)
  *   T4 health ticks    → `Trigger.ProcessingTime` status stream
  *   T5 watermarking    → `withWatermark` + tumbling windows (the
  *                        reference has no event-time handling at all)
  *
  * Scale notes: file-source micro-batches parallelize per file split;
  * the windowed aggregation keeps state per (window, event_type) — tiny
  * key space — and the watermark bounds it. Every entry drains through
  * [[Drain]]: the sinks append each micro-batch to unpartitioned parquet,
  * at-least-once (a replayed batch appends twice — the contract is stated
  * once, on Drain).
  */
object EventStreamPipeline {

  /** Schema of the events stream (matches Tables.events after the ns→µs
    * conversion). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)
  ))

  /** Event time in microseconds (ms clock + sub-ms nanos): how the typed
    * stream processors order and store `ts`. */
  def micros(t: java.sql.Timestamp): Long =
    t.getTime * 1000L + (t.getNanos / 1000L) % 1000L

  private def eventSource(spark: SparkSession, srcDir: String, filesPerBatch: Int): DataFrame =
    Drain.parquetSource(spark, eventSchema, srcDir, filesPerBatch)

  /** T2 — priority routing (orchestrator.py:924-935), adding `sources`
    * and `timeout_s`: an emergency asks all four sources within 60 s, a
    * `trigger` event all four within 120 s, anything else weather only
    * within 30 s. The one definition of the rule: the batch query
    * `t2_priority_route` triggers on `created` events, [[route]] on
    * `signup`s. Pure column logic: works identically on static and
    * streaming DataFrames. */
  def routing(df: DataFrame, priority: Column, trigger: Column): DataFrame =
    df
      .withColumn("sources",
        when(priority === "emergency" || trigger,
          lit("landfire,modis,weather,topography")).otherwise(lit("weather")))
      .withColumn("timeout_s",
        when(priority === "emergency", 60)
          .when(trigger, 120)
          .otherwise(30))

  /** T2 over the events stream: `priority` from the event type (an
    * `error` is an emergency), then [[routing]] with `signup` as the
    * trigger. */
  def route(events: DataFrame): DataFrame =
    routing(
      events.withColumn("priority",
        when(col("event_type") === "error", "emergency")
          .when(col("event_type") === "signup", "normal")
          .otherwise("low")),
      col("priority"), col("event_type") === "signup")

  /** T5/W3 — watermarked tumbling-window aggregation; identical logic to
    * the batch `w3_tumbling` query, which is how the spec verifies it. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(avg(col("value")), 4).as("avg_value"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"), col("avg_value"))

  /** W3 session variant — gap-based session windows per user on the
    * stream (5-minute inactivity gap), watermarked so sessions finalize;
    * identical logic to the batch `w3_session` query. */
  def sessionizedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(col("session_window.start").as("session_start"), col("user_id"),
        col("n_events"), col("sum_value"))

  /** W3 hopping variant — overlapping 1-hour windows hopping every 15
    * minutes on the stream. Each event updates 4 window states; the
    * watermark finalizes a window once event time passes its end + 1h,
    * so state is bounded at ~4 open windows per (type) regardless of
    * stream length. Identical logic to the batch `w3_hopping` query. */
  def hoppingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .select(col("ts"), col("event_type"),
        expr("cast(round(value * 100) as long)").as("cents"))
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n"), col("sum_cents"))

  /** Streaming entry for hopping windows. */
  def runHopping(spark: SparkSession, srcDir: String, sinkDir: String,
                 checkpointDir: String): StreamingQuery =
    Drain(hoppingCounts(eventSource(spark, srcDir, 4)), checkpointDir)(
      Drain.appendParquet(sinkDir))

  /** Streaming entry for session windows. */
  def runSessionized(spark: SparkSession, srcDir: String, sinkDir: String,
                     checkpointDir: String): StreamingQuery =
    Drain(sessionizedCounts(eventSource(spark, srcDir, 4)), checkpointDir)(
      Drain.appendParquet(sinkDir))

  /** T-depth — stream-stream interval join: each purchase joins the same
    * user's clicks from the preceding hour. Both sides carry watermarks so
    * Spark derives a state-retention bound from the join's time interval —
    * click state is dropped once the watermark passes click.ts + 1h, which
    * is what keeps two unbounded streams joinable in fixed memory. Pure
    * column logic: identical on static frames (how the spec verifies it). */
  def clickToPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("click_id"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("purchase_id"), col("value"))
      .withWatermark("p_ts", "2 hours")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("p_ts"), col("c_ts"))
  }

  /** Streaming entry for the interval join. */
  def runIntervalJoin(spark: SparkSession, srcDir: String, sinkDir: String,
                      checkpointDir: String): StreamingQuery =
    Drain(clickToPurchaseJoin(eventSource(spark, srcDir, 2)), checkpointDir)(
      Drain.appendParquet(sinkDir))

  /** T1+T2+T3 — the full event-trigger pipeline: stream events from
    * `srcDir`, route, and append event-keyed collection requests to
    * `sinkDir` via foreachBatch. Returns the running query. */
  def runRouting(spark: SparkSession, srcDir: String, sinkDir: String,
                 checkpointDir: String): StreamingQuery = {
    val requests = route(eventSource(spark, srcDir, 4))
      .select(col("event_id"), col("user_id"), col("priority"),
        col("sources"), col("timeout_s"), col("ts").as("requested_at"))
    // T3: the event-keyed persistence the reference stubs out
    Drain(requests, checkpointDir)(Drain.appendStamped(sinkDir))
  }

  /** §3.3 — event → DataRequest derivation (the reference's
    * handle_event_trigger → collect_event_data argument marshalling,
    * orchestrator.py:940-970). The reference's EventUpdate carries the
    * incident's coordinates; the events table has none, so a
    * deterministic integer mapping into the continental-US box stands in
    * (and every 19th event lands outside it, keeping the stream's
    * validation/reject path live). Pure column logic — identical on
    * static and streaming frames, which is how the spec verifies it. */
  def eventRequests(events: DataFrame): DataFrame =
    route(events).select(
      concat(lit("req_"), col("event_id")).as("request_id"),
      col("event_id").as("trigger_event_id"),
      col("priority"), col("sources"), col("timeout_s"),
      (lit(25.0) + pmod(col("user_id") * 13 + col("event_id") * 7, lit(2400)).cast("double") / 100.0).as("lat"),
      (lit(-124.0) + pmod(col("user_id") * 17 + col("event_id") * 3, lit(5600)).cast("double") / 100.0
        + when(pmod(col("event_id"), lit(19)) === 0, 60.0).otherwise(0.0)).as("lon"),
      when(col("priority") === "emergency", 5000.0)
        .when(col("event_type") === "signup", 2000.0).otherwise(500.0).as("buffer_m"),
      concat(lit("evt-"), col("event_id")).as("event_id"))

  /** §3.3 end-to-end — the background dispatch the reference leaves as a
    * TODO (orchestrator.py:978-981 "Store result in database linked to
    * event_id"): the routed batch becomes /collect requests, runs the
    * REAL §3.1 pipeline (validate → classify → decode) restricted to each
    * event's routed sources, and comes back keyed by the triggering
    * event. Non-routed sources stay null in the wide row —
    * 'weather'-only updates produce a weather-only response
    * (`sources_successful` = 1), exactly the reference's priority
    * contract.
    *
    * Scale: ONE scan of the batch and one row-local projection — no
    * explode, no shuffle, no join; the routing metadata rides
    * classify's `carry`. Each event row gets its own response, so an
    * event id seen twice (say, in two micro-batches of the stream) is
    * two rows here too. Nothing per-event on the driver. */
  def collectForEvents(events: DataFrame): DataFrame = {
    import graft.ops.CollectPipeline
    val valid = CollectPipeline.validate(eventRequests(events)).filter(col("valid"))
      .withColumn("all_sources",
        col("sources") === "landfire,modis,weather,topography")
    CollectPipeline.classify(valid,
        carry = Seq("trigger_event_id", "priority", "timeout_s", "all_sources"))
      .select(Seq(col("request_id"), col("trigger_event_id").as("event_id"),
        col("priority"), col("timeout_s")) ++
        CollectPipeline.response {
          case "weather" => col("weather_c")
          case s => when(col("all_sources"), col(s"${s}_c"))
        }: _*)
  }

  /** §3.3 streaming entry — T1 ingest → T2 route → the §3.1 collect
    * pipeline → T3 event-keyed result sink. collectForEvents is applied
    * to the streaming frame, on the stream side of the drain, so each
    * micro-batch is planned as one query: a single whole-stage-codegen
    * stage that scans only the three event columns the chain reads and
    * runs validate → classify → response over them, with no shuffle. The
    * sink only stamps `batch_id` and appends. The chain is row-local, so
    * the streamed results equal the batch run on the same events however
    * the files split into micro-batches. */
  def runEventCollect(spark: SparkSession, srcDir: String, sinkDir: String,
                      checkpointDir: String): StreamingQuery =
    Drain(collectForEvents(eventSource(spark, srcDir, 4)), checkpointDir)(
      Drain.appendStamped(sinkDir))

  /** T5 — watermarked windowed aggregation as a stream, appending
    * finalized windows to `sinkDir`. */
  def runWindowed(spark: SparkSession, srcDir: String, sinkDir: String,
                  checkpointDir: String): StreamingQuery =
    Drain(windowedCounts(eventSource(spark, srcDir, 4)), checkpointDir)(
      Drain.appendParquet(sinkDir))
}
