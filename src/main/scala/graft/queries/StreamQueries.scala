package graft.queries

import graft.Tables
import graft.streaming.EventStreamPipeline
import org.apache.spark.sql.functions._

/** SURVEY.md §2.9 T1–T5 — batch-verifiable projections of the streaming
  * path. The actual Structured Streaming runtime (readStream → watermark
  * → windowed agg → foreachBatch sink) lives in
  * [[graft.streaming.EventStreamPipeline]] and is exercised by
  * EventStreamSpec, which asserts the streamed result equals the batch
  * plan on the same data (Structured Streaming guarantees this for
  * append-complete inputs). The queries here pin the routing and sink
  * SEMANTICS against the DuckDB oracle.
  */
object StreamQueries {

  /** T2 — priority routing (orchestrator.py:924-935), the stream's
    * [[EventStreamPipeline.routing]] with `created` events as the
    * trigger: emergency → all 4 sources / 60 s budget; created → all 4 /
    * 120 s; anything else → weather only / 30 s. */
  val t2 = Q(
    "t2_priority_route",
    "Priority-based routing when-chain producing the sources set + timeout budget per event.",
    (s, _) => {
      import s.implicits._
      val events = Seq(
        (1, "emergency", "updated"), (2, "normal", "created"), (3, "low", "updated"),
        (4, "high", "location_changed"), (5, "emergency", "created"), (6, "normal", "updated")
      ).toDF("id", "priority", "event_type")
      EventStreamPipeline.routing(events, col("priority"), col("event_type") === "created")
    },
    Some("""SELECT id, priority, event_type,
            CASE WHEN priority = 'emergency' OR event_type = 'created'
                 THEN 'landfire,modis,weather,topography' ELSE 'weather' END AS sources,
            CASE WHEN priority = 'emergency' THEN 60
                 WHEN event_type = 'created' THEN 120 ELSE 30 END AS timeout_s
            FROM (VALUES (1, 'emergency', 'updated'), (2, 'normal', 'created'), (3, 'low', 'updated'),
                         (4, 'high', 'location_changed'), (5, 'emergency', 'created'), (6, 'normal', 'updated'))
                 AS t(id, priority, event_type)""")
  )

  /** T3 — the event-keyed results sink the reference stubs out
    * (orchestrator.py:960-986, TODO at :978-981): per event, the routed
    * collection request materialized as a sink row. Batch shape of the
    * foreachBatch write in EventStreamPipeline. */
  val t3 = Q(
    "t3_event_sink",
    "Event-keyed sink rows: route each event, emit (event_id, sources, requested_at) — the persistence the reference leaves as TODO.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.events
        .filter(col("event_type").isin("signup", "purchase")) // "created"-like triggers
        .select(
          col("event_id"),
          col("user_id"),
          when(col("event_type") === "signup", lit("landfire,modis,weather,topography"))
            .otherwise(lit("weather")).as("sources"),
          date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss").as("requested_at")
        )
    },
    Some("""SELECT event_id, user_id,
            CASE WHEN event_type = 'signup' THEN 'landfire,modis,weather,topography'
                 ELSE 'weather' END AS sources,
            strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%S') AS requested_at
            FROM events WHERE event_type IN ('signup', 'purchase')""")
  )

  /** T2 enforced — the piece the reference never implements: its
    * orchestrator assigns 60/120/30 s budgets (orchestrator.py:924-935)
    * but awaits container calls with no cancellation. Here each routed
    * source's collect runs as a real Spark job inside a job group that
    * [[graft.ops.PriorityBudget]] cancels at the deadline; a
    * deliberately hung source (executor-side 60 s sleep under a 300 ms
    * budget) proves the kill path — the query returns in well under a
    * second for that source, with the orchestrator's failure accounting
    * (timed_out, no rows) instead of a wedged pipeline. */
  val t2Enforce = Q(
    "t2_budget_enforce",
    "Per-source budget ENFORCEMENT: each routed collect runs in a watchdog-cancelled job group; a hung source is killed at its deadline and folded into failure accounting.",
    (s, dir) => {
      import s.implicits._
      import graft.ops.PriorityBudget
      val t = Tables(s, dir)
      def sourceJob(source: String): Long = source match {
        case "hung_source" =>
          // the upstream-never-responds case: tasks sleep far past any budget
          s.sparkContext.parallelize(1 to 2, 2).map { i => Thread.sleep(60000L); i }
            .count()
        case src =>
          t.events.filter(col("event_type").isNotNull)
            .withColumn("src", lit(src)).count()
      }
      val plan = Seq(
        ("landfire", "emergency", "updated"),
        ("modis", "normal", "created"),
        ("weather", "normal", "updated"),
        ("topography", "emergency", "created"),
        ("hung_source", "normal", "updated"))
      val results = plan.map { case (src, prio, etype) =>
        val budget =
          if (src == "hung_source") 300L else PriorityBudget.budgetMsFor(prio, etype)
        val r = PriorityBudget.run(s, s"t2-budget-$src", budget)(sourceJob(src))
        (src, prio, PriorityBudget.budgetMsFor(prio, etype) / 1000L,
          !r.timedOut, r.timedOut, r.value.getOrElse(0L))
      }
      results.toDF("source", "priority", "budget_s", "ok", "timed_out", "rows_collected")
    },
    Some("""WITH n AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM events
                       WHERE event_type IS NOT NULL),
            plan(source, priority, budget_s) AS (VALUES
              ('landfire',   'emergency', CAST(60 AS BIGINT)),
              ('modis',      'normal',    CAST(120 AS BIGINT)),
              ('weather',    'normal',    CAST(30 AS BIGINT)),
              ('topography', 'emergency', CAST(60 AS BIGINT)))
            SELECT source, priority, budget_s, true AS ok, false AS timed_out,
                   nn AS rows_collected
            FROM plan, n
            UNION ALL
            SELECT 'hung_source', 'normal', CAST(30 AS BIGINT), false, true,
                   CAST(0 AS BIGINT)""")
  )

  /** T4 — health-tick summary: the 30 s health poll as a batch roll-up
    * over per-minute buckets (rate/availability per source). */
  val t4 = Q(
    "t4_health_ticks",
    "Health-poll roll-up: per-hour bucket per type, event rate and error share — the batch form of the Trigger.ProcessingTime status stream.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.events
        .groupBy(date_trunc("hour", col("ts")).as("tick"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(count(when(col("value") > 100, 1)).cast("double") / count(lit(1)), 6).as("hi_share"))
    },
    Some("""SELECT date_trunc('hour', CAST(ts AS TIMESTAMP)) AS tick, event_type, count(*) AS n,
            round(CAST(count(CASE WHEN value > 100 THEN 1 END) AS DOUBLE) / count(*), 6) AS hi_share
            FROM events GROUP BY 1, 2""")
  )

  /** §3.3 composed — the event-trigger → /collect dispatch the reference
    * stubs (orchestrator.py:978-981), as its batch-verifiable census:
    * every routed event runs the REAL §3.1 pipeline restricted to its
    * routed sources ([[graft.streaming.EventStreamPipeline.collectForEvents]];
    * the streamed form is runEventCollect, spec-pinned stream=batch).
    * The census groups the wide responses by routing priority and risk
    * combination with an exact sum(event_id) checksum, so every response
    * row's content is hash-pinned without dumping corpus-sized output. */
  val t6 = Q(
    "t6_event_collect",
    "Event-trigger -> /collect composition: routed events become DataRequests, run the #3.1 pipeline per routed sources; exact census of the wide responses.",
    (s, dir) => {
      val t = Tables(s, dir)
      // widen the unsplittable event scan (r12 §2.5 fix): the whole
      // route → validate → classify chain is row-local (one wide row
      // per event) and runs pipelined on the scan task — single-threaded
      // on the 1-row-group fixture — while the event rows themselves are
      // ~50 bytes; hashing them out to the cores first costs one tiny
      // exchange and parallelizes the per-row work (no-op once the
      // input is splittable; see ops/ScanLayout)
      graft.streaming.EventStreamPipeline.collectForEvents(
          graft.ops.ScanLayout.widenByKey(t.events, col("event_id")))
        .groupBy(col("priority"), col("landfire"), col("modis"), col("weather"),
          col("topography"), col("sources_successful"), col("n_high_risk"))
        .agg(count(lit(1)).as("n_events"), sum(col("event_id")).as("sum_event_id"))
    },
    Some("""WITH r AS (
              SELECT event_id, user_id, event_type,
                CASE WHEN event_type = 'error' THEN 'emergency'
                     WHEN event_type = 'signup' THEN 'normal' ELSE 'low' END AS priority,
                CASE WHEN event_type IN ('error', 'signup')
                     THEN 'landfire,modis,weather,topography' ELSE 'weather' END AS sources,
                25.0 + CAST(((user_id*13 + event_id*7) % 2400 + 2400) % 2400 AS DOUBLE) / 100.0 AS lat,
                -124.0 + CAST(((user_id*17 + event_id*3) % 5600 + 5600) % 5600 AS DOUBLE) / 100.0
                  + CASE WHEN event_id % 19 = 0 THEN 60.0 ELSE 0.0 END AS lon,
                CASE WHEN event_type = 'error' THEN 5000.0
                     WHEN event_type = 'signup' THEN 2000.0 ELSE 500.0 END AS buffer_m
              FROM events
            ), valid AS (
              SELECT * FROM r
              WHERE (lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180 AND NOT (lat = 0 AND lon = 0))
                AND ((lat BETWEEN 24.5 AND 49.5 AND lon BETWEEN -125 AND -67)
                  OR (lat BETWEEN 54 AND 71.5 AND (lon BETWEEN -180 AND -130 OR lon BETWEEN 170 AND 180))
                  OR (lat BETWEEN 18 AND 29 AND lon BETWEEN -178 AND -154))
                AND buffer_m BETWEEN 100 AND 50000
            ), k AS (
              SELECT event_id, priority, sources,
                round(((lat * 7 + lon * 3) % 20 + 20) % 20 + 15.0, 2) AS w_temp,
                CAST(((floor(lat * 11 + lon * 5) % 80) + 80) % 80 AS INT) + 10 AS w_hum,
                round(((lon * 13) % 18 + 18) % 18, 2) AS w_wind,
                CAST(((floor(lat * 100 + lon * 50) % 9000) + 9000) % 9000 AS INT) AS ndvi_raw,
                CAST(((floor(lat * 37 + lon * 17) % 10) + 10) % 10 * 1000 + 2500 AS INT) AS pixel,
                round(((lat * 19 - lon * 7) % 150 + 150) % 150, 2) AS elev
              FROM valid
            ), tall AS (
              SELECT event_id, priority, sources, 'weather' AS source,
                CASE WHEN (CASE WHEN w_temp > 30 THEN 3 WHEN w_temp > 25 THEN 2 WHEN w_temp > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN w_wind > 15 THEN 3 WHEN w_wind > 10 THEN 2 WHEN w_wind > 5 THEN 1 ELSE 0 END) >= 7 THEN 'EXTREME'
                     WHEN (CASE WHEN w_temp > 30 THEN 3 WHEN w_temp > 25 THEN 2 WHEN w_temp > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN w_wind > 15 THEN 3 WHEN w_wind > 10 THEN 2 WHEN w_wind > 5 THEN 1 ELSE 0 END) >= 5 THEN 'HIGH'
                     WHEN (CASE WHEN w_temp > 30 THEN 3 WHEN w_temp > 25 THEN 2 WHEN w_temp > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN w_wind > 15 THEN 3 WHEN w_wind > 10 THEN 2 WHEN w_wind > 5 THEN 1 ELSE 0 END) >= 3 THEN 'MODERATE'
                     ELSE 'LOW' END AS risk
              FROM k
              UNION ALL
              SELECT event_id, priority, sources, 'modis',
                CASE WHEN ndvi_raw * 0.0001 > 0.6 THEN 'LOW' WHEN ndvi_raw * 0.0001 > 0.3 THEN 'MODERATE'
                     WHEN ndvi_raw * 0.0001 > 0.1 THEN 'HIGH' ELSE 'EXTREME' END
              FROM k
              UNION ALL
              SELECT event_id, priority, sources, 'landfire',
                CASE WHEN pixel >= 7000 AND pixel < 8000 THEN 'LOW'
                     WHEN pixel >= 3000 AND pixel < 4000 THEN 'MODERATE_TO_HIGH'
                     WHEN pixel >= 2000 AND pixel < 3000 THEN 'MODERATE_TO_HIGH'
                     ELSE 'MODERATE' END
              FROM k
              UNION ALL
              SELECT event_id, priority, sources, 'topography',
                CASE WHEN elev > 100 THEN 'HIGH' WHEN elev > 50 THEN 'MODERATE' ELSE 'LOW' END
              FROM k
            ), routed AS (
              SELECT * FROM tall WHERE list_contains(string_split(sources, ','), source)
            ), wide AS (
              SELECT event_id, priority,
                max(CASE WHEN source = 'landfire' THEN risk END) AS landfire,
                max(CASE WHEN source = 'modis' THEN risk END) AS modis,
                max(CASE WHEN source = 'weather' THEN risk END) AS weather,
                max(CASE WHEN source = 'topography' THEN risk END) AS topography,
                count(*) AS sources_successful,
                count(CASE WHEN risk IN ('HIGH', 'EXTREME') THEN 1 END) AS n_high_risk
              FROM routed GROUP BY 1, 2
            )
            SELECT priority, landfire, modis, weather, topography,
                   sources_successful, n_high_risk,
                   CAST(count(*) AS BIGINT) AS n_events,
                   CAST(sum(event_id) AS BIGINT) AS sum_event_id
            FROM wide GROUP BY 1, 2, 3, 4, 5, 6, 7""")
  )

  def all: Seq[Q] = Seq(t2, t2Enforce, t3, t4, t6)
}
