package graft

import java.nio.file.Files

import graft.ops.{Fixtures, StagedRestEndpoint}
import graft.streaming.{EventStreamPipeline, ServingPipeline, StreamingContractGate}
import org.apache.spark.sql.functions._

/** The composed serving path end-to-end over live HTTP: REST poll →
  * contract gate → routed collect → memoizing result cache, each piece
  * individually spec-proven, here chained and drained as one deploy.
  * Three polls of the same event feed must yield: a gate census that is
  * exactly 3× the batch census, every violation quarantined each round,
  * handoff responses per round equal to the batch collectForEvents run,
  * and per-key serve outcomes of one `cold` then `hit`s — including
  * ACROSS A KILL/RESTART of both queries from their checkpoints. */
class ServingPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** Accepted events (fixture subset) + 3 contract-violating lines,
    * staged as JSONL under the endpoint root. */
  private lazy val staged: (String, org.apache.spark.sql.DataFrame) = {
    val events = Tables(spark, "/root/testdata/sf0.001").events
      .filter(col("user_id") < 30)
      .select(col("event_id"), expr("unix_micros(ts)").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
    val bad = Seq(
      (900000001L, 1704067200000000L, 7L, "telemetry", 1.0, "{}"), // bad type
      (900000002L, 1704067200000000L, 8L, "click", -5.0, "{}"),    // negative value
      (900000003L, 1704067200000000L, 9L, "view", 2.0, null.asInstanceOf[String]) // null props
    ).toDF("event_id", "ts_us", "user_id", "event_type", "value", "props")
    val all = events.unionAll(bad)
    val jsonl = all.toJSON.collect().mkString("\n")
    val path = java.nio.file.Paths.get(Fixtures.Root, "text", "events_serve.jsonl")
    Files.createDirectories(path.getParent)
    Files.writeString(path, jsonl)
    (s"${StagedRestEndpoint.baseUrl}/files/text/events_serve.jsonl", all)
  }

  test("poll -> gate -> routed collect -> memo cache, with a kill/restart between polls") {
    val (url, all) = staged
    val handoff = tmp("serve_handoff"); val quarantine = tmp("serve_quar")
    val gate = tmp("serve_gate"); val serveDir = tmp("serve_out")
    val ck1 = tmp("serve_ck1"); val ck2 = tmp("serve_ck2")

    // round 1, then KILL both queries
    val q1a = ServingPipeline.runIngest(spark, url, handoff, quarantine, gate, ck1, maxPolls = 1)
    q1a.processAllAvailable(); q1a.stop()
    val q2a = ServingPipeline.runServe(spark, handoff, serveDir, ck2, ttlSeconds = 86400)
    q2a.processAllAvailable(); q2a.stop()
    val served1 = spark.read.parquet(serveDir)
    assert(served1.filter(col("outcome") =!= "cold").count() == 0) // round 1: all cold

    // RESTART from the same checkpoints; rounds 2-3 resume, round 1 is not re-served
    val q1b = ServingPipeline.runIngest(spark, url, handoff, quarantine, gate, ck1, maxPolls = 3)
    q1b.processAllAvailable(); q1b.stop()
    val q2b = ServingPipeline.runServe(spark, handoff, serveDir, ck2, ttlSeconds = 86400)
    q2b.processAllAvailable(); q2b.stop()

    val accepted = all.filter(
      col("event_type").isin("click", "view", "purchase", "signup", "error") &&
        col("value") >= 0 && col("props").isNotNull)
    val nAccepted = accepted.count()

    // gate census: cumulative = exactly 3x the batch census, per check
    val gateTotals = spark.read.parquet(gate)
      .groupBy("check").agg(sum("n_checked").as("nc"), sum("n_violations").as("nv"))
      .as[(String, Long, Long)].collect().map { case (k, n, v) => k -> ((n, v)) }.toMap
    val nAll = all.count()
    assert(gateTotals("accepted_event_type") == ((3 * nAll, 3L)))
    assert(gateTotals("value_non_negative") == ((3 * nAll, 3L)))
    assert(gateTotals("not_null_props") == ((3 * nAll, 3L)))

    // every violation quarantined each round, with the failed check named
    val quar = spark.read.parquet(quarantine)
    assert(quar.count() == 9) // 3 bad rows x 3 polls
    assert(quar.filter(col("event_id") === 900000001L)
      .filter(col("failed_checks") === "accepted_event_type").count() == 3)

    // handoff rounds each equal the batch routed-collect on accepted rows
    val batchCollect = EventStreamPipeline.collectForEvents(
        accepted.withColumn("ts", expr("timestamp_micros(ts_us)")))
      .select("event_id", "priority", "sources_successful", "n_high_risk")
    val handoffRows = spark.read.parquet(handoff)
    assert(handoffRows.select("batch_id").distinct().count() == 3)
    for (b <- Seq(0L, 1L, 2L)) {
      val round = handoffRows.filter(col("batch_id") === b)
        .select("event_id", "priority", "sources_successful", "n_high_risk")
      assert(round.exceptAll(batchCollect).count() == 0 &&
        batchCollect.exceptAll(round).count() == 0,
        s"handoff round $b diverges from the batch collect")
    }

    // serve outcomes per key: exactly one cold (round 1, pre-restart), hits after
    val outcomes = spark.read.parquet(serveDir)
      .groupBy("key").agg(
        sum(when(col("outcome") === "cold", 1L).otherwise(0L)).as("n_cold"),
        sum(when(col("outcome") === "hit", 1L).otherwise(0L)).as("n_hit"),
        count(lit(1)).as("n"))
    val nCollected = batchCollect.count()
    assert(outcomes.count() == nCollected)
    assert(outcomes.filter(col("n_cold") =!= 1).count() == 0,
      "restart re-served a cold response or lost cache state")
    assert(outcomes.filter(col("n") =!= 3).count() == 0)
    assert(outcomes.filter(col("n_hit") =!= 2).count() == 0)

    // streaming /metrics scrape: both named stages reported progress
    // rows, and the ingest stage's input-row gauges sum to the 3 polls'
    // fetch rows; every query has stopped, so its progress is complete
    val scrape = Seq(q1a, q2a, q1b, q2b).flatMap(Profile.progress)
    val ingest = scrape.filter(_.query_name == "serving_ingest")
    val serve = scrape.filter(_.query_name == "serving_serve")
    assert(ingest.nonEmpty, "no scrape rows from serving_ingest")
    assert(serve.nonEmpty, "no scrape rows from serving_serve")
    // 3 polls, one fetched URL row each
    assert(ingest.map(_.input_rows).sum == 3, s"ingest gauges: ${ingest.mkString(", ")}")
    assert(scrape.forall(_.trigger_ms >= 0))
  }

  test("checkPairs is the single contract source: gate stream and composed path agree") {
    val (_, all) = staged
    val batchChecks = all
      .select(explode(StreamingContractGate.checkPairs).as("c"))
      .groupBy(col("c.check")).agg(sum(lit(1L) - col("c.ok")).as("nv"))
      .as[(String, Long)].collect().toMap
    assert(batchChecks == Map(
      "accepted_event_type" -> 1L, "value_non_negative" -> 1L, "not_null_props" -> 1L))
  }
}
