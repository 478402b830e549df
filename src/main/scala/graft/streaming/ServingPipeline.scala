package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._
import org.apache.spark.sql.types.StructType

/** §3 COMPOSED serving path — the continuous deployment shape a
  * production rollout of the reference actually runs, chained from the
  * individually spec-proven pieces (VERDICT r8 next #8):
  *
  *   RestSource micro-batch poll (live HTTP)
  *     → parse JSONL to events
  *     → contract gate inline (StreamingContractGate.checkPairs:
  *       violations quarantined WITH their failed checks, per-batch gate
  *       census appended — counters stay commutative, so the cumulative
  *       census is a plain sum over the sink)
  *     → routed collect (EventStreamPipeline.collectForEvents, the full
  *       t6 composition) on accepted rows → handoff sink
  *   [handoff dir = the loopback stand-in for a Kafka topic]
  *   second query tails the handoff
  *     → memoizing result cache (StreamingResultCache.MemoProcessor):
  *       first delivery of an event's response = cold (stored), poll
  *       re-deliveries within TTL = hit — the orchestrator's dedupe of
  *       repeated event triggers → serve sink
  *
  * Restart safety: both queries checkpoint (REST poll offsets; RocksDB
  * cache state), so a kill between polls resumes without re-serving
  * round 1 — ServingPipelineSpec kills after round 1 and drains rounds
  * 2–3 from the same checkpoints.
  *
  * Scale: stage 1 is one scan per poll, the collect chain's single
  * request_id shuffle, zero driver loops; stage 2 state is 16 bytes per
  * served key. Each piece keeps the plan shape its own spec pins.
  */
object ServingPipeline {

  /** Event-line schema as staged by the spec (ts as epoch micros, so the
    * JSONL is timezone-unambiguous). */
  private val lineSchema =
    "event_id LONG, ts_us LONG, user_id LONG, event_type STRING, value DOUBLE, props STRING"

  /** Fetched REST bodies → one typed event row per JSONL line. */
  def parseEvents(fetched: DataFrame): DataFrame =
    fetched
      .filter(col("status") === 200)
      .select(explode(split(col("body").cast("string"), "\n")).as("line"))
      .filter(length(trim(col("line"))) > 0)
      .select(from_json(col("line"),
        StructType.fromDDL(lineSchema)).as("e"))
      .select(col("e.event_id").as("event_id"),
        expr("timestamp_micros(e.ts_us)").as("ts"),
        col("e.user_id").as("user_id"), col("e.event_type").as("event_type"),
        col("e.value").as("value"), col("e.props").as("props"))

  /** Stage 1: poll → parse → gate → routed collect → handoff. */
  def runIngest(spark: SparkSession, url: String, handoffDir: String,
                quarantineDir: String, gateDir: String, checkpointDir: String,
                maxPolls: Long): StreamingQuery = {
    val fetched = spark.readStream.format("graft.sources.RestSource")
      .option("urls", url)
      .option("maxPolls", maxPolls.toString)
      .load()
    fetched.writeStream
      .queryName("serving_ingest") // named so the scrape listener's rows identify the stage
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val events = parseEvents(batch).localCheckpoint()
        val checked = events
          .withColumn("checks", StreamingContractGate.checkPairs)
          .withColumn("failed",
            expr("transform(filter(checks, c -> c.ok = 0), c -> c.check)"))
        // gate census per micro-batch; counters are commutative so the
        // cumulative gate state is a sum over this sink
        checked.select(explode(col("checks")).as("c"))
          .groupBy(col("c.check").as("check"))
          .agg(count(lit(1)).as("n_checked"),
            sum(lit(1L) - col("c.ok")).as("n_violations"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(gateDir)
        // violations quarantined with their failed checks, never dropped
        checked.filter(size(col("failed")) > 0)
          .select(col("event_id"), col("event_type"), col("value"), col("props"),
            concat_ws(";", col("failed")).as("failed_checks"),
            lit(batchId).as("batch_id"))
          .write.mode("append").parquet(quarantineDir)
        // the full routed-collect composition on accepted rows; the
        // response fingerprint rides along for the memo cache stage
        EventStreamPipeline.collectForEvents(
            checked.filter(size(col("failed")) === 0).drop("checks", "failed"))
          .join(events.select(col("event_id"), col("ts")), "event_id")
          .withColumn("v",
            col("n_high_risk") * 10L + col("sources_successful"))
          .withColumn("batch_id", lit(batchId))
          .write.mode("append").parquet(handoffDir)
      }
      .start()
  }

  /** Stage 2: tail the handoff, serve through the memoizing cache. */
  def runServe(spark: SparkSession, handoffDir: String, serveDir: String,
               checkpointDir: String, ttlSeconds: Long): StreamingQuery = {
    import spark.implicits._
    val stream = Drain.parquetSource(spark, StructType.fromDDL(
        "event_id LONG, request_id STRING, priority STRING, timeout_s INT, " +
          "landfire STRING, modis STRING, weather STRING, topography STRING, " +
          "sources_successful LONG, n_high_risk LONG, ts TIMESTAMP, v LONG, batch_id LONG"),
        handoffDir, 1)
      .select(col("event_id").as("key"), col("ts"), col("v"))
      .as[StreamingResultCache.Upstream]
    stream
      .groupByKey(_.key)
      .transformWithState(new StreamingResultCache.MemoProcessor(ttlSeconds),
        TimeMode.None(), OutputMode.Append(),
        Encoders.product[StreamingResultCache.Served])
      .writeStream
      .queryName("serving_serve") // named so the scrape listener's rows identify the stage
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[StreamingResultCache.Served], _: Long) =>
        batch.write.mode("append").parquet(serveDir)
      }
      .start()
  }
}
