package graft

import java.nio.file.Files
import graft.streaming.EventStreamPipeline
import org.apache.spark.sql.execution.{FileSourceScanExec, ProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.functions._

/** Drives the real Structured Streaming pipeline (readStream → route /
  * watermark+window → foreachBatch sink) over the sf0.001 events fixture
  * and asserts the streamed result equals the batch plan on the same
  * data — the equivalence Structured Streaming guarantees for complete
  * append-only inputs. */
class EventStreamSpec extends SparkSpecBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private lazy val srcDir: String = {
    // Re-materialize events with µs timestamps (the raw fixture is
    // TIMESTAMP(NANOS), which the stream source schema can't read).
    val dir = tmp("events_src")
    Tables(spark, "/root/testdata/sf0.001").events
      .repartition(8) // several files → several micro-batches with maxFilesPerTrigger=4
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("T1-T3: routing stream lands every event exactly once with correct routing") {
    val sink = tmp("route_sink")
    val q = EventStreamPipeline.runRouting(spark, srcDir, sink, tmp("route_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val out = spark.read.parquet(sink)
    val batch = EventStreamPipeline.route(Tables(spark, "/root/testdata/sf0.001").events)

    assert(out.count() == batch.count()) // every event, exactly once
    assert(out.select("event_id").distinct().count() == out.count())
    // routing semantics survive the stream boundary
    val mism = out.join(
      batch.select(col("event_id"), col("sources").as("b_sources"), col("timeout_s").as("b_timeout")),
      "event_id")
      .filter(col("sources") =!= col("b_sources") || col("timeout_s") =!= col("b_timeout"))
      .count()
    assert(mism == 0)
    // emergency routing gets all four sources and the 60s budget
    val emer = out.filter(col("priority") === "emergency")
    assert(emer.count() > 0)
    assert(emer.filter(col("sources") =!= "landfire,modis,weather,topography" ||
      col("timeout_s") =!= 60).count() == 0)
  }

  test("§3.3: streamed event-collect equals the batch composition and respects routing") {
    val sink = tmp("ec_sink")
    val q = EventStreamPipeline.runEventCollect(spark, srcDir, sink, tmp("ec_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val events = Tables(spark, "/root/testdata/sf0.001").events
    val streamed = spark.read.parquet(sink).drop("batch_id")
    val batch = EventStreamPipeline.collectForEvents(events)

    // the streamed micro-batched dispatch produces EXACTLY the batch rows
    assert(streamed.count() == batch.count() && streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)

    // weather-only ("updated") routes must come back weather-only
    val low = streamed.filter(col("priority") === "low")
    assert(low.count() > 0)
    assert(low.filter(col("landfire").isNotNull || col("modis").isNotNull ||
      col("topography").isNotNull).count() == 0)
    assert(low.filter(col("sources_successful") =!= 1 || col("weather").isNull).count() == 0)
    // emergency routes carry all four sources
    val emer = streamed.filter(col("priority") === "emergency")
    assert(emer.count() > 0)
    assert(emer.filter(col("sources_successful") =!= 4).count() == 0)
    // the off-box slice (every 19th event) is rejected upstream of the sink
    assert(streamed.filter(pmod(col("event_id"), lit(19)) === 0).count() == 0)
    assert(batch.count() < events.count())
  }

  test("§3.3: each event-collect micro-batch is one codegen stage over a three-column scan") {
    val q = EventStreamPipeline.runEventCollect(spark, srcDir, tmp("ec_plan_sink"), tmp("ec_plan_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
    // the stream's own plan runs the collect chain, so pruning reaches the scan
    val scans = plan.collect { case s: FileSourceScanExec => s }
    assert(scans.size == 1, plan)
    assert(scans.head.requiredSchema.fieldNames.toSet == Set("event_id", "user_id", "event_type"), plan)
    // scan → validate → classify → response fuse into the scan's stage
    val stage = plan.collect { case w: WholeStageCodegenExec => w }
      .filter(_.child.exists(_ eq scans.head))
    assert(stage.size == 1, plan)
    assert(stage.head.child.exists {
      case p: ProjectExec => p.output.map(_.name).contains("sources_successful")
      case _ => false
    }, plan)
  }

  test("§3.3: an event id delivered in two micro-batches equals the batch run over every delivery") {
    // file set A (every event) is older than file set B (a third of the
    // events again); with maxFilesPerTrigger = 4, A's four files make
    // micro-batch 0 and B's four make micro-batch 1
    val events = spark.read.parquet(srcDir)
    val src = tmp("ec_dup_src")
    def stage(df: org.apache.spark.sql.DataFrame, mtime: Long): Unit = {
      val out = tmp("ec_dup_part")
      df.repartition(4).write.mode("overwrite").parquet(out)
      new java.io.File(out).listFiles().filter(_.getName.endsWith(".parquet")).foreach { f =>
        val to = new java.io.File(src, f.getName)
        Files.move(f.toPath, to.toPath)
        assert(to.setLastModified(mtime))
      }
    }
    val now = System.currentTimeMillis()
    stage(events, now - 60000)
    stage(events.filter(pmod(col("event_id"), lit(3)) === 0), now)

    val sink = tmp("ec_dup_sink")
    val q = EventStreamPipeline.runEventCollect(spark, src, sink, tmp("ec_dup_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    val out = spark.read.parquet(sink)
    // the duplicates really landed in different micro-batches
    val dups = out.groupBy("event_id")
      .agg(count(lit(1)).as("n"), countDistinct(col("batch_id")).as("n_batches"))
      .filter(col("n") > 1)
    assert(dups.count() > 0)
    assert(dups.filter(col("n") =!= 2 || col("n_batches") =!= 2).isEmpty)

    val streamed = out.drop("batch_id")
    val batch = EventStreamPipeline.collectForEvents(
      spark.read.schema(EventStreamPipeline.eventSchema).parquet(src))
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    assert(batch.filter(col("sources_successful") > 4).isEmpty)
  }

  test("W3 sessions: streamed session windows match batch session_window on finalized sessions") {
    val sink = tmp("sess_sink")
    val q = EventStreamPipeline.runSessionized(spark, srcDir, sink, tmp("sess_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val streamed = spark.read.parquet(sink)
    val batch = EventStreamPipeline.sessionizedCounts(
      Tables(spark, "/root/testdata/sf0.001").events)
    val joined = streamed.join(
      batch.withColumnRenamed("n_events", "b_n").withColumnRenamed("sum_value", "b_sum"),
      Seq("session_start", "user_id"), "left")
    assert(streamed.count() > 0)
    assert(joined.filter(col("b_n").isNull).count() == 0) // nothing fabricated
    assert(joined.filter(col("n_events") =!= col("b_n") || col("sum_value") =!= col("b_sum")).count() == 0)
  }

  test("W3 hopping: streamed overlapping windows match batch on finalized windows") {
    val sink = tmp("hop_sink")
    val q = EventStreamPipeline.runHopping(spark, srcDir, sink, tmp("hop_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val streamed = spark.read.parquet(sink)
    val batch = EventStreamPipeline.hoppingCounts(
      Tables(spark, "/root/testdata/sf0.001").events)
    val joined = streamed.join(
      batch.withColumnRenamed("n", "b_n").withColumnRenamed("sum_cents", "b_sum"),
      Seq("win_start", "event_type"), "left")
    assert(streamed.count() > 0)
    assert(joined.filter(col("b_n").isNull).count() == 0) // nothing fabricated
    assert(joined.filter(col("n") =!= col("b_n") || col("sum_cents") =!= col("b_sum")).count() == 0)
    // No finalized-fraction threshold: HOW MANY windows the watermark
    // closes depends on micro-batch file grouping (maxFilesPerTrigger)
    // and the fixture's time span — a threshold on it flakes rather
    // than signals (ADVICE r8). Emission correctness is fully pinned by
    // count > 0 + the exact-match join above.
  }

  test("T5/W3: watermarked windowed stream equals the batch windowed aggregation") {
    val sink = tmp("win_sink")
    val q = EventStreamPipeline.runWindowed(spark, srcDir, sink, tmp("win_ck"))
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val streamed = spark.read.parquet(sink)
    val batch = EventStreamPipeline.windowedCounts(
      Tables(spark, "/root/testdata/sf0.001").events)

    // append mode only emits windows the watermark has closed; every
    // emitted window must match batch exactly, and most windows close
    // (only the trailing watermark horizon stays open).
    val joined = streamed.join(batch.withColumnRenamed("n", "b_n").withColumnRenamed("avg_value", "b_avg"),
      Seq("win_start", "event_type"), "left")
    assert(joined.filter(col("b_n").isNull).count() == 0) // nothing fabricated
    assert(joined.filter(col("n") =!= col("b_n") || col("avg_value") =!= col("b_avg")).count() == 0)
    // No finalized-fraction threshold (same rationale as the hopping
    // test, ADVICE r8): how many windows the watermark closes depends
    // on micro-batch file grouping and the fixture's time span.
    // Emission correctness is pinned by count > 0 + the exact-match join.
    assert(streamed.count() > 0)
  }

  test("stateful streams use the session's RocksDB state store, whatever ran before") {
    // the provider is a session setting (GraftSession.builder), not a
    // per-stream conf mutation: the windowed stream's first offset-log
    // entry records the provider it ran with
    val ck = tmp("win_provider_ck")
    val q = EventStreamPipeline.runWindowed(spark, srcDir, tmp("win_provider_sink"), ck)
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")
    val offsets = new String(Files.readAllBytes(
      java.nio.file.Paths.get(ck, "offsets", "0")), "UTF-8")
    assert(offsets.contains("\"spark.sql.streaming.stateStore.providerClass\":" +
      "\"org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider\""),
      offsets)
  }
}
