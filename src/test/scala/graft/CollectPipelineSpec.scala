package graft

import graft.ops.CollectPipeline
import org.apache.spark.sql.functions._

/** Golden-record e2e for the /collect composition (SURVEY §5.4): the four
  * reference golden coordinates flow through; invalid requests are
  * rejected with the right error strings. */
class CollectPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def requests = Seq(
    ("req_la", 34.0522, -118.2437, 1000.0, Some("fire_2024-001")),
    ("req_yellowstone", 44.6, -110.5, 5000.0, None: Option[String]),
    ("req_london", 51.5074, -0.1278, 1000.0, None: Option[String]),
    ("req_bad_lat", 91.0, 10.0, 1000.0, None: Option[String]),
    ("req_bad_id", 36.5, -117.0, 1000.0, Some("x;y")),
    ("req_bad_buffer", 36.5, -117.0, 99.0, None: Option[String])
  ).toDF("request_id", "lat", "lon", "buffer_m", "event_id")

  test("validation rejects each failure mode with its reference error string") {
    val v = CollectPipeline.validate(requests)
    val errs = v.filter(!col("valid"))
      .select(col("request_id"), explode(col("errors")).as("e"))
      .as[(String, String)].collect().toSet
    assert(errs == Set(
      ("req_london", "outside supported US regions"),
      ("req_bad_lat", "invalid coordinates"),
      ("req_bad_id", "invalid event id"),
      ("req_bad_buffer", "buffer out of range")
    ))
  }

  /** The executed plan once `df` has run: every operator, AQE-final or not. */
  private def executedPlan(df: org.apache.spark.sql.DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def assertRowLocal(plan: String): Unit =
    Seq("Exchange", "Join", "Generate").foreach { op =>
      assert(!plan.contains(op), s"$op in a row-local plan:\n${plan.take(3000)}")
    }

  test("run is row-local: no Exchange, no Join, no Generate in the executed plan") {
    assertRowLocal(executedPlan(CollectPipeline.run(requests)))
  }

  test("collectForEvents is row-local: no Exchange, no Join, no Generate in the executed plan") {
    val events = spark.range(0, 2000).select(col("id").as("event_id"),
      timestamp_seconds(col("id") + 1700000000L).as("ts"), (col("id") % 97).as("user_id"),
      element_at(array(lit("error"), lit("signup"), lit("click")), (col("id") % 3 + 1).cast("int"))
        .as("event_type"), (col("id") * 0.5).as("value"), lit("{}").as("props"))
    assertRowLocal(executedPlan(graft.streaming.EventStreamPipeline.collectForEvents(events)))
  }

  test("golden coordinates produce one wide row each with all four sources populated") {
    val out = CollectPipeline.run(requests)
    assert(out.count() == 2) // LA + Yellowstone survive
    val cols = Seq("landfire", "modis", "weather", "topography")
    assert(out.filter(cols.map(c => col(c).isNull).reduce(_ || _)).count() == 0)
    assert(out.filter(col("sources_successful") =!= 4).count() == 0)
    // deterministic: two runs agree exactly
    val a = out.orderBy("request_id").collect().toSeq
    val b = CollectPipeline.run(requests).orderBy("request_id").collect().toSeq
    assert(a == b)
  }

  test("observedRun: one log row per request; trace header wins; observe() census reaches the listener") {
    val withHeader = requests.withColumn("header_trace",
      when(col("request_id") === "req_la", lit("lb-trace-001")))

    // no .orderBy here: a global sort's range-partitioning SAMPLING
    // pass would execute the observe() node a second time and
    // double-count the census — sort locally instead
    val env = CollectPipeline.observedRun(withHeader, headerCol = Some("header_trace"))
    val rows = env.collect().sortBy(_.getString(0))
    assert(rows.length == 6) // EVERY request logs exactly once, rejects included
    val byId = rows.map(r => r.getString(0) -> r).toMap
    // header propagation vs deterministic generation (orchestrator.py:73-87)
    assert(byId("req_la").getString(1) == "lb-trace-001")
    assert(byId("req_yellowstone").getString(1).matches("req_[0-9a-f]{12}"))
    assert(byId("req_london").getString(3) == "ERROR")
    assert(byId("req_london").getString(4) == "collect rejected: outside supported US regions")
    assert(byId("req_la").getString(3) == "INFO")
    // the observe() census arrives on the SAME job, no second pass: the
    // collect's own query execution holds it once the collect returns
    val observed = env.queryExecution.observedMetrics.get("graft_collect")
    assert(observed.isDefined, "observe() metrics missing from the collect's execution")
    val m = observed.get
    assert(m.getLong(m.fieldIndex("n_requests")) == 6)
    assert(m.getLong(m.fieldIndex("n_valid")) == 2)
  }

  test("validation stays in whole-stage codegen: every Filter inside a codegen stage, none holding a higher-order function") {
    import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
    import org.apache.spark.sql.execution.{FilterExec, InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // each FilterExec with whether a codegen stage encloses it (an
    // InputAdapter ends the enclosing stage)
    def filters(p: SparkPlan, inStage: Boolean): Seq[(FilterExec, Boolean)] = p match {
      case a: AdaptiveSparkPlanExec => filters(a.executedPlan, inStage)
      case w: WholeStageCodegenExec => filters(w.child, inStage = true)
      case i: InputAdapter => filters(i.child, inStage = false)
      case f: FilterExec => (f, inStage) +: filters(f.child, inStage)
      case other => other.children.flatMap(filters(_, inStage))
    }
    // range-generated inputs: a local Seq would be folded into a
    // LocalRelation by the optimizer, leaving no Filter to inspect
    val reqs = spark.range(0, 200).select(concat(lit("r"), col("id")).as("request_id"),
      (lit(20.0) + col("id") * 0.15).as("lat"), (lit(-130.0) + col("id") * 0.3).as("lon"),
      (col("id") * 300.0).as("buffer_m"), when(col("id") % 5 === 0, lit("x;y")).as("event_id"))
    val events = spark.range(0, 200).select(col("id").as("event_id"),
      timestamp_seconds(col("id") + 1700000000L).as("ts"), (col("id") % 97).as("user_id"),
      element_at(array(lit("error"), lit("signup"), lit("click")), (col("id") % 3 + 1).cast("int"))
        .as("event_type"), (col("id") * 0.5).as("value"), lit("{}").as("props"))
    for (df <- Seq(CollectPipeline.run(reqs), graft.streaming.EventStreamPipeline.collectForEvents(events))) {
      df.collect()
      val found = filters(df.queryExecution.executedPlan, inStage = false)
      assert(found.nonEmpty, df.queryExecution.executedPlan.toString)
      found.foreach { case (f, inStage) =>
        assert(inStage, s"Filter outside whole-stage codegen:\n${df.queryExecution.executedPlan}")
        assert(!f.condition.exists(_.isInstanceOf[HigherOrderFunction]), f.condition.sql)
      }
    }
  }
}
