package graft

import graft.ops.{CollectFull, Fixtures}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.functions._

/** Full-fidelity /collect: nested AggregatedResponse schema, the four
  * golden-coordinate classifications (reference README.md:262-266), one
  * response row per caller-built request row, no cache left behind, and
  * the plan shape (CSV attribute scan feeding a BroadcastExchange, one
  * raster scan, one raster-index scan). */
class CollectFullSpec extends SparkSpecBase {
  import CollectFull.Transport.{Files, Rest}

  private object PlanWalk extends AdaptiveSparkPlanHelper

  private lazy val rows = {
    val df = CollectFull.run(spark, CollectFull.requests(spark))
    df.collect().map(r => r.getString(0) -> r).toMap
  }

  test("emits one AggregatedResponse row per request, nested ContainerOutput per source") {
    val df = CollectFull.run(spark, CollectFull.requests(spark))
    assert(df.count() == 5)
    val schema = df.schema
    // envelope columns are structs, with the ContainerOutput shape
    for (src <- Seq("landfire", "modis", "weather", "topography")) {
      val st = schema(src).dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(st.fieldNames.toSeq == Seq("event_id", "source", "data_type", "location",
        "timestamp", "interpreted_data", "metadata", "n_errors", "n_warnings"),
        s"$src envelope fields: ${st.fieldNames.toSeq}")
      val interp = st("interpreted_data").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(interp.fieldNames.toSeq == Seq("coordinate_specific", "area_summary", "risk_assessment"))
      val meta = st("metadata").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      assert(meta.fieldNames.toSeq == Seq("processing_time_ms", "data_currency", "retrieved_at",
        "quality_score", "container_id", "container_version"))
    }
    assert(schema("location").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("latitude", "longitude", "buffer_meters", "coordinate_system"))
  }

  test("golden-coordinate vegetation classifications match the reference README") {
    def vegClass(req: String): String =
      rows(req).getStruct(4).getStruct(5).getStruct(0).getString(0)
    assert(vegClass("req_la") == "Developed-Roads")
    assert(vegClass("req_yellowstone") == "Montane Sagebrush Steppe")
    assert(vegClass("req_death_valley") == "Creosotebush Desert Scrub")
    assert(vegClass("req_seattle") == "Developed-Medium Intensity")
  }

  test("per-source risk assessments cover the reference's rule outcomes") {
    def risk(req: String, srcIdx: Int): String =
      rows(req).getStruct(srcIdx).getStruct(5).getString(2)
    // landfire (col 4): developed→LOW, timber fuel→MODERATE_TO_HIGH, else MODERATE
    assert(risk("req_la", 4) == "LOW")
    assert(risk("req_yellowstone", 4) == "MODERATE_TO_HIGH")
    assert(risk("req_death_valley", 4) == "MODERATE")
    // weather (col 6): all four X9 classes appear across the sites
    val wx = Seq("req_la", "req_yellowstone", "req_death_valley", "req_seattle").map(risk(_, 6))
    assert(wx == Seq("EXTREME", "MODERATE", "HIGH", "LOW"))
    // topography (col 7): LOW / HIGH / MODERATE / HIGH terrain
    val tp = Seq("req_la", "req_yellowstone", "req_death_valley", "req_seattle").map(risk(_, 7))
    assert(tp == Seq("LOW", "HIGH", "MODERATE", "HIGH"))
  }

  test("MODIS selection semantics: last-valid NDVI, first-valid LST, empty/invalid entries skipped") {
    def modisCs(req: String) = rows(req).getStruct(5).getStruct(5).getStruct(0)
    // la: latest NDVI entry is invalid (1.2) and the one after is empty →
    // the 2024-03-21 observation wins
    assert(modisCs("req_la").getString(4) == "2024-03-21")
    assert(math.abs(modisCs("req_la").getDouble(0) - 0.218) < 1e-12)
    // seattle: all four valid → truly the latest date
    assert(modisCs("req_seattle").getString(4) == "2024-04-22")
    // la LST: first entry is out of range (66.85C) → second wins (33.65C)
    assert(math.abs(modisCs("req_la").getDouble(5) - 33.65) < 1e-9)
  }

  test("caller-built requests: one row per request row, each its site's full-run row") {
    val req = CollectFull.requests(spark)
    val picked = req.filter(col("site") === "req_seattle")
      .unionByName(req.filter(col("site") === "req_la"))
      .unionByName(req.filter(col("site") === "req_la"))
    val got = CollectFull.run(spark, picked.drop("site_name")).collect()
    assert(got.map(_.getString(0)).sorted.toSeq == Seq("req_la", "req_la", "req_seattle"))
    got.foreach(r => assert(r == rows(r.getString(0)), s"${r.getString(0)}: $r"))
  }

  test("a run leaves no RDD persisted, over either transport") {
    val sc = spark.sparkContext
    for (t <- Seq(Files, Rest)) {
      val before = sc.getPersistentRDDs.keySet
      assert(CollectFull.run(spark, CollectFull.requests(spark), t).collect().length == 5)
      assert(sc.getPersistentRDDs.keySet == before, s"$t left ${sc.getPersistentRDDs.keySet -- before} persisted")
    }
  }

  test("S7: run broadcasts the attribute CSV; one raster scan, one index scan") {
    // (raster scan, raster-index scan) as each transport's plan prints them
    val scans = Seq(Files -> ("FileScan binaryFile", "rasters_index.csv"),
      Rest -> ("MapPartitions graft.ops.RestFetch", "Scan ExistingRDD[file_name#"))
    for ((t, (raster, index)) <- scans) {
      val df = CollectFull.run(spark, CollectFull.requests(spark), t)
      df.collect()
      val plan = df.queryExecution.executedPlan
      val tree = Plans.tree(plan)
      for (needle <- Seq(raster, index))
        assert(tree.linesIterator.count(_.contains(needle)) == 1, s"$t: '$needle' scans:\n$tree")
      if (t == Files) {
        val broadcasts = PlanWalk.collect(plan) { case b: BroadcastExchangeExec => b.child.toString }
        assert(broadcasts.exists(_.contains("landfire_attributes.csv")),
          s"attribute CSV scan not under a BroadcastExchange:\n$tree")
      }
    }
  }

  test("summary aggregates the orchestrator's success accounting") {
    val s = rows("req_la").getStruct(8)
    assert(s.getInt(0) == 4 && s.getInt(1) == 4 && s.getInt(2) == 0)
    assert(s.getDouble(3) == 1.0)
  }

  test("off-grid request: null landfire interpretation with UNKNOWN risk, MODIS error envelope, 3/4 summary") {
    val r = rows("req_mono")
    // landfire: container succeeded but the pixel lookup is out of bounds
    val lfInterp = r.getStruct(4).getStruct(5)
    val lfCs = lfInterp.getStruct(0)
    assert(lfCs.isNullAt(0) && lfCs.isNullAt(2), "veg/fuel classes should be null off-grid")
    assert(lfInterp.getString(2) == "UNKNOWN")
    assert(r.getStruct(4).getInt(7) == 0, "landfire fetch itself succeeded -> no errors")
    // modis: missing container -> error envelope (null interpreted_data, quality 0.0, 1 error)
    val modisEnv = r.getStruct(5)
    assert(modisEnv.isNullAt(5), "interpreted_data must be null for the missing source")
    assert(modisEnv.getStruct(6).getDouble(3) == 0.0, "quality_score must be 0.0")
    assert(modisEnv.getInt(7) == 1, "one fetch error")
    // orchestrator accounting: 3 of 4 succeeded
    val sm = r.getStruct(8)
    assert(sm.getInt(1) == 3 && sm.getInt(2) == 1)
    assert(sm.getDouble(3) == 0.75)
  }

  test("staging is idempotent and deterministic") {
    Fixtures.stage()
    val before = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.AttributeCsv))
    Fixtures.stage()
    val after = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(Fixtures.AttributeCsv))
    assert(before.sameElements(after))
  }
}
