package graft

import graft.ops.CollectPipeline
import graft.streaming.EventStreamPipeline
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The tall /collect form — explode each valid request into one record
  * per source, shuffle on request_id, pivot back to one wide row — kept
  * here as the reference the row-local `CollectPipeline.classify` paths
  * must reproduce on inputs with unique keys. */
private object TallCollect {

  private def weatherTemp: Column = round(lit(15.0) + pmod(col("lat") * 7 + col("lon") * 3, lit(20)), 2)
  private def weatherHumidity: Column = pmod(floor(col("lat") * 11 + col("lon") * 5), lit(80)).cast("int") + 10
  private def weatherWind: Column = round(pmod(col("lon") * 13, lit(18)), 2)
  private def ndviRaw: Column = pmod(floor(col("lat") * 100 + col("lon") * 50), lit(9000)).cast("int")
  private def pixelCode: Column = (pmod(floor(col("lat") * 37 + col("lon") * 17), lit(10)) * lit(1000) + 2500).cast("int")
  private def elevRange: Column = round(pmod(col("lat") * 19 - col("lon") * 7, lit(150)), 2)

  def kernels(valid: DataFrame, carry: Seq[String] = Nil): DataFrame =
    valid.select((Seq("request_id") ++ carry).map(col) ++ Seq(
      weatherTemp.as("w_temp"), weatherHumidity.as("w_hum"), weatherWind.as("w_wind"),
      (ndviRaw * 0.0001).as("ndvi"), pixelCode.as("pixel"), elevRange.as("elev")): _*)

  val wScore: Column =
    when(col("w_temp") > 30, 3).when(col("w_temp") > 25, 2).when(col("w_temp") > 20, 1).otherwise(0) +
      when(col("w_hum") < 20, 3).when(col("w_hum") < 40, 2).when(col("w_hum") < 60, 1).otherwise(0) +
      when(col("w_wind") > 15, 3).when(col("w_wind") > 10, 2).when(col("w_wind") > 5, 1).otherwise(0)

  /** One record per (request × source) over the kernel columns. */
  def tall(kernels: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("request_id") ++ carry).map(col)
    val weatherRisk =
      when(col("w_score") >= 7, "EXTREME").when(col("w_score") >= 5, "HIGH")
        .when(col("w_score") >= 3, "MODERATE").otherwise("LOW")
    val modisRisk = when(col("ndvi") > 0.6, "LOW").when(col("ndvi") > 0.3, "MODERATE")
      .when(col("ndvi") > 0.1, "HIGH").otherwise("EXTREME")
    val landfireRisk =
      when(col("pixel") >= 7000 && col("pixel") < 8000, "LOW")
        .when(col("pixel") >= 3000 && col("pixel") < 4000, "MODERATE_TO_HIGH")
        .when(col("pixel") >= 2000 && col("pixel") < 3000, "MODERATE_TO_HIGH")
        .otherwise("MODERATE")
    val topoRisk = when(col("elev") > 100, "HIGH").when(col("elev") > 50, "MODERATE").otherwise("LOW")
    kernels.withColumn("w_score", wScore)
      .select(keep :+ explode(array(
        struct(lit("weather").as("source"), weatherRisk.as("risk")),
        struct(lit("modis").as("source"), modisRisk.as("risk")),
        struct(lit("landfire").as("source"), landfireRisk.as("risk")),
        struct(lit("topography").as("source"), topoRisk.as("risk")))).as("e"): _*)
      .select(keep ++ Seq(col("e.source").as("source"), col("e.risk").as("risk")): _*)
  }

  private def riskCode(risk: Column): Column =
    CollectPipeline.riskLabels.zipWithIndex.foldLeft(lit(null).cast("int")) { case (acc, (l, i)) =>
      when(risk === l, i + 1).otherwise(acc)
    }

  /** The pivot back to one row per (request_id, keys). */
  def pivot(tall: DataFrame, keys: Seq[String] = Nil): DataFrame =
    tall.withColumn("risk_c", riskCode(col("risk")))
      .groupBy((Seq("request_id") ++ keys).map(col): _*)
      .agg(
        max(when(col("source") === "landfire", col("risk_c"))).as("landfire_c"),
        max(when(col("source") === "modis", col("risk_c"))).as("modis_c"),
        max(when(col("source") === "weather", col("risk_c"))).as("weather_c"),
        max(when(col("source") === "topography", col("risk_c"))).as("topography_c"),
        count(lit(1)).as("sources_successful"),
        count(when(col("risk").isin("HIGH", "EXTREME"), 1)).as("n_high_risk"))
      .select((Seq("request_id") ++ keys).map(col) ++
        CollectPipeline.sources.map(s => CollectPipeline.riskDecode(col(s"${s}_c")).as(s)) ++
        Seq(col("sources_successful"), col("n_high_risk")): _*)

  def run(requests: DataFrame): DataFrame =
    pivot(tall(kernels(CollectPipeline.validate(requests).filter(col("valid")))))

  def observedRun(requests: DataFrame, headerCol: Option[String]): DataFrame = {
    val v = CollectPipeline.validate(
      requests.withColumn("trace_id", CollectPipeline.traceId("request_id", headerCol)))
    v.join(run(requests), Seq("request_id"), "left")
      .select(
        col("request_id"), col("trace_id"), lit("orchestrator").as("service"),
        when(col("valid"), lit("INFO")).otherwise(lit("ERROR")).as("level"),
        when(col("valid"), lit("collect completed"))
          .otherwise(concat(lit("collect rejected: "), concat_ws("; ", col("errors")))).as("message"),
        size(col("errors")).cast("long").as("n_errors"),
        coalesce(col("sources_successful"), lit(0L)).as("sources_successful"),
        coalesce(col("n_high_risk"), lit(0L)).as("n_high_risk"))
  }

  def collectForEvents(events: DataFrame): DataFrame = {
    val keys = Seq("trigger_event_id", "priority", "timeout_s")
    val valid = CollectPipeline.validate(EventStreamPipeline.eventRequests(events)).filter(col("valid"))
      .withColumn("all_sources", col("sources") === "landfire,modis,weather,topography")
    val routed = tall(kernels(valid, keys :+ "all_sources"), keys :+ "all_sources")
      .filter(col("all_sources") || col("source") === "weather")
    pivot(routed, keys).select(Seq(col("request_id"), col("trigger_event_id").as("event_id"),
      col("priority"), col("timeout_s")) ++
      (CollectPipeline.sources ++ Seq("sources_successful", "n_high_risk")).map(col): _*)
  }
}

/** `CollectPipeline.validate` as column expressions — the four checks
  * as boolean columns and the error list as `filter(array(when…))` —
  * kept here as the reference the native validation kernel must
  * reproduce, nulls and edges included. */
private object ColumnValidate {
  def validate(requests: DataFrame): DataFrame = {
    val boundsOk = col("lat").between(-90, 90) && col("lon").between(-180, 180) &&
      !(col("lat") === 0 && col("lon") === 0)
    val usOk = (col("lat").between(24.5, 49.5) && col("lon").between(-125, -67)) ||
      (col("lat").between(54, 71.5) && (col("lon").between(-180, -130) || col("lon").between(170, 180))) ||
      (col("lat").between(18, 29) && col("lon").between(-178, -154))
    val bufferOk = col("buffer_m").between(100, 50000)
    val idOk = col("event_id").isNull ||
      (length(col("event_id")).between(3, 100) && col("event_id").rlike("^[a-zA-Z0-9_-]+$"))
    requests
      .withColumn("__graft_bounds_ok", boundsOk)
      .withColumn("__graft_us_ok", usOk)
      .withColumn("__graft_buffer_ok", bufferOk)
      .withColumn("__graft_id_ok", idOk)
      .withColumn("errors", filter(array(
        when(!col("__graft_bounds_ok"), "invalid coordinates"),
        when(col("__graft_bounds_ok") && !col("__graft_us_ok"), "outside supported US regions"),
        when(!col("__graft_buffer_ok"), "buffer out of range"),
        when(!col("__graft_id_ok"), "invalid event id")
      ), e => e.isNotNull))
      .withColumn("valid", size(col("errors")) === 0)
      .drop("__graft_bounds_ok", "__graft_us_ok", "__graft_buffer_ok", "__graft_id_ok")
  }
}

case class KernelRow(request_id: String, w_temp: Option[Double], w_hum: Option[Int],
                     w_wind: Option[Double], ndvi: Option[Double], pixel: Option[Int],
                     elev: Option[Double])

class CollectEquivalenceSpec extends SparkSpecBase {
  import spark.implicits._

  private def assertSameRows(got: DataFrame, want: DataFrame): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq)
    assert(got.schema.map(_.dataType) == want.schema.map(_.dataType))
    val (g, w) = (got.count(), want.count())
    assert(g == w && g > 0, s"row counts: got $g, want $w")
    val extra = got.exceptAll(want)
    val missing = want.exceptAll(got)
    assert(extra.isEmpty && missing.isEmpty,
      s"extra:\n${extra.limit(5).collect().mkString("\n")}\nmissing:\n${missing.limit(5).collect().mkString("\n")}")
  }

  test("classify's chains equal the tall pivot at every threshold edge, pixel edges included") {
    // kernel values driven directly: weather components on both sides of
    // each step (w_score 0..9, so 3/5/7 and their neighbours), the ndvi,
    // pixel and elevation edges, and an all-null kernel row
    val temps = Seq(15.0, 20.0, 20.01, 25.0, 25.01, 30.0, 30.01)
    val hums = Seq(19, 20, 39, 40, 59, 60, 90)
    val winds = Seq(0.0, 5.0, 5.01, 10.0, 10.01, 15.0, 15.01)
    val ndvis = Seq(0.0, 0.1, 0.1001, 0.3, 0.3001, 0.6, 0.6001, 0.9)
    val pixels = Seq(1999, 2000, 2500, 2999, 3000, 3999, 4000, 6999, 7000, 7999, 8000, 11500)
    val elevs = Seq(0.0, 50.0, 50.01, 100.0, 100.01, 149.99)
    val weather = for (t <- temps; h <- hums; w <- winds) yield (t, h, w)
    val k = (weather.zipWithIndex.map { case ((t, h, w), i) =>
      KernelRow(s"k$i", Some(t), Some(h), Some(w), Some(ndvis(i % ndvis.size)),
        Some(pixels(i % pixels.size)), Some(elevs(i % elevs.size)))
    } :+ KernelRow("k_null", None, None, None, None, None, None)).toDF()
    assert(k.select(TallCollect.wScore.as("s")).filter(col("s").isin(3, 5, 7))
      .select("s").distinct().count() == 3)

    val wide = CollectPipeline.riskCodes(k, Nil)
      .select(col("request_id") +: CollectPipeline.response(s => col(s"${s}_c")): _*)
    assertSameRows(wide, TallCollect.pivot(TallCollect.tall(k)))
  }

  /** Random requests with unique ids: every reject mode, null and bad
    * event ids, plus coordinates whose kernels land exactly on the
    * w_score, ndvi and elevation edges. */
  private def requests(seed: Long, n: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    def coord(lo: Double, hi: Double) = math.round((lo + rnd.nextDouble() * (hi - lo)) * 1e4) / 1e4
    val eventIds = Seq(None, Some("fire_2024-001"), Some("ab"), Some("x;y"), Some("e" * 101), Some("sea-042"))
    val random = (0 until n).map { i =>
      val (lat, lon) = rnd.nextInt(4) match {
        case 0 => (coord(24.5, 49.5), coord(-125, -67)) // continental US
        case 1 => (coord(54, 71.5), coord(-180, -130)) // Alaska
        case 2 => (coord(18, 29), coord(-178, -154)) // Hawaii
        case _ => (coord(-95, 95), coord(-185, 185)) // anywhere, incl. out of bounds
      }
      val buffer = if (rnd.nextInt(10) == 0) coord(0, 60000) else coord(100, 50000)
      (s"r$seed-$i", lat, lon, buffer, eventIds(rnd.nextInt(eventIds.size)))
    }
    val fixed = Seq[(String, Double, Double, Double, Option[String])](
      ("bad_origin", 0.0, 0.0, 1000.0, None), // invalid coordinates (null island)
      ("bad_lat", 91.0, 10.0, 1000.0, None), // invalid coordinates
      ("bad_lon", 40.0, -181.0, 1000.0, None), // invalid coordinates
      ("outside_us", 51.5074, -0.1278, 1000.0, None), // outside supported US regions
      ("bad_buffer_lo", 36.5, -117.0, 99.0, None), // buffer out of range
      ("bad_buffer_hi", 36.5, -117.0, 50001.0, None), // buffer out of range
      ("bad_id", 36.5, -117.0, 1000.0, Some("x;y")), // invalid event id
      ("every_error", 91.0, 10.0, 99.0, Some("x")), // several errors at once
      ("ok_null_id", 44.6, -110.5, 5000.0, None),
      ("ok_id", 34.0522, -118.2437, 1000.0, Some("fire_2024-001")))
    // grid candidates whose reference kernels hit an edge exactly
    val grid = spark.range(0, 400000).select(
      (lit(18.0) + pmod(col("id") * 7919, lit(5350)) / 100.0).as("lat"),
      (lit(-180.0) + pmod(col("id") * 104729, lit(11000)) / 100.0).as("lon"))
      .withColumn("request_id", concat(lit(s"g$seed-"), col("lat"), lit("_"), col("lon")))
    val valid = CollectPipeline.validate(grid.withColumn("buffer_m", lit(1000.0))
      .withColumn("event_id", lit(null).cast("string"))).filter(col("valid"))
    val k = TallCollect.kernels(valid, Seq("lat", "lon")).withColumn("w_score", TallCollect.wScore)
    val w = Window.partitionBy("edge").orderBy("request_id")
    val edges = k.select(col("request_id"), col("lat"), col("lon"),
        when(col("w_score").isin(3, 5, 7), concat(lit("w"), col("w_score")))
          .when(col("ndvi").isin(0.1, 0.3, 0.6), concat(lit("n"), col("ndvi")))
          .when(col("elev").isin(50.0, 100.0), concat(lit("e"), col("elev"))).as("edge"))
      .filter(col("edge").isNotNull)
      .withColumn("i", row_number().over(w)).filter(col("i") <= 3)
    val hit = edges.select("edge").distinct().as[String].collect().toSet
    assert(Set("w3", "w5", "w7", "n0.1", "n0.3", "n0.6", "e50.0", "e100.0").subsetOf(hit), hit)
    (random ++ fixed).toDF("request_id", "lat", "lon", "buffer_m", "event_id")
      .unionByName(edges.select(col("request_id"), col("lat"), col("lon"),
        lit(1000.0).as("buffer_m"), lit(null).cast("string").as("event_id")))
  }

  test("run equals the tall explode -> shuffle -> pivot form on random requests") {
    for (seed <- Seq(1L, 2L)) {
      val r = requests(seed, 400).cache()
      assertSameRows(CollectPipeline.run(r), TallCollect.run(r))
      r.unpersist()
    }
  }

  test("observedRun equals the tall form joined back on request_id, rejects included") {
    val r = requests(3L, 400)
      .withColumn("header_trace", when(pmod(hash(col("request_id")), lit(3)) === 0,
        concat(lit("lb-"), col("request_id"))))
      .cache()
    val got = CollectPipeline.observedRun(r, headerCol = Some("header_trace"))
    assertSameRows(got, TallCollect.observedRun(r, Some("header_trace")))
    // every reject mode is present and reports no sources
    val rejects = got.filter(col("level") === "ERROR")
    Seq("invalid coordinates", "outside supported US regions", "buffer out of range", "invalid event id")
      .foreach(e => assert(rejects.filter(col("message").contains(e)).count() > 0, e))
    assert(rejects.filter(col("sources_successful") =!= 0 || col("n_high_risk") =!= 0).isEmpty)
    r.unpersist()
  }

  test("collectForEvents equals the tall routed pivot on random events") {
    val rnd = new scala.util.Random(4L)
    val types = Seq("error", "signup", "click", "purchase", "view")
    val ids = rnd.shuffle((1L to 20000L).toVector).take(3000)
    val events = ids.map(id => (id, new java.sql.Timestamp(1700000000000L + id * 1000),
        rnd.nextInt(500).toLong, types(rnd.nextInt(types.size)), rnd.nextDouble() * 200, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val got = EventStreamPipeline.collectForEvents(events)
    assertSameRows(got, TallCollect.collectForEvents(events))
    // both routings and the off-box reject are exercised
    assert(got.filter(col("sources_successful") === 1).count() > 0)
    assert(got.filter(col("sources_successful") === 4).count() > 0)
    assert(got.count() < events.count())
  }

  test("validate's kernel equals the column-expression checks on a null/edge grid, int and double buffers") {
    // every bound of every `between`, each with its two neighbours, plus
    // null, NaN, 0.0 and -0.0 and an interior value
    def edges(bounds: Double*): Seq[Option[Double]] =
      (bounds.flatMap(b => Seq(math.nextDown(b), b, math.nextUp(b))) ++
        Seq(Double.NaN, 0.0, -0.0, 40.0)).map(Some(_)) :+ None
    val lats = edges(-90, 90, 24.5, 49.5, 54, 71.5, 18, 29)
    val lons = edges(-180, 180, -125, -67, -130, 170, -178, -154, -100)
    val buffers = Seq(Some(99), Some(100), Some(50000), Some(50001), Some(1000), None)
    val ids = Seq(None, Some("ab"), Some("abc"), Some("a" * 100), Some("a" * 101), Some("fïre_01"),
      Some("a;b"), Some("abc\n"), Some("fire_2024-001"))
    // every coordinate pair, buffer and id cycling; then every buffer x id
    // at a valid, a null and a (0, 0) coordinate
    val coordRows = (for (la <- lats; lo <- lons) yield (la, lo)).zipWithIndex.map { case ((la, lo), i) =>
      (la, lo, buffers(i % buffers.size), ids(i % ids.size))
    }
    val fieldRows = for (c <- Seq((Some(34.0), Some(-118.0)), (None, None), (Some(0.0), Some(-0.0)));
                         b <- buffers; id <- ids) yield (c._1, c._2, b, id)
    val rows = (coordRows ++ fieldRows).zipWithIndex.map { case ((la, lo, b, id), i) => (s"g$i", la, lo, b, id) }
    val intBuffers = rows.toDF("request_id", "lat", "lon", "buffer_m", "event_id")
    val doubleBuffers = intBuffers.withColumn("buffer_m", col("buffer_m").cast("double"))
    assert(intBuffers.filter(col("lat").isNull && col("lon").isNull && col("buffer_m").isNull &&
      col("event_id").isNull).count() > 0)

    def check(codegen: Boolean): Unit = Seq(intBuffers, doubleBuffers).foreach { r =>
      val cols = Seq("request_id", "errors", "valid").map(col)
      val got = CollectPipeline.validate(r).select(cols: _*)
      assertSameRows(got, ColumnValidate.validate(r).select(cols: _*))
      assert(got.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }
        .exists(_.toString.contains("validation_mask")) == codegen, got.queryExecution.executedPlan)
      // every error is reached, and so is a request passing every check
      assert(got.select(explode(col("errors"))).distinct().count() == 4)
      assert(got.filter(col("valid")).count() > 0)
    }
    def withConf(confs: (String, String)*)(body: => Unit): Unit = {
      val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
      try { confs.foreach { case (k, v) => spark.conf.set(k, v) }; body }
      finally before.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    // a projection over a local Seq is otherwise evaluated (interpreted)
    // by the optimizer itself
    val scan = "spark.sql.optimizer.excludedRules" ->
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"
    withConf(scan, "spark.sql.codegen.fallback" -> "false")(check(codegen = true))
    withConf(scan, "spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")(check(codegen = false))
  }
}
