package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-fidelity `/collect` (SURVEY §3.1 depth): the reference's four
  * container pipelines run as REAL engine operators over staged fixture
  * files, emitting a nested `ContainerOutput`-shaped struct per source
  * (shared_schema.py:97-132) pivoted into one `AggregatedResponse`-shaped
  * row per request (shared_schema.py:135-191, orchestrator.py:760-808).
  *
  * Per-source operator chains (all real, no synthetic kernels):
  *  - landfire: binaryFile TIFF scan → [[TiffCodec]] decode (D1) →
  *    inverse-affine point lookup (J3) → broadcast CSV attribute table
  *    with range fallback (S7+J2, landfire_container.py:46-132) →
  *    veg/fuel fire-risk rule (:455-465).
  *  - modis: JSON subset scan → center-pixel extraction → last-valid
  *    NDVI argmax / first-valid LST argmin by calendar_date (A7,
  *    modis_container.py:240-301) → vegetation-health classify.
  *  - weather: JSON decode (S3) → X9 fire-weather risk score
  *    (weather_container.py:187-233) → forecast roll-up (:365-373).
  *  - topography: binaryFile TIFF scan → decode → masked elevation
  *    stats (A1) → terrain classes (topography_container.py:233-296).
  *
  * Envelope fidelity notes (documented deviations, all compare-driven):
  * `raw_data` (the original bytes) is omitted from the aggregated row —
  * it exists upstream as the scanned `content` column; `errors`/
  * `warnings` surface as counts (`n_errors`/`n_warnings`) and the
  * list-valued area-summary fields as scalars, because the correctness
  * gate's row hashing cannot see inside list-in-struct values. Wall
  * clocks (`processing_time_ms`, `retrieved_at`) are parameters, fixed
  * to 0 / [[RetrievedAt]] — the engine takes nondeterminism as inputs.
  *
  * Scale: every per-request operator is row-local after a broadcast of
  * the (constant-size) attribute/index tables; the raster decode is one
  * UDF pass over a binary column (embarrassingly parallel); the only
  * shuffles are the per-site aggregates, keyed by the request id.
  */
object CollectFull {
  import CollectPipeline.{fireWeatherRisk, fireWeatherScore, landfireRisk, rangeBands, terrainClass,
    vegetationHealth, vegetationRisk}
  import Fixtures._

  val RetrievedAt = "2024-06-01T12:00:00"
  val LandfireCurrency = "2024-01-01T00:00:00Z"

  /** Input transport: the SAME pipeline runs over local staged files
    * (`Files`, the default) or over live HTTP (`Rest`) — every byte then
    * arrives through [[graft.sources.RestSource]] from the loopback
    * [[StagedRestEndpoint]], the shape of the reference's actual WAN
    * deployment (four REST containers). Only the acquisition differs;
    * parse, decode, classify, and envelope assembly are shared code, so
    * `e2e_collect_rest` hash-matching `e2e_collect_full`'s oracle proves
    * the HTTP path end-to-end. */
  sealed trait Transport
  object Transport {
    case object Files extends Transport
    case object Rest extends Transport
  }
  import Transport._

  final case class RasterPx(w: Int, h: Int, px: Seq[Double])

  private val decodeRaster = udf { bytes: Array[Byte] =>
    TiffCodec.decode(bytes).map(r => RasterPx(r.width, r.height, r.pixels.toSeq))
  }

  /** Fetch fixture-estate files over the loopback REST endpoint:
    * (file_name, content) — the REST analogue of a binaryFile scan. */
  private def restFiles(s: SparkSession, relPaths: Seq[String]): DataFrame = {
    val base = StagedRestEndpoint.baseUrl
    s.read.format("graft.sources.RestSource")
      .option("urls", relPaths.map(p => s"$base/files/$p").mkString("\n"))
      .option("urlsPerPartition", "4")
      .option("retries", "2").option("retryBackoffMs", "25")
      .load()
      .filter(col("status") === 200)
      .select(element_at(split(col("url"), "/"), -1).as("file_name"),
        col("body").as("content"))
  }

  /** One fetched text file as a line Dataset — feeds the SAME
    * DataFrameReader.csv/json parsers the file path uses. */
  private def restLines(s: SparkSession, relPath: String): org.apache.spark.sql.Dataset[String] = {
    import s.implicits._
    restFiles(s, Seq(relPath))
      .select(col("content").cast("string"))
      .as[String]
      .flatMap(_.split("\n"))
      .filter(length(trim(col("value"))) > 0)
  }

  /** The four golden-coordinate requests (README.md:262-266). */
  def requests(s: SparkSession): DataFrame = {
    import s.implicits._
    sites.map(t => (t.id, t.lat, t.lon, t.bufferM, t.eventId.orNull, t.name))
      .toDF("site", "lat", "lon", "buffer_m", "event_id", "site_name")
  }

  /** S7 — the attribute table as a genuine broadcast CSV read, cached
    * like the reference's `_attribute_cache` (landfire_container.py:65). */
  def attributeTable(s: SparkSession, t: Transport = Files): DataFrame = {
    Fixtures.stage()
    val reader = s.read.option("header", "true")
      .schema("product STRING, value INT, classname STRING")
    (t match {
      case Files => reader.csv(AttributeCsv)
      case Rest  => reader.csv(restLines(s, "text/landfire_attributes.csv"))
    }).cache()
  }

  def rasterIndex(s: SparkSession, t: Transport = Files): DataFrame = {
    Fixtures.stage()
    val reader = s.read.option("header", "true")
      .schema("file_name STRING, site STRING, product STRING, x0 DOUBLE, dx DOUBLE, y0 DOUBLE, dy DOUBLE")
    t match {
      case Files => reader.csv(RasterIndexCsv)
      case Rest  => reader.csv(restLines(s, "text/rasters_index.csv"))
    }
  }

  private def rasterFiles(s: SparkSession, t: Transport = Files): DataFrame = {
    Fixtures.stage()
    t match {
      case Files =>
        s.read.format("binaryFile").load(s"$RasterDir/*.tif")
          .select(element_at(split(col("path"), "/"), -1).as("file_name"), col("content"))
      case Rest =>
        // the raster estate is enumerable from the site table — at
        // production scale this url list is itself a DataFrame column.
        // Cached: landfire and topography both consume this sweep, and
        // a remote byte should cross the wire once, not once per
        // consumer (the reference fetches each product exactly once
        // per /collect too).
        val names = for (st <- sites; p <- Seq("veg", "fuel", "elev"))
          yield s"rasters/${p}_${st.id}.tif"
        restFiles(s, names).cache()
    }
  }

  /** Decoded raster joined to its transform + request, with the
    * inverse-affine point location (landfire_container.py:89-96) and the
    * bounds check (:96-113) — an out-of-bounds coordinate yields a null
    * pixel, which downstream becomes the reference's
    * "Coordinates outside raster bounds" interpretation error. */
  private def pixelLookup(s: SparkSession, products: Seq[String], t: Transport = Files): DataFrame =
    rasterFiles(s, t)
      .join(broadcast(rasterIndex(s, t).filter(col("product").isin(products: _*))), "file_name")
      .join(broadcast(requests(s)), "site")
      .withColumn("ras", decodeRaster(col("content")))
      .withColumn("px_row", floor((col("lat") - col("y0")) / col("dy")).cast("int"))
      .withColumn("px_col", floor((col("lon") - col("x0")) / col("dx")).cast("int"))
      .withColumn("pixel_int",
        when(col("px_row").between(0, col("ras.h") - 1) && col("px_col").between(0, col("ras.w") - 1),
          element_at(col("ras.px"), col("px_row") * col("ras.w") + col("px_col") + 1).cast("int")))

  /** LANDFIRE: veg + fuel point classification over the real TIFFs. */
  def landfire(s: SparkSession, t: Transport = Files): DataFrame = {
    val attrs = broadcast(attributeTable(s, t)).withColumnRenamed("product", "a_product")
    val classified = pixelLookup(s, Seq("vegetation_type", "fuel_model"), t)
      .join(attrs,
        col("a_product") === col("product") && col("value") === col("pixel_int"), "left")
      .withColumn("range_label",
        when(col("product") === "vegetation_type", rangeLabel("vegetation_type"))
          .otherwise(rangeLabel("fuel_model")))
      .withColumn("interpreted",
        when(col("pixel_int").isNotNull,
          coalesce(col("classname"), col("range_label"),
            concat(lit("Unknown ("), col("pixel_int"), lit(")")))))
    classified
      .groupBy(col("site"))
      .agg(
        first(when(col("product") === "vegetation_type", col("interpreted")), ignoreNulls = true).as("vegetation_class"),
        first(when(col("product") === "vegetation_type", col("pixel_int")), ignoreNulls = true).as("vegetation_pixel_value"),
        first(when(col("product") === "fuel_model", col("interpreted")), ignoreNulls = true).as("fuel_model_class"),
        first(when(col("product") === "fuel_model", col("pixel_int")), ignoreNulls = true).as("fuel_model_pixel_value"),
        first(col("px_row")).as("px_row"),
        first(col("px_col")).as("px_col"))
      .withColumn("lf_risk", landfireRisk(col("vegetation_class"), col("fuel_model_class")))
  }

  /** X14 — the [[CollectPipeline.rangeBands]] of one product as a
    * when-chain over `pixel_int`, in table order. */
  private def rangeLabel(product: String): Column = {
    val bands = rangeBands.collect { case (p, lo, hi, l) if p == product =>
      (col("pixel_int") >= lo && col("pixel_int") < hi, l)
    }
    bands.tail.foldLeft(when(bands.head._1, bands.head._2)) { case (c, (in, l)) => c.when(in, l) }
  }

  /** MODIS: last-valid NDVI (modis_container.py:249-258) + first-valid
    * LST (:289-301) + health/risk chains (:261-272). */
  def modis(s: SparkSession, t: Transport = Files): DataFrame = {
    Fixtures.stage()
    val reader = s.read
      .schema("site STRING, product STRING, band STRING, calendar_date STRING, data ARRAY<INT>")
    val subset = (t match {
      case Files => reader.json(ModisJsonl)
      case Rest  => reader.json(restLines(s, "text/modis_subset.jsonl"))
    })
      .withColumn("n_px", size(col("data")))
      .withColumn("center",
        when(col("n_px") > 0,
          element_at(col("data"), (col("n_px") / lit(2)).cast("int") + 1)))
    val ndvi = subset
      .filter(col("band") === "250m_16_days_NDVI" && col("n_px") > 0)
      .withColumn("scaled", col("center").cast("double") * lit(0.0001))
      .filter(col("scaled").between(-1.0, 1.0))
      .groupBy("site")
      .agg(
        max_by(col("scaled"), col("calendar_date")).as("ndvi_latest"),
        max(col("calendar_date")).as("last_observation_date"))
    val lst = subset
      .filter(col("band") === "LST_Day_1km" && col("n_px") > 0)
      .withColumn("temp_c", col("center").cast("double") * lit(0.02) - lit(273.15))
      .filter(col("temp_c").between(-50.0, 60.0))
      .groupBy("site")
      .agg(min_by(col("temp_c"), col("calendar_date")).as("land_surface_temperature_c"))
    val counts = subset.groupBy("site").agg(count(lit(1)).as("n_subset_entries"))
    ndvi
      .join(lst, Seq("site"), "left")
      .join(counts, Seq("site"), "left")
      .withColumn("vegetation_health", vegetationHealth(col("ndvi_latest")))
      .withColumn("fire_risk_vegetation", vegetationRisk(col("ndvi_latest"), lit))
      .withColumn("modis_ok", lit(true))
  }

  /** Weather: current decode + risk + forecast roll-up. */
  def weather(s: SparkSession, t: Transport = Files): DataFrame = {
    Fixtures.stage()
    val reader = s.read
      .schema("site STRING, dt BIGINT, main STRUCT<temp: DOUBLE, humidity: INT, pressure: INT>, " +
        "wind STRUCT<speed: DOUBLE, deg: INT>, weather ARRAY<STRUCT<main: STRING, description: STRING>>, " +
        "visibility INT, name STRING, " +
        "forecast ARRAY<STRUCT<dt: BIGINT, main: STRUCT<temp: DOUBLE, humidity: INT, pressure: INT>, wind: STRUCT<speed: DOUBLE, deg: INT>>>")
    val w = t match {
      case Files => reader.json(WeatherJsonl)
      case Rest  => reader.json(restLines(s, "text/weather_current.jsonl"))
    }
    w.select(
      col("site"),
      col("main.temp").as("temperature_celsius"),
      col("main.humidity").as("humidity_percent"),
      col("main.pressure").as("pressure_hpa"),
      col("wind.speed").as("wind_speed_mps"),
      col("wind.deg").as("wind_direction_deg"),
      element_at(col("weather"), 1).getField("main").as("weather_main"),
      element_at(col("weather"), 1).getField("description").as("weather_description"),
      fireWeatherRisk(fireWeatherScore(col("main.temp"), col("main.humidity"), col("wind.speed")), lit)
        .as("fire_weather_risk"),
      size(col("forecast")).as("forecast_total_points"),
      array_max(transform(col("forecast"), f => f.getField("main").getField("temp"))).as("forecast_max_temperature"),
      array_min(transform(col("forecast"), f => f.getField("main").getField("temp"))).as("forecast_min_temperature"),
      size(filter(col("forecast"), f =>
        fireWeatherScore(f.getField("main").getField("temp"), f.getField("main").getField("humidity"),
          f.getField("wind").getField("speed")) >= 5)).as("n_fire_risk_periods"))
  }

  /** Decoded elevation raster as (site, pos, elev) pixel rows — shared
    * by the stats aggregate and the visualization downsample. */
  def elevationPixels(s: SparkSession, t: Transport = Files): DataFrame =
    rasterFiles(s, t)
      .join(broadcast(rasterIndex(s, t).filter(col("product") === "elevation")), "file_name")
      .withColumn("ras", decodeRaster(col("content")))
      .select(col("site"), posexplode(col("ras.px")).as(Seq("pos", "elev")))

  /** Topography: masked elevation stats over the decoded raster
    * (topography_container.py:233-296). Sums stay exact because the
    * fixture elevations are integral doubles; mean/std are single
    * divisions/sqrt over those exact sums, mirrored verbatim in the
    * oracle so both engines produce bit-identical doubles. */
  def topography(s: SparkSession, t: Transport = Files): DataFrame =
    elevationPixels(s, t)
      .filter(col("elev") =!= NoData)
      .groupBy("site")
      .agg(
        count(lit(1)).as("pixel_count"),
        min("elev").as("min_elevation_m"),
        max("elev").as("max_elevation_m"),
        sum("elev").as("sum_elev"),
        sum(col("elev") * col("elev")).as("ssq_elev"))
      .withColumn("mean_elevation_m", col("sum_elev") / col("pixel_count"))
      .withColumn("std_elevation_m",
        sqrt(col("ssq_elev") / col("pixel_count") - col("mean_elevation_m") * col("mean_elevation_m")))
      .withColumn("elevation_range_m", col("max_elevation_m") - col("min_elevation_m"))
      .withColumn("terrain_roughness", terrainClass(col("elevation_range_m"), lit))
      .drop("sum_elev", "ssq_elev")

  private def locationStruct: Column = struct(
    col("lat").as("latitude"),
    col("lon").as("longitude"),
    col("buffer_m").as("buffer_meters"),
    lit("EPSG:4326").as("coordinate_system"))

  private def metadataStruct(containerId: String, currency: String, ok: Column): Column = struct(
    lit(0).as("processing_time_ms"),
    lit(currency).as("data_currency"),
    lit(RetrievedAt).as("retrieved_at"),
    // 1.0 clean, 0.0 on a failed fetch — the reference's error_output
    // metadata (topography_container.py:442)
    when(ok, lit(1.0)).otherwise(lit(0.0)).as("quality_score"),
    lit(containerId).as("container_id"),
    lit("1.0.0").as("container_version"))

  /** ContainerOutput envelope (shared_schema.py:97-132 / to_dict order
    * :114-132), minus raw_data and with errors/warnings as counts. A
    * failed source still gets an envelope — the reference's error-output
    * shape (topography_container.py:430-460): null interpreted_data,
    * quality_score 0.0, one error — rather than an absent key, which a
    * fixed-schema row can't express. */
  private def containerStruct(source: String, dataType: String, containerId: String,
      currency: String, interpreted: Column, ok: Column): Column = struct(
    col("event_id"),
    lit(source).as("source"),
    lit(dataType).as("data_type"),
    locationStruct.as("location"),
    lit(RetrievedAt).as("timestamp"),
    when(ok, interpreted).as("interpreted_data"),
    metadataStruct(containerId, currency, ok).as("metadata"),
    when(ok, lit(0)).otherwise(lit(1)).as("n_errors"),
    lit(0).as("n_warnings"))

  /** The AggregatedResponse rows: one per request — golden coordinates
    * fully populated, the off-grid request with a null-field landfire
    * interpretation (UNKNOWN risk) and a NULL modis envelope plus the
    * orchestrator's failure accounting (orchestrator.py:735-741,
    * :783-790). */
  def run(s: SparkSession, t: Transport = Files): DataFrame = {
    Fixtures.stage()
    val joined = requests(s)
      .join(landfire(s, t), Seq("site"), "left")
      .join(modis(s, t), Seq("site"), "left")
      .join(weather(s, t), Seq("site"), "left")
      .join(topography(s, t), Seq("site"), "left")

    val landfireOk = col("px_row").isNotNull
    val modisOk = col("modis_ok").isNotNull
    val weatherOk = col("temperature_celsius").isNotNull
    val topoOk = col("pixel_count").isNotNull

    val landfireEnv = containerStruct("LANDFIRE", "landfire_vegetation", "landfire-container-0",
      LandfireCurrency,
      struct(
        struct(
          col("vegetation_class"), col("vegetation_pixel_value"),
          col("fuel_model_class"), col("fuel_model_pixel_value"),
          col("px_row"), col("px_col")).as("coordinate_specific"),
        struct(
          lit("vegetation_type,fuel_model").as("interpreted_products"),
          col("vegetation_class").as("vegetation_interpreted"),
          col("fuel_model_class").as("fuel_model_interpreted")).as("area_summary"),
        col("lf_risk").as("risk_assessment")), landfireOk)

    val modisEnv = containerStruct("MODIS_ORNL", "modis_vegetation_indices", "modis-container-0",
      RetrievedAt,
      struct(
        struct(
          col("ndvi_latest"),
          lit(null).cast("double").as("evi_latest"),
          col("vegetation_health"),
          col("fire_risk_vegetation"),
          col("last_observation_date"),
          col("land_surface_temperature_c")).as("coordinate_specific"),
        struct(
          lit("MOD13Q1,MOD11A2").as("products_processed"),
          col("n_subset_entries")).as("area_summary"),
        col("fire_risk_vegetation").as("risk_assessment")), modisOk)

    val weatherEnv = containerStruct("OpenWeatherMap", "weather_current", "weather-container-0",
      RetrievedAt,
      struct(
        struct(
          col("temperature_celsius"), col("humidity_percent"), col("wind_speed_mps"),
          col("fire_weather_risk"), col("weather_main"), col("weather_description")).as("coordinate_specific"),
        struct(
          col("forecast_total_points"),
          col("forecast_max_temperature"),
          col("forecast_min_temperature"),
          col("n_fire_risk_periods")).as("area_summary"),
        col("fire_weather_risk").as("risk_assessment")), weatherOk)

    val topoEnv = containerStruct("USGS_3DEP", "topography_dem", "topography-container-0",
      RetrievedAt,
      struct(
        struct(
          col("mean_elevation_m").as("elevation_m"),
          col("terrain_roughness").as("terrain_classification"),
          col("terrain_roughness").as("fire_risk_terrain")).as("coordinate_specific"),
        struct(
          col("min_elevation_m"), col("max_elevation_m"), col("mean_elevation_m"),
          col("std_elevation_m"), col("elevation_range_m"), col("terrain_roughness"),
          col("pixel_count")).as("area_summary"),
        col("terrain_roughness").as("risk_assessment")), topoOk)

    // the orchestrator's success accounting: a container counts as
    // successful iff it returned an envelope (orchestrator.py:744,783);
    // a missing one adds an orchestrator-level error (:735-741)
    val successfulSources =
      when(landfireOk, 1).otherwise(0) + when(modisOk, 1).otherwise(0) +
        when(weatherOk, 1).otherwise(0) + when(topoOk, 1).otherwise(0)

    joined.select(
      col("site").as("request_id"),
      col("event_id"),
      locationStruct.as("location"),
      lit(RetrievedAt).as("timestamp"),
      landfireEnv.as("landfire"),
      modisEnv.as("modis"),
      weatherEnv.as("weather"),
      topoEnv.as("topography"),
      struct(
        lit(4).as("total_sources"),
        successfulSources.as("successful_sources"),
        (lit(4) - successfulSources).as("total_errors"),
        (successfulSources.cast("double") / lit(4.0)).as("success_rate")).as("summary"),
      lit(0).as("total_processing_time_ms"))
  }
}
