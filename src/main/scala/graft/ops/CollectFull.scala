package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Full-fidelity `/collect` (SURVEY §3.1 depth): the reference's four
  * container pipelines run as REAL engine operators over staged fixture
  * files, emitting a nested `ContainerOutput`-shaped struct per source
  * (shared_schema.py:97-132) pivoted into one `AggregatedResponse`-shaped
  * row per request (shared_schema.py:135-191, orchestrator.py:760-808).
  *
  * One pass per source, all real operators (no synthetic kernels): one
  * binaryFile TIFF scan (or REST fetch) → broadcast raster index →
  * [[TiffCodec]] decode (D1), once per raster → broadcast requests →
  * inverse-affine point lookup (J3) → broadcast CSV attribute table with
  * range fallback (S7+J2, landfire_container.py:46-132), with the masked
  * elevation stats (A1, topography_container.py:233-296) folded from
  * the same decoded row; the MODIS subset JSON as valid-NDVI/LST columns
  * (modis_container.py:240-301); the weather JSON (S3) with its X9 risk
  * score and forecast roll-up (weather_container.py:187-233, :365-373).
  * The three row sets are aggregated once by site (A7's last-valid NDVI
  * and first-valid LST are `max_by`/`min_by` over valid rows only), the
  * classify rules run per site, and one left join takes the result to
  * the requests. A duplicated request gets its own row; the raster rows
  * it duplicates are absorbed by `first`, so a site's request rows must
  * share one coordinate.
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
  * Scale: every per-request operator is row-local after broadcasts of
  * the constant-size attribute/index tables and of the request batch;
  * the raster decode is one UDF pass over a binary column (embarrassingly
  * parallel); the one shuffle is the site-keyed aggregate, broadcast back
  * to the requests. Nothing is cached: no input is read twice.
  */
object CollectFull {
  import CollectPipeline.{fireWeatherRisk, fireWeatherScore, landfireRisk, rangeBands, terrainClass,
    vegetationHealth, vegetationRisk}
  import Fixtures._

  val RetrievedAt = "2024-06-01T12:00:00"
  val LandfireCurrency = "2024-01-01T00:00:00Z"

  /** Input transport: the SAME pipeline runs over local staged files
    * (`Files`, the default) or over live HTTP (`Rest`): the CSV and JSON
    * feeds then arrive through [[graft.sources.RestSource]] and the
    * requested sites' rasters through [[RestFetch]], all from the
    * loopback [[StagedRestEndpoint]] — the shape of the reference's
    * actual WAN deployment (four REST containers). Only the acquisition
    * differs; parse, decode, classify, and envelope assembly are shared
    * code, so `e2e_collect_rest` hash-matching `e2e_collect_full`'s
    * oracle proves the HTTP path end-to-end. */
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

  /** One staged text file fetched over the loopback REST endpoint, as a
    * line Dataset — fed to the SAME DataFrameReader.csv/json parsers the
    * file path uses. */
  private def restLines(s: SparkSession, path: String): Dataset[String] = {
    import s.implicits._
    s.read.format("graft.sources.RestSource")
      .option("urls", s"${StagedRestEndpoint.baseUrl}/files/${path.stripPrefix(Root + "/")}")
      .option("retries", "2").option("retryBackoffMs", "25")
      .load()
      .filter(col("status") === 200)
      .select(col("body").cast("string"))
      .as[String]
      .flatMap(_.split("\n"))
      .filter(length(trim(col("value"))) > 0)
  }

  private def csvFile(s: SparkSession, t: Transport, path: String, schema: String): DataFrame = {
    Fixtures.stage()
    val reader = s.read.option("header", "true").schema(schema)
    t match {
      case Files => reader.csv(path)
      case Rest  => reader.csv(restLines(s, path))
    }
  }

  private def jsonFile(s: SparkSession, t: Transport, path: String, schema: String): DataFrame = {
    Fixtures.stage()
    val reader = s.read.schema(schema)
    t match {
      case Files => reader.json(path)
      case Rest  => reader.json(restLines(s, path))
    }
  }

  /** The fixture's requests: four golden coordinates (README.md:262-266)
    * and an off-grid site. */
  def requests(s: SparkSession): DataFrame = {
    import s.implicits._
    sites.map(t => (t.id, t.lat, t.lon, t.bufferM, t.eventId.orNull, t.name))
      .toDF("site", "lat", "lon", "buffer_m", "event_id", "site_name")
  }

  /** S7 — the attribute table as a genuine CSV read, broadcast where it
    * is joined (the reference's `_attribute_cache`,
    * landfire_container.py:65, is the broadcast relation). */
  def attributeTable(s: SparkSession, t: Transport = Files): DataFrame =
    csvFile(s, t, AttributeCsv, "product STRING, value INT, classname STRING")

  def rasterIndex(s: SparkSession, t: Transport = Files): DataFrame =
    csvFile(s, t, RasterIndexCsv,
      "file_name STRING, site STRING, product STRING, x0 DOUBLE, dx DOUBLE, y0 DOUBLE, dy DOUBLE")

  /** Each raster of the estate decoded once, next to its index row
    * (site, product and affine transform). `Files` scans the raster
    * directory once; `Rest` fetches the three rasters of each requested
    * site on the executors with [[RestFetch]], the url list a column of
    * the request frame. */
  private def rasters(s: SparkSession, t: Transport, requests: DataFrame): DataFrame = {
    Fixtures.stage()
    val files = t match {
      case Files =>
        s.read.format("binaryFile").option("pathGlobFilter", "*.tif").load(RasterDir)
          .select(element_at(split(col("path"), "/"), -1).as("file_name"), col("content"))
      case Rest =>
        val urls = requests
          .select(col("site"), explode(array(lit("veg"), lit("fuel"), lit("elev"))).as("prefix"))
          .select(concat(lit(s"${StagedRestEndpoint.baseUrl}/files/rasters/"),
            col("prefix"), lit("_"), col("site"), lit(".tif")).as("url"))
        RestFetch.fetchRows(urls, "url", retries = 2, retryBackoffMs = 25L)
          .filter(col("status") === 200)
          .select(element_at(split(col("url"), "/"), -1).as("file_name"), col("body").as("content"))
    }
    files
      .join(broadcast(rasterIndex(s, t)), "file_name")
      .withColumn("ras", decodeRaster(col("content")))
  }

  /** X14 — the [[CollectPipeline.rangeBands]] of one product as a
    * when-chain over `pixel_int`, in table order. */
  private def rangeLabel(product: String): Column = {
    val bands = rangeBands.collect { case (p, lo, hi, l) if p == product =>
      (col("pixel_int") >= lo && col("pixel_int") < hi, l)
    }
    bands.tail.foldLeft(when(bands.head._1, bands.head._2)) { case (c, (in, l)) => c.when(in, l) }
  }

  /** Topography: masked elevation stats as folds over one decoded
    * raster's non-nodata pixels (topography_container.py:233-296), null
    * when every pixel is nodata. Sums stay exact because the fixture
    * elevations are integral doubles, so mean/std (single divisions and
    * a sqrt over those sums, mirrored verbatim in the oracle) are
    * bit-identical across engines. */
  private def elevationStats(px: Column): Column = {
    val valid = filter(px, _ =!= NoData)
    when(size(valid) > 0, struct(
      size(valid).cast("long").as("pixel_count"),
      array_min(valid).as("min_elevation_m"),
      array_max(valid).as("max_elevation_m"),
      aggregate(valid, lit(0.0), _ + _).as("sum_elev"),
      aggregate(valid, lit(0.0), (acc, e) => acc + e * e).as("ssq_elev")))
  }

  /** LANDFIRE and topography rows: each decoded raster joined to its
    * site's requests, with the inverse-affine point location
    * (landfire_container.py:89-96) and the bounds check (:96-113) — an
    * out-of-bounds coordinate yields a null pixel, which becomes the
    * reference's "Coordinates outside raster bounds" interpretation
    * error — then the veg/fuel classification and the elevation stats. */
  private def rasterRows(s: SparkSession, t: Transport, requests: DataFrame): DataFrame = {
    val attrs = broadcast(attributeTable(s, t)).withColumnRenamed("product", "a_product")
    rasters(s, t, requests)
      .join(broadcast(requests.select("site", "lat", "lon")), "site")
      .withColumn("px_row", floor((col("lat") - col("y0")) / col("dy")).cast("int"))
      .withColumn("px_col", floor((col("lon") - col("x0")) / col("dx")).cast("int"))
      .withColumn("pixel_int",
        when(col("px_row").between(0, col("ras.h") - 1) && col("px_col").between(0, col("ras.w") - 1),
          element_at(col("ras.px"), col("px_row") * col("ras.w") + col("px_col") + 1).cast("int")))
      .join(attrs,
        col("a_product") === col("product") && col("value") === col("pixel_int"), "left")
      .select(
        col("site"), col("product"), col("pixel_int"), col("px_row"), col("px_col"),
        when(col("pixel_int").isNotNull,
          coalesce(col("classname"),
            when(col("product") === "vegetation_type", rangeLabel("vegetation_type"))
              .otherwise(rangeLabel("fuel_model")),
            concat(lit("Unknown ("), col("pixel_int"), lit(")")))).as("interpreted"),
        when(col("product") === "elevation", elevationStats(col("ras.px"))).as("topo"))
  }

  /** MODIS subset rows: the center pixel of each entry as a valid NDVI
    * (×1e-4 in [-1,1], modis_container.py:249-258) or a valid LST
    * (×0.02 − 273.15 in [-50,60]°C, :289-301), each with its date; empty
    * and invalid entries leave both null but still count as entries. */
  private def modisRows(s: SparkSession, t: Transport): DataFrame = {
    val subset = jsonFile(s, t, ModisJsonl,
      "site STRING, product STRING, band STRING, calendar_date STRING, data ARRAY<INT>")
    val n = size(col("data"))
    val center = when(n > 0, element_at(col("data"), (n / lit(2)).cast("int") + 1)).cast("double")
    val ndvi = center * lit(0.0001)
    val temp = center * lit(0.02) - lit(273.15)
    val ndviOk = col("band") === "250m_16_days_NDVI" && ndvi.between(-1.0, 1.0)
    val lstOk = col("band") === "LST_Day_1km" && temp.between(-50.0, 60.0)
    subset.select(
      col("site"),
      lit(1).as("subset_entry"),
      when(ndviOk, ndvi).as("ndvi"), when(ndviOk, col("calendar_date")).as("ndvi_date"),
      when(lstOk, temp).as("lst"), when(lstOk, col("calendar_date")).as("lst_date"))
  }

  /** Weather rows: current decode + risk + forecast roll-up, one struct
    * per site. */
  private def weatherRows(s: SparkSession, t: Transport): DataFrame = {
    val w = jsonFile(s, t, WeatherJsonl,
      "site STRING, dt BIGINT, main STRUCT<temp: DOUBLE, humidity: INT, pressure: INT>, " +
        "wind STRUCT<speed: DOUBLE, deg: INT>, weather ARRAY<STRUCT<main: STRING, description: STRING>>, " +
        "visibility INT, name STRING, " +
        "forecast ARRAY<STRUCT<dt: BIGINT, main: STRUCT<temp: DOUBLE, humidity: INT, pressure: INT>, wind: STRUCT<speed: DOUBLE, deg: INT>>>")
    w.select(col("site"), struct(
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
          f.getField("wind").getField("speed")) >= 5)).as("n_fire_risk_periods")).as("wx"))
  }

  /** Decoded elevation raster as (site, pos, elev) pixel rows — the
    * visualization downsample's input. */
  def elevationPixels(s: SparkSession, t: Transport = Files): DataFrame =
    rasters(s, t, requests(s))
      .filter(col("product") === "elevation")
      .select(col("site"), posexplode(col("ras.px")).as(Seq("pos", "elev")))

  /** The one keyed pass: every source's rows aggregated by site, then
    * the per-site classify rules. */
  private def bySite(s: SparkSession, t: Transport, requests: DataFrame): DataFrame = {
    def firstOf(product: String, c: String) =
      first(when(col("product") === product, col(c)), ignoreNulls = true)
    def landfireFirst(c: String) = first(when(col("product") =!= "elevation", col(c)), ignoreNulls = true)
    rasterRows(s, t, requests)
      .unionByName(modisRows(s, t), allowMissingColumns = true)
      .unionByName(weatherRows(s, t), allowMissingColumns = true)
      .groupBy("site")
      .agg(
        firstOf("vegetation_type", "interpreted").as("vegetation_class"),
        firstOf("vegetation_type", "pixel_int").as("vegetation_pixel_value"),
        firstOf("fuel_model", "interpreted").as("fuel_model_class"),
        firstOf("fuel_model", "pixel_int").as("fuel_model_pixel_value"),
        landfireFirst("px_row").as("px_row"),
        landfireFirst("px_col").as("px_col"),
        first(col("topo"), ignoreNulls = true).as("topo"),
        max_by(col("ndvi"), col("ndvi_date")).as("ndvi_latest"),
        max(col("ndvi_date")).as("last_observation_date"),
        count(col("ndvi")).as("n_valid_ndvi"),
        min_by(col("lst"), col("lst_date")).as("land_surface_temperature_c"),
        count(col("subset_entry")).as("n_subset_entries"),
        first(col("wx"), ignoreNulls = true).as("wx"))
      .select(col("*"), col("wx.*"), col("topo.*"))
      .withColumn("vegetation_health", vegetationHealth(col("ndvi_latest")))
      .withColumn("fire_risk_vegetation", vegetationRisk(col("ndvi_latest"), lit))
      .withColumn("mean_elevation_m", col("sum_elev") / col("pixel_count"))
      .withColumn("std_elevation_m",
        sqrt(col("ssq_elev") / col("pixel_count") - col("mean_elevation_m") * col("mean_elevation_m")))
      .withColumn("elevation_range_m", col("max_elevation_m") - col("min_elevation_m"))
      .withColumn("terrain_roughness", terrainClass(col("elevation_range_m"), lit))
  }

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

  /** The AggregatedResponse rows: one per row of `requests` (columns
    * `site`, `lat`, `lon`, `buffer_m`, `event_id`) — golden coordinates
    * fully populated, the off-grid request with a null-field landfire
    * interpretation (UNKNOWN risk) and a NULL modis envelope plus the
    * orchestrator's failure accounting (orchestrator.py:735-741,
    * :783-790). */
  def run(s: SparkSession, requests: DataFrame, t: Transport = Files): DataFrame = {
    val joined = requests.join(broadcast(bySite(s, t, requests)), Seq("site"), "left")

    val landfireOk = col("px_row").isNotNull
    val modisOk = col("n_valid_ndvi") > 0
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
        landfireRisk(col("vegetation_class"), col("fuel_model_class")).as("risk_assessment")), landfireOk)

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
