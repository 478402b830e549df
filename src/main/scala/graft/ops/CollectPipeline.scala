package graft.ops

import graft.functions.ValidationMask
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY.md §3.1 — the reference's primary entry point (`POST /collect`,
  * /root/reference/containers/orchestrator/orchestrator.py:634-808) as a
  * composable batch transform:
  *
  *   requests → validate (F1-F4) → classify (the four per-source
  *   classifications, one wide row) → decode + success summary (A6)
  *
  * The reference fans out over HTTP to four container processes and
  * merges their four records into one AggregatedResponse (U1 + J1).
  * Every source's classification here is a pure function of the
  * request's own row, so the fan-out and the merge collapse into one
  * row-local projection: no explode, no shuffle, no join. In `run` and
  * `collectForEvents` a /collect batch is one whole-stage-codegen'd
  * scan → filter → projection: validation is one native kernel
  * ([[graft.functions.ValidationMask]]) and classification is plain
  * column arithmetic, with no UDF and no higher-order function.
  * `observedRun` also decodes each row's error list, the one
  * array-valued (interpreted) step.
  *
  * Enrichment kernels are deterministic functions of the coordinates
  * standing in for the WAN fetches (the fetch itself is a source concern
  * — S1-S6 — outside the engine's semantics). Classification logic is
  * the reference's, transcribed: X9 fire-weather, X10 vegetation health,
  * X12 terrain, X14 range interpretation. Those rules, and X11, are
  * defined once here; [[CollectFull]] and the scalar and raster queries
  * call the same functions.
  *
  * Each input row gets its own response. Two requests sharing a
  * `request_id` are two responses (each with `sources_successful` = 4),
  * not one merged response.
  *
  * Scale: one scan of requests and a narrow projection per row; output
  * rows = input rows. Nothing here shuffles, is quadratic or is
  * driver-bound.
  */
object CollectPipeline {

  /** F1-F4 — accept/reject with accumulated error strings (X27). One
    * native kernel ([[graft.functions.ValidationMask]]) evaluates the
    * four checks once per row into a failure mask: `valid` is the mask
    * being 0, so a `filter(valid)` pushed down to the scan stays inside
    * whole-stage codegen, and `errors` is decoded from the mask only
    * where a caller keeps it. The kernel is the `validation_mask`
    * function that [[graft.functions.GraftExtensions]] registers in
    * every session [[graft.GraftSession]] builds. The mask column is
    * namespaced `__graft_*` so a caller column of the same spelling is
    * never clobbered and dropped. */
  def validate(requests: DataFrame): DataFrame = {
    val mask = call_function("validation_mask", col("lat").cast("double"), col("lon").cast("double"),
      col("buffer_m").cast("double"), col("event_id").cast("string"))
    requests
      .withColumn("__graft_mask", mask)
      .withColumn("errors", filter(array(ValidationMask.errors.zipWithIndex.map { case (e, i) =>
        when(col("__graft_mask").bitwiseAND(1 << i) =!= 0, e)
      }: _*), e => e.isNotNull))
      .withColumn("valid", col("__graft_mask") === 0)
      .drop("__graft_mask")
  }

  /** Deterministic per-source "fetch" kernels — pure functions of the
    * coordinate, so results are reproducible (SURVEY §7: the engine takes
    * nondeterminism as parameters). */
  private def weatherTemp: Column = round(lit(15.0) + pmod(col("lat") * 7 + col("lon") * 3, lit(20)), 2)
  private def weatherHumidity: Column = pmod(floor(col("lat") * 11 + col("lon") * 5), lit(80)).cast("int") + 10
  private def weatherWind: Column = round(pmod(col("lon") * 13, lit(18)), 2)
  private def ndviRaw: Column = pmod(floor(col("lat") * 100 + col("lon") * 50), lit(9000)).cast("int")
  private def pixelCode: Column = (pmod(floor(col("lat") * 37 + col("lon") * 17), lit(10)) * lit(1000) + 2500).cast("int")
  private def elevRange: Column = round(pmod(col("lat") * 19 - col("lon") * 7, lit(150)), 2)

  /** The risk label domain, ordered. [[classify]] emits each source's
    * risk as its index here + 1, an integer that [[riskDecode]] maps
    * back to the label. */
  val riskLabels: Seq[String] =
    Seq("LOW", "MODERATE", "MODERATE_TO_HIGH", "HIGH", "EXTREME")

  private def labelCode(label: String): Column = lit(riskLabels.indexOf(label) + 1)

  def riskDecode(code: Column): Column =
    riskLabels.zipWithIndex.foldLeft(lit(null).cast("string")) { case (acc, (l, i)) =>
      when(code === (i + 1), l).otherwise(acc)
    }

  // The reference's classification rules, each written once. The risk
  // rules take `out`, which turns a label into the output column:
  // [[classify]] passes `labelCode` for integer codes, every other
  // caller passes `lit` for the label itself.

  /** X9 fire-weather score (weather_container.py:187-233): 0-3 points
    * each for temperature, humidity and wind, strict at every edge. */
  def fireWeatherScore(temp: Column, hum: Column, wind: Column): Column =
    when(temp > 30, 3).when(temp > 25, 2).when(temp > 20, 1).otherwise(0) +
      when(hum < 20, 3).when(hum < 40, 2).when(hum < 60, 1).otherwise(0) +
      when(wind > 15, 3).when(wind > 10, 2).when(wind > 5, 1).otherwise(0)

  /** X9 risk class of a [[fireWeatherScore]]: ≥7 / ≥5 / ≥3 / else. */
  def fireWeatherRisk(score: Column, out: String => Column): Column =
    when(score >= 7, out("EXTREME")).when(score >= 5, out("HIGH"))
      .when(score >= 3, out("MODERATE")).otherwise(out("LOW"))

  /** X10 vegetation health of an NDVI value (modis_container.py:261-272). */
  def vegetationHealth(ndvi: Column): Column =
    when(ndvi > 0.6, "HEALTHY")
      .when(ndvi > 0.3, "MODERATE")
      .when(ndvi > 0.1, "STRESSED")
      .otherwise("SEVERELY_STRESSED")

  /** X10 vegetation fire risk of an NDVI value, same edges as
    * [[vegetationHealth]]. */
  def vegetationRisk(ndvi: Column, out: String => Column): Column =
    when(ndvi > 0.6, out("LOW"))
      .when(ndvi > 0.3, out("MODERATE"))
      .when(ndvi > 0.1, out("HIGH"))
      .otherwise(out("EXTREME"))

  /** X11 LANDFIRE fire risk from the vegetation and fuel-model class
    * names (landfire_container.py:451-465): needs both, then term
    * matches over the lower-cased names. */
  def landfireRisk(veg: Column, fuel: Column): Column =
    when(veg.isNull || fuel.isNull, "UNKNOWN")
      .when(lower(veg).rlike("developed|urban|water"), "LOW")
      .when(lower(fuel).rlike("chaparral|timber|grass"), "MODERATE_TO_HIGH")
      .otherwise("MODERATE")

  /** X12 terrain class of an elevation range in metres
    * (topography_container.py:263-274): >100 / >50 / else. */
  def terrainClass(range: Column, out: String => Column): Column =
    when(range > 100, out("HIGH")).when(range > 50, out("MODERATE"))
      .otherwise(out("LOW"))

  /** X14 range bands (landfire_container.py:118-132): (product, lo, hi,
    * label), a pixel value v in [lo, hi) taking the label; the first
    * matching band of its product wins. */
  val rangeBands: Seq[(String, Int, Int, String)] = Seq(
    ("vegetation_type", 7000, 8000, "Urban/Developed"),
    ("vegetation_type", 6000, 7000, "Agriculture/Cropland"),
    ("vegetation_type", 3000, 4000, "Forest"),
    ("vegetation_type", 2000, 3000, "Grassland"),
    ("vegetation_type", 4000, 5000, "Shrubland"),
    ("fuel_model", 90, 100, "Non-burnable"),
    ("fuel_model", 100, 110, "Grass"),
    ("fuel_model", 110, 130, "Timber"),
    ("fuel_model", 140, 150, "Shrub"))

  /** The four sources, in response column order; [[classify]] names
    * each one's risk code `<source>_c`. */
  val sources: Seq[String] = Seq("landfire", "modis", "weather", "topography")

  /** One wide row per input row: `request_id`, the `carry` columns, and
    * the four per-source risk codes (`landfire_c`, `modis_c`,
    * `weather_c`, `topography_c`) — the §2 classify chains, row-local.
    *
    * @param carry extra request columns to thread through — per-request
    *              metadata a caller needs next to the codes (e.g. the
    *              §3.3 routing columns). */
  def classify(valid: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val keep = (Seq("request_id") ++ carry).map(col)
    // Kernels materialize ONCE per request behind a projection boundary
    // (CollapseProject keeps non-cheap expressions un-inlined), then the
    // risk chains reference them as plain attributes. Inlining the
    // kernel trees into every when-branch multiplies the per-row
    // arithmetic ~10x — measured ~20 micros/row at 100k requests.
    riskCodes(valid.select(keep ++ Seq(
      weatherTemp.as("w_temp"), weatherHumidity.as("w_hum"), weatherWind.as("w_wind"),
      (ndviRaw * 0.0001).as("ndvi"), pixelCode.as("pixel"), elevRange.as("elev")): _*), carry)
  }

  /** [[classify]]'s chains over the kernel columns (`w_temp`, `w_hum`,
    * `w_wind`, `ndvi`, `pixel`, `elev`), apart so a spec can drive every
    * threshold; the landfire pixel edges are unreachable from
    * coordinates. */
  private[graft] def riskCodes(kernels: DataFrame, carry: Seq[String]): DataFrame = {
    val keep = (Seq("request_id") ++ carry).map(col)
    val scored = kernels.withColumn("w_score",
      fireWeatherScore(col("w_temp"), col("w_hum"), col("w_wind")))
    // the coordinate kernel has a pixel band but no fuel model, so its
    // landfire risk is a band rule of its own, not X11
    val pixelRisk =
      when(col("pixel") >= 7000 && col("pixel") < 8000, labelCode("LOW")) // Urban/Developed
        .when(col("pixel") >= 3000 && col("pixel") < 4000, labelCode("MODERATE_TO_HIGH")) // Forest fuels
        .when(col("pixel") >= 2000 && col("pixel") < 3000, labelCode("MODERATE_TO_HIGH")) // Grassland
        .otherwise(labelCode("MODERATE"))
    scored.select(keep ++ Seq(pixelRisk.as("landfire_c"),
      vegetationRisk(col("ndvi"), labelCode).as("modis_c"),
      fireWeatherRisk(col("w_score"), labelCode).as("weather_c"),
      terrainClass(col("elev"), labelCode).as("topography_c")): _*)
  }

  /** J1 + A6 — the response columns over per-source risk codes, a null
    * code meaning the source was not queried: the four decoded labels,
    * then `sources_successful` (codes present) and `n_high_risk`
    * (HIGH/EXTREME codes). */
  def response(codeOf: String => Column): Seq[Column] = {
    val codes = sources.map(codeOf)
    def countOf(p: Column => Column) = codes.map(c => when(p(c), 1L).otherwise(0L)).reduce(_ + _)
    sources.zip(codes).map { case (s, c) => riskDecode(c).as(s) } ++ Seq(
      countOf(_.isNotNull).as("sources_successful"),
      countOf(_ >= labelCode("HIGH")).as("n_high_risk"))
  }

  /** The full /collect shape: one response row per valid request
    * (rejected rows carry `errors`, see [[validate]]). */
  def run(requests: DataFrame): DataFrame =
    classify(validate(requests).filter(col("valid")))
      .select(col("request_id") +: response(s => col(s"${s}_c")): _*)

  /** Trace-id propagation (orchestrator.py:73-87): the caller-supplied
    * infrastructure header when present (the x-request-id /
    * x-trace-id path), else a generated `req_<hex12>` — here a
    * DETERMINISTIC md5 surrogate of the request key instead of the
    * reference's uuid4, the same take-nondeterminism-as-a-parameter
    * policy as X22, so the envelope is oracle-able. */
  def traceId(keyCol: String, headerCol: Option[String]): Column = {
    val generated = concat(lit("req_"), substring(md5(col(keyCol)), 1, 12))
    headerCol.map(h => coalesce(col(h), generated)).getOrElse(generated)
  }

  /** The observability envelope (orchestrator.py:33-87): run /collect and
    * emit ONE STRUCTURED-LOG RECORD PER REQUEST — trace id, level,
    * message (rejects carry the X27-formatted error list), error count,
    * and the per-request success metrics. The returned frame also
    * carries a real Spark `observe()` aggregate
    * (n_requests / n_valid / n_high_risk_total), so the run's
    * `queryExecution.observedMetrics` holds the run-level census from
    * the SAME job that computes the rows — the engine-native form of the
    * reference's log aggregation, with no second pass over the data
    * (proven in CollectPipelineSpec). The whole envelope is one
    * projection over [[validate]]'s rows — no join back on
    * `request_id` — so each input row logs once, duplicate keys
    * included; a reject reports 0 sources and 0 high risks. */
  def observedRun(requests: DataFrame, keyCol: String = "request_id",
                  headerCol: Option[String] = None): DataFrame = {
    val v = validate(requests.withColumn("trace_id", traceId(keyCol, headerCol)))
    // rejects classify too, but their codes are masked to null: 0 sources
    classify(v, carry = Seq("trace_id", "valid", "errors"))
      .select(col("*") +: response(s => when(col("valid"), col(s"${s}_c"))): _*)
      .select(
        col("request_id"),
        col("trace_id"),
        lit("orchestrator").as("service"),
        when(col("valid"), lit("INFO")).otherwise(lit("ERROR")).as("level"),
        when(col("valid"), lit("collect completed"))
          .otherwise(concat(lit("collect rejected: "),
            concat_ws("; ", col("errors")))).as("message"),
        size(col("errors")).cast("long").as("n_errors"),
        col("sources_successful"),
        col("n_high_risk"))
      .observe("graft_collect",
        count(lit(1)).as("n_requests"),
        sum(when(col("level") === "INFO", 1L).otherwise(0L)).as("n_valid"),
        sum(col("n_high_risk")).as("n_high_risk_total"))
  }
}
