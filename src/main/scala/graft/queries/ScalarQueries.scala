package graft.queries

import graft.Tables
import graft.ops.CollectPipeline.{fireWeatherRisk, fireWeatherScore, landfireRisk, terrainClass,
  vegetationHealth, vegetationRisk}
import org.apache.spark.sql.functions._

/** SURVEY.md §2.8 — the scalar-function surface (X1–X27), grouped into
  * themed queries. All classification thresholds are transcribed from the
  * reference (citations per query); all arithmetic stays in codegen'd
  * built-in `Column` expressions — no UDFs anywhere in this file, so every
  * query fuses into whole-stage codegen over its scan.
  */
object ScalarQueries {

  /** X9 — fire-weather risk score (weather_container.py:187-233): additive
    * bucket score over temp/humidity/wind (strict > / < at every
    * boundary), then ≥7/≥5/≥3 categorization. Vectors include each
    * boundary value to pin exclusivity. */
  val x9 = Q(
    "x9_fire_weather_risk",
    "Nested when/otherwise CASE chains: additive 0-9 fire-weather score with exclusive boundaries + 4-way categorization.",
    (s, _) => {
      import s.implicits._
      val df = Seq(
        (1, 35.0, 15, 20.0), (2, 26.0, 30, 11.0), (3, 21.0, 50, 6.0), (4, 15.0, 80, 2.0),
        (5, 30.0, 20, 15.0), // all three at boundary: 2+2+2=6 HIGH (strict comparisons)
        (6, 20.0, 60, 5.0),  // all just below: 0 LOW
        (7, 31.0, 19, 16.0)  // all just above top bucket: 9 EXTREME
      ).toDF("id", "temp_c", "humidity", "wind_mps")
      df.withColumn("risk_score", fireWeatherScore(col("temp_c"), col("humidity"), col("wind_mps")))
        .withColumn("risk_category", fireWeatherRisk(col("risk_score"), lit))
        .select("id", "risk_score", "risk_category")
    },
    Some("""WITH v(id, temp_c, humidity, wind_mps) AS (VALUES
              (1, 35.0, 15, 20.0), (2, 26.0, 30, 11.0), (3, 21.0, 50, 6.0), (4, 15.0, 80, 2.0),
              (5, 30.0, 20, 15.0), (6, 20.0, 60, 5.0), (7, 31.0, 19, 16.0))
            SELECT id,
              (CASE WHEN temp_c > 30 THEN 3 WHEN temp_c > 25 THEN 2 WHEN temp_c > 20 THEN 1 ELSE 0 END
             + CASE WHEN humidity < 20 THEN 3 WHEN humidity < 40 THEN 2 WHEN humidity < 60 THEN 1 ELSE 0 END
             + CASE WHEN wind_mps > 15 THEN 3 WHEN wind_mps > 10 THEN 2 WHEN wind_mps > 5 THEN 1 ELSE 0 END) AS risk_score,
              CASE WHEN (CASE WHEN temp_c > 30 THEN 3 WHEN temp_c > 25 THEN 2 WHEN temp_c > 20 THEN 1 ELSE 0 END
                       + CASE WHEN humidity < 20 THEN 3 WHEN humidity < 40 THEN 2 WHEN humidity < 60 THEN 1 ELSE 0 END
                       + CASE WHEN wind_mps > 15 THEN 3 WHEN wind_mps > 10 THEN 2 WHEN wind_mps > 5 THEN 1 ELSE 0 END) >= 7 THEN 'EXTREME'
                   WHEN (CASE WHEN temp_c > 30 THEN 3 WHEN temp_c > 25 THEN 2 WHEN temp_c > 20 THEN 1 ELSE 0 END
                       + CASE WHEN humidity < 20 THEN 3 WHEN humidity < 40 THEN 2 WHEN humidity < 60 THEN 1 ELSE 0 END
                       + CASE WHEN wind_mps > 15 THEN 3 WHEN wind_mps > 10 THEN 2 WHEN wind_mps > 5 THEN 1 ELSE 0 END) >= 5 THEN 'HIGH'
                   WHEN (CASE WHEN temp_c > 30 THEN 3 WHEN temp_c > 25 THEN 2 WHEN temp_c > 20 THEN 1 ELSE 0 END
                       + CASE WHEN humidity < 20 THEN 3 WHEN humidity < 40 THEN 2 WHEN humidity < 60 THEN 1 ELSE 0 END
                       + CASE WHEN wind_mps > 15 THEN 3 WHEN wind_mps > 10 THEN 2 WHEN wind_mps > 5 THEN 1 ELSE 0 END) >= 3 THEN 'MODERATE'
                   ELSE 'LOW' END AS risk_category
            FROM v""")
  )

  /** X1/X2/X7 + F8/F9 + X10 — the MODIS extraction core
    * (modis_container.py:240-301): band filter, center-pixel index
    * (len/2, 0-based), NDVI ×0.0001 scale, LST ×0.02−273.15 Kelvin→°C,
    * valid-range gate, vegetation-health classification. */
  val x10 = Q(
    "x10_modis_extract",
    "Band filter → element_at center-index (1-based: floor(len/2)+1) → linear scaling → valid-range gate → veg-health when-chain.",
    (s, _) => {
      import s.implicits._
      val df = Seq(
        (1, "250m_16_days_NDVI", Seq(100.0, 200.0, 2180.0, 300.0, 400.0)),  // center 2180 → 0.218 STRESSED
        (2, "250m_16_days_NDVI", Seq(7000.0, 6500.0, 6800.0)),              // center 6500 → 0.65 HEALTHY
        (3, "250m_16_days_NDVI", Seq(15000.0, 15000.0, 15000.0)),           // 1.5 → out of range → null
        (4, "250m_16_days_EVI", Seq(2180.0, 2180.0, 2180.0)),               // wrong band → filtered
        (5, "LST_Day_1km", Seq(15340.0, 15340.0, 15340.0)),                 // 15340*0.02-273.15 = 33.65
        (6, "LST_Day_1km", Seq(17700.0)),                                   // 80.85 °C → out of range → null
        (7, "250m_16_days_NDVI", Seq(3500.0, 900.0, 1500.0, 800.0))         // even len: center idx 2 (0-based) → 1500 → 0.15
      ).toDF("id", "band", "data")
      df.filter(col("band").isin("250m_16_days_NDVI", "LST_Day_1km"))
        .withColumn("center_raw", element_at(col("data"), (floor(size(col("data")) / 2) + 1).cast("int")))
        .withColumn("ndvi",
          when(col("band") === "250m_16_days_NDVI" &&
            (col("center_raw") * 0.0001).between(-1.0, 1.0), round(col("center_raw") * 0.0001, 4)))
        .withColumn("lst_c",
          when(col("band") === "LST_Day_1km" &&
            (col("center_raw") * 0.02 - 273.15).between(-50.0, 60.0), round(col("center_raw") * 0.02 - 273.15, 4)))
        .withColumn("veg_health",
          when(col("ndvi").isNull, "UNKNOWN").otherwise(vegetationHealth(col("ndvi"))))
        .withColumn("fire_risk_veg",
          when(col("ndvi").isNull, "UNKNOWN").otherwise(vegetationRisk(col("ndvi"), lit)))
        .select("id", "center_raw", "ndvi", "lst_c", "veg_health", "fire_risk_veg")
    },
    Some("""WITH v(id, band, data) AS (VALUES
              (1, '250m_16_days_NDVI', [100.0, 200.0, 2180.0, 300.0, 400.0]),
              (2, '250m_16_days_NDVI', [7000.0, 6500.0, 6800.0]),
              (3, '250m_16_days_NDVI', [15000.0, 15000.0, 15000.0]),
              (4, '250m_16_days_EVI', [2180.0, 2180.0, 2180.0]),
              (5, 'LST_Day_1km', [15340.0, 15340.0, 15340.0]),
              (6, 'LST_Day_1km', [17700.0]),
              (7, '250m_16_days_NDVI', [3500.0, 900.0, 1500.0, 800.0])),
            c AS (
              SELECT id, band, CAST(data[CAST(floor(len(data) / 2) AS INT) + 1] AS DOUBLE) AS center_raw
              FROM v WHERE band IN ('250m_16_days_NDVI', 'LST_Day_1km')
            ), sc AS (
              SELECT id, center_raw,
                CASE WHEN band = '250m_16_days_NDVI' AND center_raw * 0.0001 BETWEEN -1.0 AND 1.0
                     THEN round(center_raw * 0.0001, 4) END AS ndvi,
                CASE WHEN band = 'LST_Day_1km' AND center_raw * 0.02 - 273.15 BETWEEN -50.0 AND 60.0
                     THEN round(center_raw * 0.02 - 273.15, 4) END AS lst_c
              FROM c)
            SELECT id, center_raw, ndvi, lst_c,
              CASE WHEN ndvi IS NULL THEN 'UNKNOWN' WHEN ndvi > 0.6 THEN 'HEALTHY'
                   WHEN ndvi > 0.3 THEN 'MODERATE' WHEN ndvi > 0.1 THEN 'STRESSED'
                   ELSE 'SEVERELY_STRESSED' END AS veg_health,
              CASE WHEN ndvi IS NULL THEN 'UNKNOWN' WHEN ndvi > 0.6 THEN 'LOW'
                   WHEN ndvi > 0.3 THEN 'MODERATE' WHEN ndvi > 0.1 THEN 'HIGH'
                   ELSE 'EXTREME' END AS fire_risk_veg
            FROM sc""")
  )

  /** X12/X13 — terrain classification (topography_container.py:263-274)
    * and data-quality labeling (modis_container.py:315). */
  val x12 = Q(
    "x12_terrain_quality",
    "Elevation-range terrain class (>100 HIGH / >50 MODERATE / LOW) + observation-count quality label (>10 GOOD else LIMITED).",
    (s, _) => {
      import s.implicits._
      Seq((1, 250.0, 4), (2, 100.0, 11), (3, 75.5, 15), (4, 50.0, 10), (5, 12.0, 0))
        .toDF("id", "elev_range_m", "n_obs")
        .withColumn("terrain", terrainClass(col("elev_range_m"), lit))
        .withColumn("fire_risk_terrain", terrainClass(col("elev_range_m"), lit))
        .withColumn("data_quality", when(col("n_obs") > 10, "GOOD").otherwise("LIMITED"))
        .select("id", "terrain", "fire_risk_terrain", "data_quality")
    },
    Some("""SELECT id,
            CASE WHEN elev_range_m > 100 THEN 'HIGH' WHEN elev_range_m > 50 THEN 'MODERATE' ELSE 'LOW' END AS terrain,
            CASE WHEN elev_range_m > 100 THEN 'HIGH' WHEN elev_range_m > 50 THEN 'MODERATE' ELSE 'LOW' END AS fire_risk_terrain,
            CASE WHEN n_obs > 10 THEN 'GOOD' ELSE 'LIMITED' END AS data_quality
            FROM (VALUES (1, 250.0, 4), (2, 100.0, 11), (3, 75.5, 15), (4, 50.0, 10), (5, 12.0, 0))
                 AS t(id, elev_range_m, n_obs)""")
  )

  /** X11 — LANDFIRE fire-risk classify (landfire_container.py:451-461):
    * terms-in-string logic over vegetation/fuel descriptions. */
  val x11 = Q(
    "x11_landfire_risk",
    "Substring-set classification: lower + one rlike alternation per term set over veg/fuel names, UNKNOWN on missing input.",
    (s, _) => {
      import s.implicits._
      Seq(
        (1, Some("Developed-Roads"), Some("Urban")),
        (2, Some("Montane Sagebrush Steppe"), Some("Timber-Understory")),
        (3, Some("Creosotebush Desert Scrub"), Some("Short Grass")),
        (4, Some("Open Water"), Some("Chaparral")),
        (5, None, Some("Timber Litter")),
        (6, Some("Mixed Conifer Forest"), Some("Brush"))
      ).toDF("id", "veg", "fuel")
        .withColumn("fire_risk", landfireRisk(col("veg"), col("fuel")))
        .select("id", "fire_risk")
    },
    Some("""SELECT id,
            CASE WHEN veg IS NULL OR fuel IS NULL THEN 'UNKNOWN'
                 WHEN len(list_filter(['developed','urban','water'], t -> contains(lower(veg), t))) > 0 THEN 'LOW'
                 WHEN len(list_filter(['chaparral','timber','grass'], t -> contains(lower(fuel), t))) > 0 THEN 'MODERATE_TO_HIGH'
                 ELSE 'MODERATE' END AS fire_risk
            FROM (VALUES (1, 'Developed-Roads', 'Urban'),
                         (2, 'Montane Sagebrush Steppe', 'Timber-Understory'),
                         (3, 'Creosotebush Desert Scrub', 'Short Grass'),
                         (4, 'Open Water', 'Chaparral'),
                         (5, NULL, 'Timber Litter'),
                         (6, 'Mixed Conifer Forest', 'Brush')) AS t(id, veg, fuel)""")
  )

  /** X15/X16/X17/X26 — date/time functions over orders: ISO formatting,
    * date_sub arithmetic, AYYYYDDD encode, epoch milliseconds. */
  val xDates = Q(
    "x_date_functions",
    "Timestamp surface: ISO-8601 format, date_sub(90), MODIS AYYYYDDD encode, epoch-millis extraction — all codegen built-ins.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.orders
        .filter(col("o_orderkey") <= 50)
        .select(
          col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd'T'HH:mm:ss").as("iso_ts"),
          date_sub(col("o_orderdate").cast("date"), 90).cast("string").as("minus_90d"),
          concat(lit("A"), year(col("o_orderdate")),
            lpad(date_format(col("o_orderdate"), "D"), 3, "0")).as("modis_date"),
          // parquet ts is NTZ; session tz is UTC so the cast is identity
          unix_millis(col("o_orderdate").cast("timestamp")).as("epoch_ms")
        )
    },
    Some("""SELECT o_orderkey,
            strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S') AS iso_ts,
            strftime(o_orderdate - INTERVAL 90 DAY, '%Y-%m-%d') AS minus_90d,
            concat('A', CAST(year(o_orderdate) AS VARCHAR), strftime(o_orderdate, '%j')) AS modis_date,
            epoch_ms(o_orderdate) AS epoch_ms
            FROM orders WHERE o_orderkey <= 50""")
  )

  /** X18/X19/X20/X21/X3/X4 — misc scalar surface: coalesce-defaulted
    * precipitation sum, layer-name split, regex match, case-insensitive
    * contains, meters→degrees, bbox string assembly. */
  val xMisc = Q(
    "x_misc_scalars",
    "coalesce(x,0)+coalesce(y,0) precip sum; split()[1] layer extraction; rlike; lower+contains; buffer/111000 deg conversion; concat_ws bbox.",
    (s, _) => {
      import s.implicits._
      Seq(
        (1, Some(1.5), None: Option[Double], "us_210__LC22_F40_220", "fire-2024_a", 1000.0, 34.05, -118.24),
        (2, None: Option[Double], Some(0.3), "us_230__LC23_EVC_240", "evt;bad", 50000.0, 44.6, -110.5),
        (3, Some(0.0), Some(2.2), "plain_name", "SELECT_ID", 100.0, 36.5, -117.0)
      ).toDF("id", "rain_3h", "snow_3h", "layer", "event_id", "buffer_m", "lat", "lon")
        .withColumn("precip_mm", coalesce(col("rain_3h"), lit(0.0)) + coalesce(col("snow_3h"), lit(0.0)))
        .withColumn("layer_code",
          when(size(split(col("layer"), "__")) > 1, element_at(split(col("layer"), "__"), 2)))
        .withColumn("id_format_ok", col("event_id").rlike("^[a-zA-Z0-9_-]+$"))
        .withColumn("has_select", contains(lower(col("event_id")), lit("select")))
        .withColumn("buffer_deg", round(col("buffer_m") / 111000.0, 8))
        .withColumn("bbox", concat_ws(",",
          round(col("lon") - col("buffer_m") / 111000.0, 6),
          round(col("lat") - col("buffer_m") / 111000.0, 6),
          round(col("lon") + col("buffer_m") / 111000.0, 6),
          round(col("lat") + col("buffer_m") / 111000.0, 6)))
        .select("id", "precip_mm", "layer_code", "id_format_ok", "has_select", "buffer_deg", "bbox")
    },
    Some("""SELECT id,
            coalesce(rain_3h, 0.0) + coalesce(snow_3h, 0.0) AS precip_mm,
            CASE WHEN len(string_split(layer, '__')) > 1 THEN string_split(layer, '__')[2] END AS layer_code,
            regexp_matches(event_id, '^[a-zA-Z0-9_-]+$') AS id_format_ok,
            contains(lower(event_id), 'select') AS has_select,
            round(buffer_m / 111000.0, 8) AS buffer_deg,
            concat_ws(',', CAST(round(lon - buffer_m / 111000.0, 6) AS VARCHAR),
                           CAST(round(lat - buffer_m / 111000.0, 6) AS VARCHAR),
                           CAST(round(lon + buffer_m / 111000.0, 6) AS VARCHAR),
                           CAST(round(lat + buffer_m / 111000.0, 6) AS VARCHAR)) AS bbox
            FROM (VALUES (1, 1.5, NULL, 'us_210__LC22_F40_220', 'fire-2024_a', 1000.0, 34.05, -118.24),
                         (2, NULL, 0.3, 'us_230__LC23_EVC_240', 'evt;bad', 50000.0, 44.6, -110.5),
                         (3, 0.0, 2.2, 'plain_name', 'SELECT_ID', 100.0, 36.5, -117.0))
                 AS t(id, rain_3h, snow_3h, layer, event_id, buffer_m, lat, lon)""")
  )

  /** X5 — Web-Mercator projection (topography_container.py:78-89) as a
    * closed-form expression; X22 — request-id generation, made
    * deterministic (md5 of the key) so the oracle can reproduce it — the
    * reference's uuid4 is nondeterministic by design. */
  val xGeo = Q(
    "x_mercator_reqid",
    "EPSG:4326→3857 closed-form projection (x=lon·R·π/180, y=R·ln(tan(π/4+lat·π/360))) + deterministic md5-based request ids.",
    (s, _) => {
      import s.implicits._
      val R = 6378137.0
      Seq((1, 34.0522, -118.2437), (2, 44.6, -110.5), (3, 36.5, -117.0), (4, 47.5086, -122.3551))
        .toDF("id", "lat", "lon")
        .withColumn("mercator_x", round(col("lon") * R * math.Pi / 180.0, 4))
        .withColumn("mercator_y",
          round(log(tan(lit(math.Pi / 4.0) + col("lat") * math.Pi / 360.0)) * R, 4))
        .withColumn("request_id", concat(lit("req_"), substring(md5(col("id").cast("string")), 1, 12)))
        .select("id", "mercator_x", "mercator_y", "request_id")
    },
    Some("""SELECT id,
            round(lon * 6378137.0 * pi() / 180.0, 4) AS mercator_x,
            round(ln(tan(pi() / 4.0 + lat * pi() / 360.0)) * 6378137.0, 4) AS mercator_y,
            concat('req_', substring(md5(CAST(id AS VARCHAR)), 1, 12)) AS request_id
            FROM (VALUES (1, 34.0522, -118.2437), (2, 44.6, -110.5), (3, 36.5, -117.0), (4, 47.5086, -122.3551))
                 AS t(id, lat, lon)""")
  )

  /** X24 — JSON access over `events.props` (the reference parses JSON
    * payloads everywhere, e.g. weather_container.py:146-165). */
  val x24 = Q(
    "x24_json_access",
    "get_json_object over the props JSON column → typed cast → grouped stats; pushdown-friendly (scan reads only props + event_type).",
    (s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
        .groupBy(col("event_type"))
        .agg(
          count(col("k")).as("n_with_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          round(avg(col("k")), 4).as("avg_k")
        )
    },
    Some("""SELECT event_type,
            count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
            min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
            max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
            round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
            FROM events GROUP BY event_type""")
  )

  /** A9/X27 — quality scoring + error-message assembly
    * (landfire_container.py:390, :233-235): score 1.0/0.8/0.0 by error
    * count, formatted error strings accumulated into arrays. */
  val a9 = Q(
    "a9_quality_score",
    "Quality score when-chain (no errors→1.0, some→0.8, all-failed→0.0) + format_string error message assembly.",
    (s, _) => {
      import s.implicits._
      Seq((1, 0, 6), (2, 2, 6), (3, 6, 6), (4, 1, 9))
        .toDF("id", "n_errors", "n_products")
        .withColumn("quality_score",
          when(col("n_errors") === 0, 1.0)
            .when(col("n_errors") < col("n_products"), 0.8)
            .otherwise(0.0))
        .withColumn("error_msg",
          when(col("n_errors") > 0,
            format_string("Failed to fetch %d of %d products", col("n_errors"), col("n_products"))))
        .select("id", "quality_score", "error_msg")
    },
    Some("""SELECT id,
            CAST(CASE WHEN n_errors = 0 THEN 1.0 WHEN n_errors < n_products THEN 0.8 ELSE 0.0 END AS DOUBLE) AS quality_score,
            CASE WHEN n_errors > 0 THEN printf('Failed to fetch %d of %d products', n_errors, n_products) END AS error_msg
            FROM (VALUES (1, 0, 6), (2, 2, 6), (3, 6, 6), (4, 1, 9)) AS t(id, n_errors, n_products)""")
  )

  /** X25 — map construction (landfire_container.py:439-449): per-key maps
    * assembled with map_from_entries over a SORTED collect_list (collect
    * order is nondeterministic under parallelism — sorting first is the
    * only way a map column is reproducible). The map is serialized to a
    * canonical k=v string because the oracle comparator can't hash native
    * map cells. */
  val x25 = Q(
    "x25_map_construction",
    "map_from_entries(sort_array(collect_list(struct(k,v)))) per group, serialized canonically; DuckDB mirrors with ordered string_agg.",
    (s, dir) => {
      val t = Tables(s, dir)
      t.events
        .groupBy(col("user_id"), col("event_type"))
        .agg(round(sum(col("value")), 2).as("v"))
        .groupBy(col("user_id"))
        .agg(map_from_entries(sort_array(collect_list(struct(col("event_type"), col("v"))))).as("m"))
        .select(
          col("user_id"),
          size(col("m")).as("n_keys"),
          concat_ws(",", transform(map_entries(col("m")),
            e => concat(e.getField("key"), lit("="), e.getField("value")))).as("kv"))
    },
    Some("""WITH g AS (
              SELECT user_id, event_type, round(sum(value), 2) AS v
              FROM events GROUP BY user_id, event_type)
            SELECT user_id, count(*) AS n_keys,
              string_agg(event_type || '=' || CAST(v AS VARCHAR), ',' ORDER BY event_type) AS kv
            FROM g GROUP BY user_id""")
  )

  /** Higher-order/array surface completeness: sort, slice, flatten,
    * position, zip, sequence, filter/transform/aggregate — the array
    * toolkit the MODIS/forecast payloads lean on (all codegen'd
    * built-ins, mirrored by DuckDB list functions). */
  val xArrays = Q(
    "x_array_functions",
    "Array toolkit: sort/slice/flatten/position/zip_with/sequence/filter/aggregate over inline vectors.",
    (s, _) => {
      import s.implicits._
      Seq(
        (1, Seq(3.0, 1.0, 2.0), Seq(10.0, 20.0, 30.0)),
        (2, Seq(5.0, 4.0), Seq(1.0, 2.0)),
        (3, Seq.empty[Double], Seq(7.0))
      ).toDF("id", "a", "b")
        .select(
          col("id"),
          concat_ws(",", sort_array(col("a"))).as("sorted_a"),
          concat_ws(",", slice(sort_array(col("a"), asc = false), 1, 2)).as("top2_desc"),
          size(flatten(array(col("a"), col("b")))).as("n_flat"),
          array_position(col("b"), 20.0).as("pos_20"),
          round(aggregate(zip_with(col("a"), col("a"), (x, y) => x * y),
            lit(0.0), (acc, x) => acc + x), 4).as("sum_sq"),
          concat_ws(",", expr("sequence(1, size(b))")).as("idx_seq"),
          size(filter(col("a"), x => x > 1.5)).as("n_gt"))
    },
    Some("""SELECT id,
            coalesce(list_aggregate(list_sort(a), 'string_agg', ','), '') AS sorted_a,
            coalesce(list_aggregate(list_reverse_sort(a)[1:2], 'string_agg', ','), '') AS top2_desc,
            len(flatten([a, b])) AS n_flat,
            CAST(coalesce(list_position(b, 20.0), 0) AS BIGINT) AS pos_20,
            round(list_reduce(list_prepend(0.0, list_transform(a, x -> x * x)), (x, y) -> x + y), 4) AS sum_sq,
            list_aggregate(generate_series(1, len(b)), 'string_agg', ',') AS idx_seq,
            len(list_filter(a, x -> x > 1.5)) AS n_gt
            FROM (VALUES (1, [3.0, 1.0, 2.0], [10.0, 20.0, 30.0]),
                         (2, [5.0, 4.0], [1.0, 2.0]),
                         (3, CAST([] AS DOUBLE[]), [7.0])) AS t(id, a, b)""")
  )

  /** X24 depth — Spark 4 VariantType: `parse_json` once into the binary
    * variant encoding, then typed `variant_get` path extraction. At scale
    * this beats per-access `get_json_object` (which re-parses the string
    * per call): the variant is parsed once per row and every path access
    * is a cheap binary probe. Same aggregate contract as x24 so the
    * oracle is shared shape. */
  val x24Variant = Q(
    "x24_variant_access",
    "parse_json -> VariantType -> typed variant_get path extraction; parse once per row, probe per access (vs get_json_object re-parsing).",
    (s, dir) => {
      val t = Tables(s, dir)
      t.events
        .withColumn("v", parse_json(col("props")))
        .withColumn("k", try_variant_get(col("v"), "$.k", "int"))
        .groupBy(col("event_type"))
        .agg(
          count(col("k")).as("n_with_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          round(avg(col("k")), 4).as("avg_k")
        )
    },
    Some("""SELECT event_type,
            count(CAST(json_extract_string(props, '$.k') AS INT)) AS n_with_k,
            min(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
            max(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k,
            round(avg(CAST(json_extract_string(props, '$.k') AS INT)), 4) AS avg_k
            FROM events GROUP BY event_type""")
  )

  def all: Seq[Q] = Seq(x9, x10, x12, x11, xDates, xMisc, xGeo, x24, x24Variant, x25, xArrays, a9)
}
