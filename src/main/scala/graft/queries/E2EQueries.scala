package graft.queries

import graft.ops.{CollectFull, CollectPipeline}
import org.apache.spark.sql.functions._

/** SURVEY.md §3.1 — the /collect entry point end-to-end over the four
  * golden coordinates (README.md:262-266 of the reference) plus invalid
  * requests, through [[graft.ops.CollectPipeline]]. The oracle mirrors
  * the entire pipeline — validation, deterministic enrichment kernels,
  * classification chains, the reference's per-source merge, summary —
  * in one SQL statement, so the full composition is hash-pinned, not
  * just the parts.
  */
object E2EQueries {

  val collect = Q(
    "e2e_collect",
    "Full /collect composition: validate -> row-local 4-source classify -> decode + summary, golden coordinates + rejects.",
    (s, _) => {
      import s.implicits._
      val requests = Seq(
        ("req_la", 34.0522, -118.2437, 1000.0, Some("fire_2024-001")),
        ("req_yellowstone", 44.6, -110.5, 5000.0, None: Option[String]),
        ("req_death_valley", 36.5, -117.0, 1000.0, Some("dv_survey_01")),
        ("req_seattle", 47.5086, -122.3551, 2000.0, Some("sea-042")),
        ("req_london", 51.5074, -0.1278, 1000.0, None: Option[String]),  // outside US → rejected
        ("req_bad_lat", 91.0, 10.0, 1000.0, None: Option[String]),       // bounds → rejected
        ("req_bad_buffer", 36.5, -117.0, 99.0, None: Option[String])     // buffer → rejected
      ).toDF("request_id", "lat", "lon", "buffer_m", "event_id")
      CollectPipeline.run(requests)
    },
    Some("""WITH req(request_id, lat, lon, buffer_m, event_id) AS (VALUES
              ('req_la', 34.0522, -118.2437, 1000.0, 'fire_2024-001'),
              ('req_yellowstone', 44.6, -110.5, 5000.0, NULL),
              ('req_death_valley', 36.5, -117.0, 1000.0, 'dv_survey_01'),
              ('req_seattle', 47.5086, -122.3551, 2000.0, 'sea-042'),
              ('req_london', 51.5074, -0.1278, 1000.0, NULL),
              ('req_bad_lat', 91.0, 10.0, 1000.0, NULL),
              ('req_bad_buffer', 36.5, -117.0, 99.0, NULL)),
            valid AS (
              SELECT request_id, CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon FROM req
              WHERE (lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180 AND NOT (lat = 0 AND lon = 0))
                AND ((lat BETWEEN 24.5 AND 49.5 AND lon BETWEEN -125 AND -67)
                  OR (lat BETWEEN 54 AND 71.5 AND (lon BETWEEN -180 AND -130 OR lon BETWEEN 170 AND 180))
                  OR (lat BETWEEN 18 AND 29 AND lon BETWEEN -178 AND -154))
                AND buffer_m BETWEEN 100 AND 50000
                AND (event_id IS NULL OR (length(event_id) BETWEEN 3 AND 100
                                          AND regexp_matches(event_id, '^[a-zA-Z0-9_-]+$')))
            ), k AS (
              SELECT request_id,
                ((lat * 7 + lon * 3) % 20 + 20) % 20 + 15.0 AS w_temp_raw,
                CAST(((floor(lat * 11 + lon * 5) % 80) + 80) % 80 AS INT) + 10 AS w_hum,
                ((lon * 13) % 18 + 18) % 18 AS w_wind_raw,
                CAST(((floor(lat * 100 + lon * 50) % 9000) + 9000) % 9000 AS INT) AS ndvi_raw,
                CAST(((floor(lat * 37 + lon * 17) % 10) + 10) % 10 * 1000 + 2500 AS INT) AS pixel,
                ((lat * 19 - lon * 7) % 150 + 150) % 150 AS elev_raw
              FROM valid
            ), tall AS (
              SELECT request_id, 'weather' AS source,
                CASE WHEN (CASE WHEN round(w_temp_raw, 2) > 30 THEN 3 WHEN round(w_temp_raw, 2) > 25 THEN 2 WHEN round(w_temp_raw, 2) > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN round(w_wind_raw, 2) > 15 THEN 3 WHEN round(w_wind_raw, 2) > 10 THEN 2 WHEN round(w_wind_raw, 2) > 5 THEN 1 ELSE 0 END) >= 7 THEN 'EXTREME'
                     WHEN (CASE WHEN round(w_temp_raw, 2) > 30 THEN 3 WHEN round(w_temp_raw, 2) > 25 THEN 2 WHEN round(w_temp_raw, 2) > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN round(w_wind_raw, 2) > 15 THEN 3 WHEN round(w_wind_raw, 2) > 10 THEN 2 WHEN round(w_wind_raw, 2) > 5 THEN 1 ELSE 0 END) >= 5 THEN 'HIGH'
                     WHEN (CASE WHEN round(w_temp_raw, 2) > 30 THEN 3 WHEN round(w_temp_raw, 2) > 25 THEN 2 WHEN round(w_temp_raw, 2) > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN round(w_wind_raw, 2) > 15 THEN 3 WHEN round(w_wind_raw, 2) > 10 THEN 2 WHEN round(w_wind_raw, 2) > 5 THEN 1 ELSE 0 END) >= 3 THEN 'MODERATE'
                     ELSE 'LOW' END AS risk
              FROM k
              UNION ALL
              SELECT request_id, 'modis',
                CASE WHEN ndvi_raw * 0.0001 > 0.6 THEN 'LOW' WHEN ndvi_raw * 0.0001 > 0.3 THEN 'MODERATE'
                     WHEN ndvi_raw * 0.0001 > 0.1 THEN 'HIGH' ELSE 'EXTREME' END
              FROM k
              UNION ALL
              SELECT request_id, 'landfire',
                CASE WHEN pixel >= 7000 AND pixel < 8000 THEN 'LOW'
                     WHEN pixel >= 3000 AND pixel < 4000 THEN 'MODERATE_TO_HIGH'
                     WHEN pixel >= 2000 AND pixel < 3000 THEN 'MODERATE_TO_HIGH'
                     ELSE 'MODERATE' END
              FROM k
              UNION ALL
              SELECT request_id, 'topography',
                CASE WHEN round(elev_raw, 2) > 100 THEN 'HIGH' WHEN round(elev_raw, 2) > 50 THEN 'MODERATE' ELSE 'LOW' END
              FROM k
            )
            SELECT request_id,
              max(CASE WHEN source = 'landfire' THEN risk END) AS landfire,
              max(CASE WHEN source = 'modis' THEN risk END) AS modis,
              max(CASE WHEN source = 'weather' THEN risk END) AS weather,
              max(CASE WHEN source = 'topography' THEN risk END) AS topography,
              count(*) AS sources_successful,
              count(CASE WHEN risk IN ('HIGH', 'EXTREME') THEN 1 END) AS n_high_risk
            FROM tall GROUP BY request_id""")
  )

  /** SURVEY §3.1 depth — the full-fidelity /collect: real operator
    * chains (TIFF decode point lookup, broadcast CSV attribute table,
    * MODIS last-valid argmax, X9 weather risk, masked elevation stats)
    * over staged fixture files, emitting nested ContainerOutput structs
    * (shared_schema.py:97-132) pivoted into AggregatedResponse rows
    * (shared_schema.py:135-191). The oracle independently re-reads the
    * SAME fixture files (read_csv/read_json) and re-derives raster
    * pixels from their generating formulas (it cannot decode TIFF —
    * encode/decode fidelity is pinned separately by d1_tiff_decode),
    * so every nested field is hash-compared, golden classifications
    * (README.md:262-266) included. A fifth, off-grid request exercises
    * the error paths: out-of-bounds pixel lookup (null landfire
    * interpretation, UNKNOWN risk) and a missing MODIS container
    * (error envelope with quality 0.0 + the orchestrator's failure
    * accounting in summary).
    */
  val collectFull = Q(
    "e2e_collect_full",
    "Full-fidelity /collect: 4 container pipelines as real operators over staged fixtures -> nested ContainerOutput envelopes -> AggregatedResponse rows.",
    (s, _) => {
      // Nested envelopes serialized to canonical JSON at the verify
      // boundary: the driver's comparator sorts raw pandas values and
      // cannot hash struct cells (round-5 `err`). ignoreNullFields=false
      // keeps null fields present, matching DuckDB's to_json. The native
      // nested shape stays pinned by CollectFullSpec.
      val j = Map("ignoreNullFields" -> "false")
      CollectFull.run(s, CollectFull.requests(s)).select(
        col("request_id"), col("event_id"),
        to_json(col("location"), j).as("location"),
        col("timestamp"),
        to_json(col("landfire"), j).as("landfire"),
        to_json(col("modis"), j).as("modis"),
        to_json(col("weather"), j).as("weather"),
        to_json(col("topography"), j).as("topography"),
        to_json(col("summary"), j).as("summary"),
        col("total_processing_time_ms"))
    },
    Some("""WITH sites(site, site_name, lat, lon, buffer_m, event_id, k, veg_code, fuel_code, elev_base, elev_amp) AS (VALUES
    ('req_la', 'Los Angeles', CAST(34.0522 AS DOUBLE), CAST(-118.2437 AS DOUBLE), 1000, 'fire_2024-001', 0, 7299, 93, 50, 40),
    ('req_yellowstone', 'Yellowstone', CAST(44.6 AS DOUBLE), CAST(-110.5 AS DOUBLE), 5000, NULL, 1, 3215, 122, 2200, 160),
    ('req_death_valley', 'Death Valley', CAST(36.5 AS DOUBLE), CAST(-117.0 AS DOUBLE), 1000, 'dv_survey_01', 2, 2092, 145, -80, 90),
    ('req_seattle', 'Seattle', CAST(47.5086 AS DOUBLE), CAST(-122.3551 AS DOUBLE), 2000, 'sea-042', 3, 7292, 95, 30, 120),
    ('req_mono', 'Monowi', CAST(40.0 AS DOUBLE), CAST(-115.0 AS DOUBLE), 1000, NULL, 4, 0, 0, 0, 40)),
idx AS (SELECT * FROM read_csv('/root/repo/target/graft_fixtures/text/rasters_index.csv', header=true)),
attr AS (SELECT * FROM read_csv('/root/repo/target/graft_fixtures/text/landfire_attributes.csv', header=true)),
tr AS (SELECT site, CAST(x0 AS DOUBLE) AS x0, CAST(dx AS DOUBLE) AS dx, CAST(y0 AS DOUBLE) AS y0, CAST(dy AS DOUBLE) AS dy
       FROM idx WHERE product = 'elevation'),
pt AS (SELECT s.*, CAST(floor((lat - y0) / dy) AS INT) AS px_row, CAST(floor((lon - x0) / dx) AS INT) AS px_col
       FROM sites s JOIN tr USING (site)),
lf_px AS (SELECT pt.*,
    CASE WHEN px_row BETWEEN 0 AND 15 AND px_col BETWEEN 0 AND 15 THEN
      CASE WHEN px_row = 8 AND px_col = 8 THEN veg_code ELSE 2000 + ((px_row*31 + px_col*17 + k*7) % 97) END
    END AS veg_px,
    CASE WHEN px_row BETWEEN 0 AND 15 AND px_col BETWEEN 0 AND 15 THEN
      CASE WHEN px_row = 8 AND px_col = 8 THEN fuel_code ELSE 90 + ((px_row*29 + px_col*19 + k*11) % 60) END
    END AS fuel_px
    FROM pt),
lf AS (SELECT p.site,
    coalesce(av.classname,
      CASE WHEN veg_px >= 7000 AND veg_px < 8000 THEN 'Urban/Developed'
           WHEN veg_px >= 6000 AND veg_px < 7000 THEN 'Agriculture/Cropland'
           WHEN veg_px >= 3000 AND veg_px < 4000 THEN 'Forest'
           WHEN veg_px >= 2000 AND veg_px < 3000 THEN 'Grassland'
           WHEN veg_px >= 4000 AND veg_px < 5000 THEN 'Shrubland' END,
      CASE WHEN veg_px IS NOT NULL THEN concat('Unknown (', CAST(veg_px AS VARCHAR), ')') END) AS vegetation_class,
    CAST(veg_px AS INT) AS vegetation_pixel_value,
    coalesce(af.classname,
      CASE WHEN fuel_px >= 90 AND fuel_px < 100 THEN 'Non-burnable'
           WHEN fuel_px >= 100 AND fuel_px < 110 THEN 'Grass'
           WHEN fuel_px >= 110 AND fuel_px < 130 THEN 'Timber'
           WHEN fuel_px >= 140 AND fuel_px < 150 THEN 'Shrub' END,
      CASE WHEN fuel_px IS NOT NULL THEN concat('Unknown (', CAST(fuel_px AS VARCHAR), ')') END) AS fuel_model_class,
    CAST(fuel_px AS INT) AS fuel_model_pixel_value,
    px_row, px_col
    FROM lf_px p
    LEFT JOIN attr av ON av.product = 'vegetation_type' AND av.value = p.veg_px
    LEFT JOIN attr af ON af.product = 'fuel_model' AND af.value = p.fuel_px),
lf2 AS (SELECT *,
    CASE WHEN vegetation_class IS NULL OR fuel_model_class IS NULL THEN 'UNKNOWN'
         WHEN regexp_matches(lower(vegetation_class), 'developed|urban|water') THEN 'LOW'
         WHEN regexp_matches(lower(fuel_model_class), 'chaparral|timber|grass') THEN 'MODERATE_TO_HIGH'
         ELSE 'MODERATE' END AS lf_risk
    FROM lf),
cells AS (SELECT s.site, s.k, s.elev_base, s.elev_amp, r, c
          FROM sites s, generate_series(0, 15) rs(r), generate_series(0, 15) cs(c)),
ev AS (SELECT site, CAST(elev_base + ((r*37 + c*23 + k*13) % elev_amp) AS DOUBLE) AS elev
       FROM cells WHERE ((r + k) * (c + 2*k + 3)) % 19 <> 0),
topo AS (SELECT site,
    count(*) AS pixel_count,
    min(elev) AS min_elevation_m,
    max(elev) AS max_elevation_m,
    sum(elev) / count(*) AS mean_elevation_m,
    sqrt(sum(elev*elev) / count(*) - (sum(elev)/count(*)) * (sum(elev)/count(*))) AS std_elevation_m,
    max(elev) - min(elev) AS elevation_range_m
    FROM ev GROUP BY site),
topo2 AS (SELECT *,
    CASE WHEN elevation_range_m > 100 THEN 'HIGH'
         WHEN elevation_range_m > 50 THEN 'MODERATE'
         ELSE 'LOW' END AS terrain_roughness
    FROM topo),
ms AS (SELECT * FROM read_json('/root/repo/target/graft_fixtures/text/modis_subset.jsonl',
         format='newline_delimited',
         columns={site: 'VARCHAR', product: 'VARCHAR', band: 'VARCHAR', calendar_date: 'VARCHAR', data: 'INTEGER[]'})),
msc AS (SELECT *, len(data) AS n_px,
        CASE WHEN len(data) > 0 THEN data[len(data) // 2 + 1] END AS center FROM ms),
nd AS (SELECT site, calendar_date, CAST(center AS DOUBLE) * CAST(0.0001 AS DOUBLE) AS scaled
       FROM msc WHERE band = '250m_16_days_NDVI' AND n_px > 0),
ndv AS (SELECT site, max_by(scaled, calendar_date) AS ndvi_latest, max(calendar_date) AS last_observation_date
        FROM nd WHERE scaled BETWEEN CAST(-1.0 AS DOUBLE) AND CAST(1.0 AS DOUBLE) GROUP BY site),
lstv AS (SELECT site, min_by(temp_c, calendar_date) AS land_surface_temperature_c
         FROM (SELECT site, calendar_date, CAST(center AS DOUBLE) * CAST(0.02 AS DOUBLE) - CAST(273.15 AS DOUBLE) AS temp_c
               FROM msc WHERE band = 'LST_Day_1km' AND n_px > 0) t
         WHERE temp_c BETWEEN CAST(-50.0 AS DOUBLE) AND CAST(60.0 AS DOUBLE) GROUP BY site),
mcnt AS (SELECT site, CAST(count(*) AS BIGINT) AS n_subset_entries FROM ms GROUP BY site),
md AS (SELECT ndv.site, ndvi_latest, last_observation_date, land_surface_temperature_c, n_subset_entries,
    CASE WHEN ndvi_latest > 0.6 THEN 'HEALTHY' WHEN ndvi_latest > 0.3 THEN 'MODERATE'
         WHEN ndvi_latest > 0.1 THEN 'STRESSED' ELSE 'SEVERELY_STRESSED' END AS vegetation_health,
    CASE WHEN ndvi_latest > 0.6 THEN 'LOW' WHEN ndvi_latest > 0.3 THEN 'MODERATE'
         WHEN ndvi_latest > 0.1 THEN 'HIGH' ELSE 'EXTREME' END AS fire_risk_vegetation
    FROM ndv LEFT JOIN lstv ON ndv.site = lstv.site LEFT JOIN mcnt ON ndv.site = mcnt.site),
wxr AS (SELECT * FROM read_json('/root/repo/target/graft_fixtures/text/weather_current.jsonl',
         format='newline_delimited',
         columns={site: 'VARCHAR', dt: 'BIGINT',
                  main: 'STRUCT(temp DOUBLE, humidity INTEGER, pressure INTEGER)',
                  wind: 'STRUCT(speed DOUBLE, deg INTEGER)',
                  weather: 'STRUCT(main VARCHAR, description VARCHAR)[]',
                  visibility: 'INTEGER', name: 'VARCHAR',
                  forecast: 'STRUCT(dt BIGINT, main STRUCT(temp DOUBLE, humidity INTEGER, pressure INTEGER), wind STRUCT(speed DOUBLE, deg INTEGER))[]'})),
wx AS (SELECT site,
    main.temp AS temperature_celsius,
    main.humidity AS humidity_percent,
    main.pressure AS pressure_hpa,
    wind.speed AS wind_speed_mps,
    wind.deg AS wind_direction_deg,
    weather[1].main AS weather_main,
    weather[1].description AS weather_description,
    (CASE WHEN main.temp > 30 THEN 3 WHEN main.temp > 25 THEN 2 WHEN main.temp > 20 THEN 1 ELSE 0 END
     + CASE WHEN main.humidity < 20 THEN 3 WHEN main.humidity < 40 THEN 2 WHEN main.humidity < 60 THEN 1 ELSE 0 END
     + CASE WHEN wind.speed > 15 THEN 3 WHEN wind.speed > 10 THEN 2 WHEN wind.speed > 5 THEN 1 ELSE 0 END) AS score,
    CAST(len(forecast) AS INT) AS forecast_total_points,
    list_aggregate([f.main.temp FOR f IN forecast], 'max') AS forecast_max_temperature,
    list_aggregate([f.main.temp FOR f IN forecast], 'min') AS forecast_min_temperature,
    CAST(len(list_filter(forecast, f ->
      (CASE WHEN f.main.temp > 30 THEN 3 WHEN f.main.temp > 25 THEN 2 WHEN f.main.temp > 20 THEN 1 ELSE 0 END
       + CASE WHEN f.main.humidity < 20 THEN 3 WHEN f.main.humidity < 40 THEN 2 WHEN f.main.humidity < 60 THEN 1 ELSE 0 END
       + CASE WHEN f.wind.speed > 15 THEN 3 WHEN f.wind.speed > 10 THEN 2 WHEN f.wind.speed > 5 THEN 1 ELSE 0 END) >= 5)) AS INT) AS n_fire_risk_periods
    FROM wxr),
wx2 AS (SELECT *,
    CASE WHEN score >= 7 THEN 'EXTREME' WHEN score >= 5 THEN 'HIGH'
         WHEN score >= 3 THEN 'MODERATE' ELSE 'LOW' END AS fire_weather_risk
    FROM wx)
SELECT s.site AS request_id,
  s.event_id,
  CAST(to_json({'latitude': s.lat, 'longitude': s.lon, 'buffer_meters': CAST(s.buffer_m AS INT), 'coordinate_system': 'EPSG:4326'}) AS VARCHAR) AS location,
  '2024-06-01T12:00:00' AS timestamp,
  CAST(to_json({'event_id': s.event_id, 'source': 'LANDFIRE', 'data_type': 'landfire_vegetation',
   'location': {'latitude': s.lat, 'longitude': s.lon, 'buffer_meters': CAST(s.buffer_m AS INT), 'coordinate_system': 'EPSG:4326'},
   'timestamp': '2024-06-01T12:00:00',
   'interpreted_data': {
      'coordinate_specific': {'vegetation_class': l.vegetation_class, 'vegetation_pixel_value': l.vegetation_pixel_value,
                              'fuel_model_class': l.fuel_model_class, 'fuel_model_pixel_value': l.fuel_model_pixel_value,
                              'px_row': l.px_row, 'px_col': l.px_col},
      'area_summary': {'interpreted_products': 'vegetation_type,fuel_model',
                       'vegetation_interpreted': l.vegetation_class, 'fuel_model_interpreted': l.fuel_model_class},
      'risk_assessment': l.lf_risk},
   'metadata': {'processing_time_ms': 0, 'data_currency': '2024-01-01T00:00:00Z', 'retrieved_at': '2024-06-01T12:00:00',
                'quality_score': CAST(1.0 AS DOUBLE), 'container_id': 'landfire-container-0', 'container_version': '1.0.0'},
   'n_errors': 0, 'n_warnings': 0}) AS VARCHAR) AS landfire,
  CAST(to_json({'event_id': s.event_id, 'source': 'MODIS_ORNL', 'data_type': 'modis_vegetation_indices',
   'location': {'latitude': s.lat, 'longitude': s.lon, 'buffer_meters': CAST(s.buffer_m AS INT), 'coordinate_system': 'EPSG:4326'},
   'timestamp': '2024-06-01T12:00:00',
   'interpreted_data': CASE WHEN m.site IS NOT NULL THEN {
      'coordinate_specific': {'ndvi_latest': m.ndvi_latest, 'evi_latest': CAST(NULL AS DOUBLE),
                              'vegetation_health': m.vegetation_health, 'fire_risk_vegetation': m.fire_risk_vegetation,
                              'last_observation_date': m.last_observation_date,
                              'land_surface_temperature_c': m.land_surface_temperature_c},
      'area_summary': {'products_processed': 'MOD13Q1,MOD11A2', 'n_subset_entries': m.n_subset_entries},
      'risk_assessment': m.fire_risk_vegetation} END,
   'metadata': {'processing_time_ms': 0, 'data_currency': '2024-06-01T12:00:00', 'retrieved_at': '2024-06-01T12:00:00',
                'quality_score': CAST(CASE WHEN m.site IS NOT NULL THEN 1.0 ELSE 0.0 END AS DOUBLE),
                'container_id': 'modis-container-0', 'container_version': '1.0.0'},
   'n_errors': CASE WHEN m.site IS NOT NULL THEN 0 ELSE 1 END, 'n_warnings': 0}) AS VARCHAR) AS modis,
  CAST(to_json({'event_id': s.event_id, 'source': 'OpenWeatherMap', 'data_type': 'weather_current',
   'location': {'latitude': s.lat, 'longitude': s.lon, 'buffer_meters': CAST(s.buffer_m AS INT), 'coordinate_system': 'EPSG:4326'},
   'timestamp': '2024-06-01T12:00:00',
   'interpreted_data': {
      'coordinate_specific': {'temperature_celsius': w.temperature_celsius, 'humidity_percent': w.humidity_percent,
                              'wind_speed_mps': w.wind_speed_mps, 'fire_weather_risk': w.fire_weather_risk,
                              'weather_main': w.weather_main, 'weather_description': w.weather_description},
      'area_summary': {'forecast_total_points': w.forecast_total_points,
                       'forecast_max_temperature': w.forecast_max_temperature,
                       'forecast_min_temperature': w.forecast_min_temperature,
                       'n_fire_risk_periods': w.n_fire_risk_periods},
      'risk_assessment': w.fire_weather_risk},
   'metadata': {'processing_time_ms': 0, 'data_currency': '2024-06-01T12:00:00', 'retrieved_at': '2024-06-01T12:00:00',
                'quality_score': CAST(1.0 AS DOUBLE), 'container_id': 'weather-container-0', 'container_version': '1.0.0'},
   'n_errors': 0, 'n_warnings': 0}) AS VARCHAR) AS weather,
  CAST(to_json({'event_id': s.event_id, 'source': 'USGS_3DEP', 'data_type': 'topography_dem',
   'location': {'latitude': s.lat, 'longitude': s.lon, 'buffer_meters': CAST(s.buffer_m AS INT), 'coordinate_system': 'EPSG:4326'},
   'timestamp': '2024-06-01T12:00:00',
   'interpreted_data': {
      'coordinate_specific': {'elevation_m': t.mean_elevation_m, 'terrain_classification': t.terrain_roughness,
                              'fire_risk_terrain': t.terrain_roughness},
      'area_summary': {'min_elevation_m': t.min_elevation_m, 'max_elevation_m': t.max_elevation_m,
                       'mean_elevation_m': t.mean_elevation_m, 'std_elevation_m': t.std_elevation_m,
                       'elevation_range_m': t.elevation_range_m, 'terrain_roughness': t.terrain_roughness,
                       'pixel_count': t.pixel_count},
      'risk_assessment': t.terrain_roughness},
   'metadata': {'processing_time_ms': 0, 'data_currency': '2024-06-01T12:00:00', 'retrieved_at': '2024-06-01T12:00:00',
                'quality_score': CAST(1.0 AS DOUBLE), 'container_id': 'topography-container-0', 'container_version': '1.0.0'},
   'n_errors': 0, 'n_warnings': 0}) AS VARCHAR) AS topography,
  CAST(to_json({'total_sources': 4,
   'successful_sources': (CASE WHEN l.site IS NULL THEN 0 ELSE 1 END + CASE WHEN m.site IS NULL THEN 0 ELSE 1 END
                          + CASE WHEN w.site IS NULL THEN 0 ELSE 1 END + CASE WHEN t.site IS NULL THEN 0 ELSE 1 END),
   'total_errors': (4 - (CASE WHEN l.site IS NULL THEN 0 ELSE 1 END + CASE WHEN m.site IS NULL THEN 0 ELSE 1 END
                         + CASE WHEN w.site IS NULL THEN 0 ELSE 1 END + CASE WHEN t.site IS NULL THEN 0 ELSE 1 END)),
   'success_rate': CAST(CASE WHEN l.site IS NULL THEN 0 ELSE 1 END + CASE WHEN m.site IS NULL THEN 0 ELSE 1 END
                        + CASE WHEN w.site IS NULL THEN 0 ELSE 1 END + CASE WHEN t.site IS NULL THEN 0 ELSE 1 END AS DOUBLE)
                   / CAST(4.0 AS DOUBLE)}) AS VARCHAR) AS summary,
  0 AS total_processing_time_ms
FROM sites s
LEFT JOIN lf2 l ON s.site = l.site
LEFT JOIN md m ON s.site = m.site
LEFT JOIN wx2 w ON s.site = w.site
LEFT JOIN topo2 t ON s.site = t.site""")
  )

  /** North-star composition — the LLM training-data curation pipeline as
    * ONE operator chain over the documents table: C4-style quality gate
    * (x28_filter_chain rules) → exact dedup (min-id survivor per md5
    * fingerprint) → MinHash-LSH near-dup pair graph over the SURVIVORS →
    * connected-components cluster resolution (pointer jumping) → drop
    * cluster losers → 64-byte chunking + subword token census. Emits the
    * per-source curation funnel every data pipeline dashboards.
    *
    * Every stage reuses a proven component (TextQueries rules,
    * DedupQueries.verifiedPairsOver, ops/ConnectedComponents, the m4
    * chunker, x28 token census) — what's verified HERE is their
    * composition: stage N runs on stage N-1's survivor set, not the full
    * corpus. Scale: the funnel is monotone shrinking; the only non-local
    * stages are the LSH band join (bucket-capped) and the CC rounds
    * (log-diameter), both already bounded — and the oracle recomputes
    * the whole funnel independently, components via recursive closure.
    */
  val llmPipeline = Q(
    "e2e_llm_pipeline",
    "LLM curation funnel: quality cascade -> exact dedup -> near-dup clusters over survivors -> chunk + token census, per-source.",
    (s, dir) => {
      val t = graft.Tables(s, dir)
      // widen the unsplittable corpus scan once at the top
      // (ops/ScanLayout): FOUR sequential per-row-heavy stages chain off
      // this frame through narrow deps and caches (the regex quality
      // cascade, the md5 fingerprints, the MinHash signatures of the
      // survivors, the subword-token census) — on the 1-row-group
      // fixture all of them would otherwise run single-threaded, since
      // a cache preserves the 1-partition layout
      val docs = graft.ops.ScanLayout.widenByKey(t.documents, col("doc_id"))
        .withColumn("n_tokens", size(split(col("text"), " ")))
        .withColumn("mean_word_len",
          (col("n_chars") - col("n_tokens") + 1).cast("double") / col("n_tokens"))
        .withColumn("symbol_ratio",
          size(expr("regexp_extract_all(text, '[^a-z0-9 ]', 0)")).cast("double") / col("n_chars"))
        .withColumn("has_stopword",
          arrays_overlap(split(col("text"), " "),
            array(lit("the"), lit("a"), lit("and"), lit("of"))))
      // cached: the regexp-heavy quality cascade otherwise re-runs over
      // the full corpus for both the survivor chain and the n_quality
      // census (the per-query harness clears caches between queries)
      val quality = docs.filter(
        col("n_chars").between(100, 20000) && col("mean_word_len").between(3, 10) &&
          col("symbol_ratio") < 0.1 && col("has_stopword"))
        .select("doc_id", "source", "text").cache()

      val withFp = quality.withColumn("fp", md5(col("text")))
      val keepIds = withFp.groupBy("fp").agg(min("doc_id").as("doc_id"))
        .select("doc_id")
      // consumed by the pair graph, the survivor anti-join, and the
      // funnel counts — cache once (CacheManager dedups by plan)
      val exact = withFp.join(keepIds, Seq("doc_id"), "left_semi").drop("fp").cache()

      val pairs = DedupQueries.verifiedPairsOver(exact)
        .select(col("i").as("src"), col("j").as("dst"))
      val losers = graft.ops.ConnectedComponents.resolve(pairs)
        .filter(col("node") =!= col("lbl"))
        .select(col("node").as("doc_id"))
      val fin = exact.join(losers, Seq("doc_id"), "left_anti")

      // chunk census WITHOUT the explode (r12 optimization): the old
      // form generated one row per 64-byte chunk (sequence + explode —
      // ~n_chars/64 rows) only to count them per source; the count of
      // explode(sequence(0, ceil(len/64)-1)) rows is ceil(len/64)
      // exactly (len > 0 ⇒ the sequence is non-empty), so the same
      // census is one integer sum over the survivor rows — no generated
      // rows, and one fewer aggregate+join leg since it rides the
      // existing per-source aggregate over `fin`.
      t.documents.groupBy("source").agg(count(lit(1)).as("n_input"))
        .join(quality.groupBy("source").agg(count(lit(1)).as("n_quality")), Seq("source"), "left")
        .join(exact.groupBy("source").agg(count(lit(1)).as("n_exact")), Seq("source"), "left")
        .join(fin.groupBy("source").agg(count(lit(1)).as("n_final"),
          sum(size(expr("regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\\\\s]', 0)")))
            .as("total_subword_tokens"),
          sum(when(length(col("text")) > 0,
            ceil(length(col("text")) / 64.0).cast("long")).otherwise(0L)).as("n_chunks")),
          Seq("source"), "left")
        .na.fill(0)
    },
    Some("""WITH RECURSIVE d1 AS (
              SELECT source, doc_id, text, n_chars,
                len(string_split(text, ' ')) AS n_tokens,
                CAST(n_chars - len(string_split(text, ' ')) + 1 AS DOUBLE)
                  / len(string_split(text, ' ')) AS mwl,
                CAST(len(regexp_extract_all(text, '[^a-z0-9 ]')) AS DOUBLE) / n_chars AS sr,
                len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'and', 'of'))) > 0 AS hs
              FROM documents),
            quality AS (SELECT source, doc_id, text FROM d1
              WHERE n_chars BETWEEN 100 AND 20000 AND mwl BETWEEN 3 AND 10 AND sr < 0.1 AND hs),
            minfp AS (SELECT md5(text) AS fp, min(doc_id) AS keep_id FROM quality GROUP BY 1),
            ex AS (SELECT q.* FROM quality q JOIN minfp ON md5(q.text) = minfp.fp AND q.doc_id = minfp.keep_id),
            dtk AS (SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM ex),
            hs2 AS (SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM dtk),
            sig AS (SELECT doc_id, toks,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 5*i, 5)), 'min')
                  for i in generate_series(0, 5) ] AS mh
              FROM hs2),
            all_bands AS (SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS band_key
              FROM sig, unnest(generate_series(0, 2)) AS t(b)),
            keep AS (SELECT b, band_key FROM all_bands GROUP BY b, band_key
              HAVING count(*) BETWEEN 2 AND 100),
            bands AS (SELECT all_bands.* FROM all_bands JOIN keep USING (b, band_key)),
            cand AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              FROM bands a JOIN bands b USING (b, band_key) WHERE a.doc_id < b.doc_id),
            ver AS (SELECT i, j,
                CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE) /
                (len(da.toks) + len(db.toks)
                   - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) AS jac
              FROM cand JOIN dtk da ON da.doc_id = i JOIN dtk db ON db.doc_id = j),
            p AS (SELECT i, j FROM ver WHERE jac >= 0.9),
            edges AS (SELECT i AS src, j AS dst FROM p UNION SELECT j AS src, i AS dst FROM p),
            nodes AS (SELECT DISTINCT src AS node FROM edges),
            reach AS (
              SELECT node AS src, node AS dst FROM nodes
              UNION
              SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src),
            comp AS (SELECT src AS node, min(dst) AS cluster_id FROM reach GROUP BY src),
            losers AS (SELECT node AS doc_id FROM comp WHERE node <> cluster_id),
            fin AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT doc_id FROM losers)),
            chunks AS (SELECT source, i
              FROM fin, unnest(generate_series(0, CAST(ceil(length(text)/64.0) AS INT) - 1)) AS t(i)
              WHERE length(text) > 0),
            base AS (SELECT source, count(*) AS n_input FROM documents GROUP BY 1),
            qc AS (SELECT source, count(*) AS n_quality FROM quality GROUP BY 1),
            ec AS (SELECT source, count(*) AS n_exact FROM ex GROUP BY 1),
            fc AS (SELECT source, count(*) AS n_final,
                CAST(sum(len(regexp_extract_all(lower(text), '[a-z]{1,4}|[0-9]{1,3}|[^a-z0-9\s]'))) AS BIGINT) AS total_subword_tokens
              FROM fin GROUP BY 1),
            cnt AS (SELECT source, count(*) AS n_chunks FROM chunks GROUP BY 1)
            SELECT b.source, n_input,
              coalesce(n_quality, 0) AS n_quality,
              coalesce(n_exact, 0) AS n_exact,
              coalesce(n_final, 0) AS n_final,
              coalesce(total_subword_tokens, 0) AS total_subword_tokens,
              coalesce(n_chunks, 0) AS n_chunks
            FROM base b
            LEFT JOIN qc USING (source) LEFT JOIN ec USING (source)
            LEFT JOIN fc USING (source) LEFT JOIN cnt USING (source)""")
  )

  /** North-star composition #2 — a contrastive-training pair dataset
    * built from the dedup machinery itself: the LSH candidate graph
    * scores every bucket-sharing pair with exact Jaccard; pairs at
    * >= 0.9 are the POSITIVES (same-content views), and the hardest
    * sub-threshold candidates (0.5 <= jac < 0.9 — share shingles, not
    * duplicates) are exactly the HARD NEGATIVES a contrastive loss
    * wants. One top-1 window per role per anchor, then an anchor join:
    * (anchor, positive, negative) triplets with their scores.
    *
    * Scale: everything rides the already-bounded LSH candidate set
    * (banded equi-join, MaxBucket cap) — no new quadratic stage; the
    * two windows partition by anchor. */
  val contrastivePairs = Q(
    "e2e_contrastive_pairs",
    "Contrastive triplets from dedup machinery: best near-dup (jac>=0.9) as positive + hardest non-dup LSH candidate (0.5<=jac<0.9) as negative, per anchor.",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // NOT scan-widened — same A/B verdict as a10_neardup_minhash
      val scored = DedupQueries.scoredPairsOver(graft.Tables(s, dir).documents)
      def top1(df: org.apache.spark.sql.DataFrame) = df
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("i")).orderBy(col("jac").desc, col("j").asc)))
        .filter(col("rk") === 1)
      val pos = top1(scored.filter(col("jac") >= 0.9))
        .select(col("i").as("anchor"), col("j").as("positive"),
          round(col("jac"), 6).as("pos_jac"))
      val neg = top1(scored.filter(col("jac") >= 0.5 && col("jac") < 0.9))
        .select(col("i").as("anchor"), col("j").as("negative"),
          round(col("jac"), 6).as("neg_jac"))
      pos.join(neg, "anchor")
    },
    Some("""WITH d AS (
              SELECT doc_id, list_distinct(string_split(text, ' ')) AS toks FROM documents
            ), hs AS (
              SELECT doc_id, toks, list_transform(toks, t -> md5(t)) AS hs FROM d
            ), sig AS (
              SELECT doc_id, toks,
                [ list_aggregate(list_transform(hs, h -> substring(h, 1 + 5*i, 5)), 'min')
                  for i in generate_series(0, 5) ] AS mh
              FROM hs
            ), all_bands AS (
              SELECT doc_id, b, mh[2*b+1] || mh[2*b+2] AS band_key
              FROM sig, unnest(generate_series(0, 2)) AS t(b)
            ), keep AS (
              SELECT b, band_key FROM all_bands GROUP BY b, band_key
              HAVING count(*) BETWEEN 2 AND 100
            ), bands AS (
              SELECT all_bands.* FROM all_bands JOIN keep USING (b, band_key)
            ), cand AS (
              SELECT DISTINCT a.doc_id AS i, b.doc_id AS j
              FROM bands a JOIN bands b USING (b, band_key) WHERE a.doc_id < b.doc_id
            ), ver AS (
              SELECT i, j,
                CAST(len(list_filter(da.toks, t -> list_contains(db.toks, t))) AS DOUBLE) /
                (len(da.toks) + len(db.toks)
                   - len(list_filter(da.toks, t -> list_contains(db.toks, t)))) AS jac
              FROM cand JOIN d da ON da.doc_id = i JOIN d db ON db.doc_id = j
            ), pos AS (
              SELECT i AS anchor, j AS positive, round(jac, 6) AS pos_jac
              FROM (SELECT *, row_number() OVER (PARTITION BY i ORDER BY jac DESC, j ASC) AS rk
                    FROM ver WHERE jac >= 0.9)
              WHERE rk = 1
            ), neg AS (
              SELECT i AS anchor, j AS negative, round(jac, 6) AS neg_jac
              FROM (SELECT *, row_number() OVER (PARTITION BY i ORDER BY jac DESC, j ASC) AS rk
                    FROM ver WHERE jac >= 0.5 AND jac < 0.9)
              WHERE rk = 1
            )
            SELECT pos.anchor, positive, pos_jac, negative, neg_jac
            FROM pos JOIN neg USING (anchor)""")
  )

  /** The reference's claimed (never-implemented) 1-hour request cache
    * (orchestrator.py:657; Redis provisioned but unused) as a real
    * keyed result-table lookup — SURVEY §7's "optional keyed
    * result-table lookup", the last SURVEY-named component. Three daily
    * request batches (events, keyed by user) replay through
    * [[graft.ops.ResultCache]] with a 48 h TTL; the computed "result"
    * is stamped with its compute batch (`key*10 + batch`), so a served
    * hit is *observably* the cached value — the census checksum can
    * only match if hits really bypass recompute and expiry really
    * refreshes. Batch 1 is all cold; batch 2 hits everything cached a
    * day earlier; batch 3 splits hit/expired on the exact 48 h
    * microsecond boundary against each entry's batch-1 cached_at (hits
    * never extend TTL). ResultCacheSpec proves the other half: compute
    * receives zero rows on a within-TTL replay. */
  val resultCache = Q(
    "e2e_result_cache",
    "Keyed result cache with 48h TTL over 3 daily request batches: hit/cold/expired census with compute-batch-stamped checksums.",
    (s, dir) => {
      val t = graft.Tables(s, dir)
      val reqs = t.events.select(col("user_id").cast("long").as("key"), col("ts"))
      val days = Seq("2024-01-01" -> "2024-01-02", "2024-01-02" -> "2024-01-03",
        "2024-01-03" -> "2024-01-04")
      var cache = reqs.filter(lit(false))
        .select(col("key"), (col("key") * 0).as("v"), col("ts").as("cached_at"))
      val censuses = days.zipWithIndex.map { case ((lo, hi), i) =>
        val batch = reqs.filter(col("ts") >= lit(lo).cast("timestamp") &&
          col("ts") < lit(hi).cast("timestamp"))
        val step = graft.ops.ResultCache.serve(cache, batch, ttlSeconds = 172800L,
          compute = misses => misses.withColumn("v", col("key") * 10 + (i + 1)))
        cache = step.cache
        step.served.groupBy(col("outcome"))
          .agg(count(lit(1)).as("n_keys"), sum(col("v")).as("sum_served"))
          .withColumn("batch", lit(i + 1))
      }
      censuses.reduce(_ unionByName _)
        .select(col("batch"), col("outcome"), col("n_keys"), col("sum_served"))
    },
    Some("""WITH r1 AS (
              SELECT CAST(user_id AS BIGINT) AS key, min(ts) AS rts FROM events
              WHERE ts >= TIMESTAMP '2024-01-01' AND ts < TIMESTAMP '2024-01-02' GROUP BY 1
            ), s1 AS (
              SELECT key, rts, 'cold' AS outcome, key * 10 + 1 AS v, rts AS cached_at FROM r1
            ), c1 AS (
              SELECT key, v, cached_at FROM s1
            ), r2 AS (
              SELECT CAST(user_id AS BIGINT) AS key, min(ts) AS rts FROM events
              WHERE ts >= TIMESTAMP '2024-01-02' AND ts < TIMESTAMP '2024-01-03' GROUP BY 1
            ), s2 AS (
              SELECT r.key, r.rts,
                CASE WHEN c.cached_at IS NOT NULL
                          AND epoch_us(r.rts) - epoch_us(c.cached_at) <= 172800000000 THEN 'hit'
                     WHEN c.cached_at IS NOT NULL THEN 'expired' ELSE 'cold' END AS outcome,
                CASE WHEN c.cached_at IS NOT NULL
                          AND epoch_us(r.rts) - epoch_us(c.cached_at) <= 172800000000 THEN c.v
                     ELSE r.key * 10 + 2 END AS v,
                CASE WHEN c.cached_at IS NOT NULL
                          AND epoch_us(r.rts) - epoch_us(c.cached_at) <= 172800000000 THEN c.cached_at
                     ELSE r.rts END AS cached_at
              FROM r2 r LEFT JOIN c1 c USING (key)
            ), c2 AS (
              SELECT key, v, cached_at FROM s2
              UNION ALL
              SELECT key, v, cached_at FROM c1 WHERE key NOT IN (SELECT key FROM r2)
            ), r3 AS (
              SELECT CAST(user_id AS BIGINT) AS key, min(ts) AS rts FROM events
              WHERE ts >= TIMESTAMP '2024-01-03' AND ts < TIMESTAMP '2024-01-04' GROUP BY 1
            ), s3 AS (
              SELECT r.key, r.rts,
                CASE WHEN c.cached_at IS NOT NULL
                          AND epoch_us(r.rts) - epoch_us(c.cached_at) <= 172800000000 THEN 'hit'
                     WHEN c.cached_at IS NOT NULL THEN 'expired' ELSE 'cold' END AS outcome,
                CASE WHEN c.cached_at IS NOT NULL
                          AND epoch_us(r.rts) - epoch_us(c.cached_at) <= 172800000000 THEN c.v
                     ELSE r.key * 10 + 3 END AS v
              FROM r3 r LEFT JOIN c2 c USING (key)
            ), all_served AS (
              SELECT 1 AS batch, outcome, v FROM s1
              UNION ALL SELECT 2, outcome, v FROM s2
              UNION ALL SELECT 3, outcome, v FROM s3
            )
            SELECT batch, outcome, count(*) AS n_keys,
              CAST(sum(v) AS BIGINT) AS sum_served
            FROM all_served GROUP BY batch, outcome""")
  )

  /** §3.1 over the WIRE — the identical pipeline with every input byte
    * arriving over live HTTP ([[graft.ops.CollectFull.Transport.Rest]]:
    * attribute/index CSVs and both JSON feeds fetched through
    * [[graft.sources.RestSource]], the requested sites' rasters through
    * [[graft.ops.RestFetch]], from the loopback endpoint). Reuses
    * `e2e_collect_full`'s oracle verbatim: the HTTP transport must be
    * byte-lossless through parse, decode, classify, and envelope
    * assembly — the deployment shape of the reference's four WAN
    * containers, proven by hash equality. */
  val collectRest = Q(
    "e2e_collect_rest",
    "Full /collect with ALL inputs over live HTTP (DataSource V2 REST fetch): must hash-match the file-transport oracle.",
    (s, _) => {
      val j = Map("ignoreNullFields" -> "false")
      CollectFull.run(s, CollectFull.requests(s), CollectFull.Transport.Rest).select(
        col("request_id"), col("event_id"),
        to_json(col("location"), j).as("location"),
        col("timestamp"),
        to_json(col("landfire"), j).as("landfire"),
        to_json(col("modis"), j).as("modis"),
        to_json(col("weather"), j).as("weather"),
        to_json(col("topography"), j).as("topography"),
        to_json(col("summary"), j).as("summary"),
        col("total_processing_time_ms"))
    },
    collectFull.oracle
  )

  /** §3.1 observability — the reference's request-tracking envelope
    * (orchestrator.py:33-87): trace ids propagate from an infrastructure
    * header when supplied (req_la carries `lb-trace-001`) and are
    * generated deterministically otherwise (`req_` + md5 hex12 of the
    * request key — the uuid4 taken as a parameter, X22 policy); every
    * request emits exactly one structured-log record — INFO + success
    * metrics for accepted requests, ERROR + the X27-formatted error list
    * for rejects. The same run carries a Spark `observe()` census
    * (n_requests/n_valid/n_high_risk_total) in its own
    * `observedMetrics`, with no second job — spec-proven in
    * CollectPipelineSpec. The oracle replays validation, kernels,
    * classification, and the envelope format in SQL, so both the
    * trace-id rule and the log format are hash-pinned. */
  val observeEnvelope = Q(
    "e2e_observe_envelope",
    "Request-id observability envelope: header-or-generated trace ids, one structured-log row per request (level/message/metrics), observe() census on the same job.",
    (s, _) => {
      import s.implicits._
      val requests = Seq(
        ("req_la", 34.0522, -118.2437, 1000.0, Some("fire_2024-001"), Some("lb-trace-001")),
        ("req_yellowstone", 44.6, -110.5, 5000.0, None: Option[String], None: Option[String]),
        ("req_death_valley", 36.5, -117.0, 1000.0, Some("dv_survey_01"), None: Option[String]),
        ("req_seattle", 47.5086, -122.3551, 2000.0, Some("sea-042"), None: Option[String]),
        ("req_london", 51.5074, -0.1278, 1000.0, None: Option[String], None: Option[String]),
        ("req_bad_lat", 91.0, 10.0, 1000.0, None: Option[String], None: Option[String]),
        ("req_bad_buffer", 36.5, -117.0, 99.0, Some("x"), None: Option[String])
      ).toDF("request_id", "lat", "lon", "buffer_m", "event_id", "header_trace")
      CollectPipeline.observedRun(requests, keyCol = "request_id",
        headerCol = Some("header_trace"))
    },
    Some("""WITH req(request_id, lat, lon, buffer_m, event_id, header_trace) AS (VALUES
              ('req_la', 34.0522, -118.2437, 1000.0, 'fire_2024-001', 'lb-trace-001'),
              ('req_yellowstone', 44.6, -110.5, 5000.0, NULL, NULL),
              ('req_death_valley', 36.5, -117.0, 1000.0, 'dv_survey_01', NULL),
              ('req_seattle', 47.5086, -122.3551, 2000.0, 'sea-042', NULL),
              ('req_london', 51.5074, -0.1278, 1000.0, NULL, NULL),
              ('req_bad_lat', 91.0, 10.0, 1000.0, NULL, NULL),
              ('req_bad_buffer', 36.5, -117.0, 99.0, 'x', NULL)),
            v AS (
              SELECT request_id,
                COALESCE(header_trace, 'req_' || substring(md5(request_id), 1, 12)) AS trace_id,
                CAST(lat AS DOUBLE) AS lat, CAST(lon AS DOUBLE) AS lon,
                (lat BETWEEN -90 AND 90 AND lon BETWEEN -180 AND 180
                   AND NOT (lat = 0 AND lon = 0)) AS bounds_ok,
                ((lat BETWEEN 24.5 AND 49.5 AND lon BETWEEN -125 AND -67)
                  OR (lat BETWEEN 54 AND 71.5 AND (lon BETWEEN -180 AND -130 OR lon BETWEEN 170 AND 180))
                  OR (lat BETWEEN 18 AND 29 AND lon BETWEEN -178 AND -154)) AS us_ok,
                (buffer_m BETWEEN 100 AND 50000) AS buffer_ok,
                (event_id IS NULL OR (length(event_id) BETWEEN 3 AND 100
                   AND regexp_matches(event_id, '^[a-zA-Z0-9_-]+$'))) AS id_ok
              FROM req
            ), ve AS (
              SELECT *, list_filter([
                  CASE WHEN NOT bounds_ok THEN 'invalid coordinates' END,
                  CASE WHEN bounds_ok AND NOT us_ok THEN 'outside supported US regions' END,
                  CASE WHEN NOT buffer_ok THEN 'buffer out of range' END,
                  CASE WHEN NOT id_ok THEN 'invalid event id' END],
                x -> x IS NOT NULL) AS errors
              FROM v
            ), k AS (
              SELECT request_id,
                ((lat * 7 + lon * 3) % 20 + 20) % 20 + 15.0 AS w_temp_raw,
                CAST(((floor(lat * 11 + lon * 5) % 80) + 80) % 80 AS INT) + 10 AS w_hum,
                ((lon * 13) % 18 + 18) % 18 AS w_wind_raw,
                CAST(((floor(lat * 100 + lon * 50) % 9000) + 9000) % 9000 AS INT) AS ndvi_raw,
                CAST(((floor(lat * 37 + lon * 17) % 10) + 10) % 10 * 1000 + 2500 AS INT) AS pixel,
                ((lat * 19 - lon * 7) % 150 + 150) % 150 AS elev_raw
              FROM ve WHERE len(errors) = 0
            ), tall AS (
              SELECT request_id,
                CASE WHEN (CASE WHEN round(w_temp_raw, 2) > 30 THEN 3 WHEN round(w_temp_raw, 2) > 25 THEN 2 WHEN round(w_temp_raw, 2) > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN round(w_wind_raw, 2) > 15 THEN 3 WHEN round(w_wind_raw, 2) > 10 THEN 2 WHEN round(w_wind_raw, 2) > 5 THEN 1 ELSE 0 END) >= 7 THEN 'EXTREME'
                     WHEN (CASE WHEN round(w_temp_raw, 2) > 30 THEN 3 WHEN round(w_temp_raw, 2) > 25 THEN 2 WHEN round(w_temp_raw, 2) > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN round(w_wind_raw, 2) > 15 THEN 3 WHEN round(w_wind_raw, 2) > 10 THEN 2 WHEN round(w_wind_raw, 2) > 5 THEN 1 ELSE 0 END) >= 5 THEN 'HIGH'
                     WHEN (CASE WHEN round(w_temp_raw, 2) > 30 THEN 3 WHEN round(w_temp_raw, 2) > 25 THEN 2 WHEN round(w_temp_raw, 2) > 20 THEN 1 ELSE 0 END
                         + CASE WHEN w_hum < 20 THEN 3 WHEN w_hum < 40 THEN 2 WHEN w_hum < 60 THEN 1 ELSE 0 END
                         + CASE WHEN round(w_wind_raw, 2) > 15 THEN 3 WHEN round(w_wind_raw, 2) > 10 THEN 2 WHEN round(w_wind_raw, 2) > 5 THEN 1 ELSE 0 END) >= 3 THEN 'MODERATE'
                     ELSE 'LOW' END AS risk
              FROM k
              UNION ALL
              SELECT request_id,
                CASE WHEN ndvi_raw * 0.0001 > 0.6 THEN 'LOW' WHEN ndvi_raw * 0.0001 > 0.3 THEN 'MODERATE'
                     WHEN ndvi_raw * 0.0001 > 0.1 THEN 'HIGH' ELSE 'EXTREME' END
              FROM k
              UNION ALL
              SELECT request_id,
                CASE WHEN pixel >= 7000 AND pixel < 8000 THEN 'LOW'
                     WHEN pixel >= 3000 AND pixel < 4000 THEN 'MODERATE_TO_HIGH'
                     WHEN pixel >= 2000 AND pixel < 3000 THEN 'MODERATE_TO_HIGH'
                     ELSE 'MODERATE' END
              FROM k
              UNION ALL
              SELECT request_id,
                CASE WHEN round(elev_raw, 2) > 100 THEN 'HIGH' WHEN round(elev_raw, 2) > 50 THEN 'MODERATE' ELSE 'LOW' END
              FROM k
            ), agg AS (
              SELECT request_id, count(*) AS sources_successful,
                count(CASE WHEN risk IN ('HIGH', 'EXTREME') THEN 1 END) AS n_high_risk
              FROM tall GROUP BY request_id
            )
            SELECT ve.request_id, ve.trace_id, 'orchestrator' AS service,
              CASE WHEN len(ve.errors) = 0 THEN 'INFO' ELSE 'ERROR' END AS level,
              CASE WHEN len(ve.errors) = 0 THEN 'collect completed'
                   ELSE 'collect rejected: ' || array_to_string(ve.errors, '; ') END AS message,
              CAST(len(ve.errors) AS BIGINT) AS n_errors,
              CAST(COALESCE(agg.sources_successful, 0) AS BIGINT) AS sources_successful,
              CAST(COALESCE(agg.n_high_risk, 0) AS BIGINT) AS n_high_risk
            FROM ve LEFT JOIN agg USING (request_id)""")
  )

  /** §3.1 observability, the scrape side (VERDICT r9 missing #3): the
    * reference exposes a Prometheus `/metrics` endpoint on every
    * container and a scrape config over them
    * (monitoring/prometheus.yml:15-23); the engine-native analog is
    * [[graft.ops.MetricsScrape]], one metrics row per query (label,
    * output rows, wall ms, shuffle bytes) from [[graft.Profile]] and an
    * `Observation`. Three aggregations are scraped and the scrape TABLE
    * is the query result: the deterministic columns (labels and observed
    * output rows, which must equal the true group counts) are oracled;
    * the nondeterministic gauges are asserted as recorded (wall >= 0 ms is a flag here because a 32-way
    * local agg can complete inside one millisecond tick; the exact
    * values are covered in MetricsScrapeSpec). */
  val metricsScrape = Q(
    "e2e_metrics_scrape",
    "Engine /metrics scrape: a Profile-backed metrics table over three aggregations — observed output rows oracled against true group counts; wall and shuffle gauges flagged as recorded.",
    (s, dir) => {
      val t = graft.Tables(s, dir)
      val items = Seq(
        "docs_by_source" -> t.documents.groupBy(col("source")).agg(count(lit(1)).as("n")),
        "events_by_type" -> t.events.groupBy(col("event_type")).agg(count(lit(1)).as("n")),
        "orders_by_status" -> t.orders.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")))
      graft.ops.MetricsScrape.run(s, items)
        .select(col("query_label"), col("rows_out"),
          (col("wall_ms") >= 0).as("wall_recorded"),
          (col("shuffle_bytes") > 0).as("shuffled"))
    },
    Some("""SELECT 'docs_by_source' AS query_label,
              CAST(count(DISTINCT source) AS BIGINT) AS rows_out,
              TRUE AS wall_recorded, TRUE AS shuffled FROM documents
            UNION ALL
            SELECT 'events_by_type', CAST(count(DISTINCT event_type) AS BIGINT),
              TRUE, TRUE FROM events
            UNION ALL
            SELECT 'orders_by_status', CAST(count(DISTINCT o_orderstatus) AS BIGINT),
              TRUE, TRUE FROM orders""")
  )

  def all: Seq[Q] = Seq(collect, collectFull, collectRest, llmPipeline, contrastivePairs,
    resultCache, observeEnvelope, metricsScrape)
}
