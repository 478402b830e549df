package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** SURVEY.md §2.1 — the source surface beyond plain parquet (S9):
  * JSON decoding with a declared schema (the S3/S4/S5 REST-payload
  * shape) and binary-file scanning (the S1/S6 raster-bytes shape).
  *
  * The reference fetches from WANs; the engine's contract starts at
  * "bytes/JSON arrive" — these queries pin the decode semantics.
  */
object SourceQueries {

  /** S3/S4/S5 — JSON source: raw payload strings → from_json with an
    * explicit schema (never inference at scale — one pass, no sampling
    * job) → explode of the nested forecast list (weather_container.py:
    * 167-185 reshape, F10 projection/rename). */
  val jsonSource = Q(
    "s3_json_decode",
    "REST-payload decode: from_json with declared schema, nested field projection/rename, posexplode of the forecast list.",
    (s, _) => {
      import s.implicits._
      val payloads = Seq(
        (1, """{"main":{"temp":28.5,"humidity":35},"wind":{"speed":12.0},"list":[{"dt":1717243200,"main":{"temp":30.1}},{"dt":1717254000,"main":{"temp":27.3}}]}"""),
        (2, """{"main":{"temp":18.0,"humidity":70},"wind":{},"list":[{"dt":1717243200,"main":{"temp":19.0}}]}""")
      ).toDF("req", "payload")
      val schema = StructType(Seq(
        StructField("main", StructType(Seq(
          StructField("temp", DoubleType), StructField("humidity", IntegerType)))),
        StructField("wind", StructType(Seq(StructField("speed", DoubleType)))),
        StructField("list", ArrayType(StructType(Seq(
          StructField("dt", LongType),
          StructField("main", StructType(Seq(StructField("temp", DoubleType))))))))
      ))
      payloads
        .withColumn("j", from_json(col("payload"), schema))
        .select(
          col("req"),
          col("j.main.temp").as("temperature_celsius"),
          col("j.main.humidity").as("humidity_percent"),
          coalesce(col("j.wind.speed"), lit(0.0)).as("wind_speed_mps"),
          posexplode(col("j.list")).as(Seq("pos", "fc")))
        .select(col("req"), col("temperature_celsius"), col("humidity_percent"),
          col("wind_speed_mps"), col("pos"),
          col("fc.dt").as("fc_epoch"), col("fc.main.temp").as("fc_temp"))
    },
    Some("""WITH p(req, payload) AS (VALUES
              (1, '{"main":{"temp":28.5,"humidity":35},"wind":{"speed":12.0},"list":[{"dt":1717243200,"main":{"temp":30.1}},{"dt":1717254000,"main":{"temp":27.3}}]}'),
              (2, '{"main":{"temp":18.0,"humidity":70},"wind":{},"list":[{"dt":1717243200,"main":{"temp":19.0}}]}'))
            , l AS (
              SELECT req, payload, CAST(json_extract(payload, '$.list[*]') AS VARCHAR[]) AS lst FROM p)
            SELECT req,
              CAST(json_extract_string(payload, '$.main.temp') AS DOUBLE) AS temperature_celsius,
              CAST(json_extract_string(payload, '$.main.humidity') AS INT) AS humidity_percent,
              coalesce(CAST(json_extract_string(payload, '$.wind.speed') AS DOUBLE), 0.0) AS wind_speed_mps,
              CAST(g.i AS INT) - 1 AS pos,
              CAST(json_extract_string(lst[g.i], '$.dt') AS BIGINT) AS fc_epoch,
              CAST(json_extract_string(lst[g.i], '$.main.temp') AS DOUBLE) AS fc_temp
            FROM l, unnest(generate_series(1, len(lst))) AS g(i)""")
  )

  /** S1/S6 — binary-file scan: `binaryFile` format over the staged
    * fixture files ([[graft.ops.Fixtures]]), yielding (path, length,
    * content) rows — the raster-bytes ingest shape. Content bytes feed
    * D1-style decode; here we pin the scan itself: sizes and a content
    * fingerprint. The oracle reads the SAME files through DuckDB's
    * read_text (its md5 is VARCHAR-only, which is why the scanned dir is
    * the ASCII fixture set — the TIFF dir's scan is exercised inside
    * e2e_collect_full). */
  val binaryScan = Q(
    "s1_binaryfile_scan",
    "binaryFile source scan: per-file name/size/md5 over the staged fixture directory; the S1/S6 GeoTIFF-bytes ingest shape.",
    (s, _) => {
      graft.ops.Fixtures.stage()
      s.read.format("binaryFile")
        .load(graft.ops.Fixtures.TextDir)
        .select(
          element_at(split(col("path"), "/"), -1).as("file_name"),
          col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("file_name"))
    },
    Some("""SELECT regexp_extract(filename, '[^/]+$') AS file_name,
                   CAST(size AS BIGINT) AS length,
                   md5(content) AS content_md5
            FROM read_text('/root/repo/target/graft_fixtures/text/*')
            ORDER BY 1""")
  )

  /** S1 as a real custom connector — the DataSource V2 source
    * ([[graft.sources.TelemetrySource]]) read through the standard
    * `spark.read.format(...)` surface, with an id-range predicate that
    * pushes into the source's generation range and a grouped roll-up.
    * The oracle reproduces the deterministic row kernel over
    * generate_series. */
  val dsv2 = Q(
    "s1_dsv2_connector",
    "Custom DataSource V2 scan with pushed id-range + source-level column pruning; per-sensor roll-up.",
    (s, _) => {
      s.read.format("graft.sources.TelemetrySource")
        .option("rows", 5000).option("partitions", 8).load()
        .filter(col("id") >= 1000 && col("id") < 4000)
        .groupBy(col("sensor"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"),
          min(col("ts_epoch_s")).as("first_ts"))
    },
    Some("""WITH t AS (
              SELECT i AS id,
                'sensor_' || CAST(i % 16 AS VARCHAR) AS sensor,
                1704067200 + i * 60 AS ts_epoch_s,
                round((CAST((i * 2654435761) % 4294967296 AS DOUBLE) / 4294967295.0) * 10000.0) / 100.0 AS value
              FROM generate_series(1000, 3999) AS g(i))
            SELECT sensor, count(*) AS n, round(sum(value), 2) AS sum_value, min(ts_epoch_s) AS first_ts
            FROM t GROUP BY sensor""")
  )

  /** S1 V2 depth — AGGREGATE pushdown (SupportsPushDownAggregates), the
    * third V2 optimization after pruning and filter pushdown: an
    * ungrouped count/min/max over the filter-narrowed id range is
    * answered by the source in closed form — one partition, one row,
    * ZERO generated rows (the parquet-footer-stats shortcut, surfaced
    * through the connector API). PlanShapeSpec pins the
    * TelemetryAggScan in the plan; the oracle recomputes over
    * generate_series. */
  val dsv2Agg = Q(
    "s1_dsv2_agg_pushdown",
    "DataSource V2 aggregate pushdown: filtered count/min/max answered from range arithmetic, no row generation.",
    (s, _) => {
      s.read.format("graft.sources.TelemetrySource")
        .option("rows", 100000).option("partitions", 8).load()
        .filter(col("id") >= 1000 && col("id") < 50000)
        .agg(count(lit(1)).as("n_rows"), min(col("id")).as("min_id"),
          max(col("id")).as("max_id"))
    },
    Some("""SELECT count(*) AS n_rows, min(i) AS min_id, max(i) AS max_id
            FROM generate_series(1000, 49999) AS g(i)""")
  )

  /** S9 depth — Hive-style partitioned parquet sink + PRUNED re-read:
    * events written `partitionBy(event_type)`, then scanned with a
    * partition-key predicate. At 100 TB this is the difference between
    * touching 2 directories and touching all of them — the plan carries
    * the predicate as PartitionFilters (asserted in PlanShapeSpec), so
    * pruning happens at file-listing time, before any IO. The staged
    * dataset is written once per scale factor (idempotent marker). */
  val partitionPruning = Q(
    "s9_partition_pruning",
    "Partitioned parquet sink + partition-pruned scan: write events by event_type, re-read two types; the filter prunes directories at listing time.",
    (s, dir) => {
      import graft.Tables
      val path = graft.ops.StagedEstate.ensure(
        s"${graft.ops.Fixtures.Root}/events_by_type_${new java.io.File(dir).getName}", dir) {
        Tables(s, dir).events.write.mode("overwrite").partitionBy("event_type").parquet(
          s"${graft.ops.Fixtures.Root}/events_by_type_${new java.io.File(dir).getName}")
      }
      s.read.parquet(path)
        .filter(col("event_type").isin("purchase", "signup"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("value")), 4).as("sum_value"),
          count_distinct(col("user_id")).as("n_users"))
    },
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 4) AS sum_value,
            count(DISTINCT user_id) AS n_users
            FROM events WHERE event_type IN ('purchase', 'signup') GROUP BY 1""")
  )

  /** S9 ⊕ — Z-order (Morton) data layout vs linear time layout: the
    * multi-dimensional clustering technique (Delta OPTIMIZE ZORDER /
    * Iceberg sort orders) that makes min/max file-stat pruning work for
    * MORE than one filter column. Events get an 8-bit quantized
    * (user, hour) key, the Morton code interleaves the bits
    * (z = Σ 4^i·(x_i + 2·y_i), pure integer arithmetic — no engine bit
    * operators), and rows land in 32 fixed z-range "files"; the linear
    * layout files the same rows by time only. The emitted comparison is
    * the pruning index itself: how many of the 32 files a
    * single-user point query and a 16-hour range query would touch
    * under each layout. Z-order should cut the user query by ~the
    * square-root factor while the linear layout must open every file.
    *
    * Scale shape: quantization bounds are one tiny broadcast aggregate;
    * the z computation is row-local; each layout's file stats are one
    * partial-agged 32-group aggregate — this IS the stats-collection
    * pass a 100 TB OPTIMIZE job runs, and the file_id would be the
    * range-partitioning key of the rewrite.
    *
    * Sign safety: quantization is min-shifted —
    * `((v - min) * 256) div (max - min + 1)` — so the numerator is
    * always non-negative and the denominator positive, which makes
    * Spark's truncating `div` coincide exactly with the oracle's
    * flooring `//`. Events before the 2024-01-01 anchor (negative h) or
    * negative user ids quantize correctly on both engines;
    * ZorderQuantizationSpec model-checks that on a pre-anchor fixture. */
  val zorder = Q(
    "s9_zorder_layout",
    "Z-order vs linear layout: Morton-coded 32-file assignment, per-file min/max stats, files-touched comparison for point and range queries.",
    (s, dir) => {
      val t = Tables(s, dir)
      val e = t.events.select(
        col("user_id").cast("long").as("u"),
        expr("timestampdiff(HOUR, TIMESTAMP'2024-01-01 00:00:00', ts)").as("h"))
      zorderStats(e)
    },
    Some("""WITH e AS (
              SELECT CAST(user_id AS BIGINT) AS u,
                     date_diff('hour', TIMESTAMP '2024-01-01 00:00:00', ts) AS h
              FROM events
            ), mx AS (SELECT min(u) AS mnu, max(u) AS mu, min(h) AS mnh, max(h) AS mh FROM e),
            sc AS (
              SELECT u, h, ((u - mnu) * 256) // (mu - mnu + 1) AS u8,
                           ((h - mnh) * 256) // (mh - mnh + 1) AS h8
              FROM e CROSS JOIN mx
            ), z AS (
              SELECT u, h, h8,
                CAST(list_sum(list_transform(generate_series(0, 7),
                  i -> ((u8 // (1 << i)) % 2) * (1 << (2*i))
                     + ((h8 // (1 << i)) % 2) * (1 << (2*i + 1)))) AS BIGINT) AS zv
              FROM sc
            ), f AS (
              SELECT u, h, zv // 2048 AS zfile, (h8 * 32) // 256 AS linfile FROM z
            ), st AS (
              SELECT 'zorder' AS layout, zfile AS file_id,
                     min(u) AS minu, max(u) AS maxu, min(h) AS minh, max(h) AS maxh
              FROM f GROUP BY 2
              UNION ALL
              SELECT 'linear', linfile, min(u), max(u), min(h), max(h)
              FROM f GROUP BY 2
            )
            SELECT layout, count(*) AS n_files,
              count(CASE WHEN minu <= 7 AND maxu >= 7 THEN 1 END) AS files_user_q,
              count(CASE WHEN minh <= 115 AND maxh >= 100 THEN 1 END) AS files_time_q
            FROM st GROUP BY layout""")
  )

  /** S9 ⊕ — compaction planning (the OPTIMIZE/small-files pass): given
    * per-file stats (one row per file: partition, position, bytes),
    * assign files to target-size output bins with an exclusive prefix
    * sum — `bin = floor(cum_bytes_before / target)` per table
    * partition, in file order. This is the planning half of the
    * maintenance job every 100 TB table needs (Delta OPTIMIZE /
    * Iceberg rewriteDataFiles); the bin id would key the rewrite's
    * range partitioning. File stats are simulated from events as one
    * "file" per (event_type, day).
    *
    * Scale shape: the window runs over FILE STATS — one row per file
    * (~10⁵ rows for a 100 TB table), never corpus rows — partitioned by
    * the table partition key; the census is one more partial-agged
    * aggregate. Pure integer arithmetic end to end (byte sizes and an
    * exclusive cumsum), so the oracle comparison is exact. */
  val compactionPlan = Q(
    "s9_compaction_plan",
    "Compaction planning: per-partition exclusive prefix sum over file stats -> target-size bin assignment; per-bin file/byte census.",
    (s, dir) => {
      val t = Tables(s, dir)
      val files = t.events
        .groupBy(col("event_type"),
          expr("datediff(to_date(ts), DATE'2024-01-01')").as("day"))
        .agg((sum(length(col("props"))) + count(lit(1)) * 64).as("bytes"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("event_type")).orderBy(col("day"))
      files
        .withColumn("cum_before", sum(col("bytes")).over(w) - col("bytes"))
        .withColumn("bin", expr("cum_before div 4096"))
        .groupBy(col("event_type"), col("bin"))
        .agg(count(lit(1)).as("n_files"), sum(col("bytes")).as("bin_bytes"),
          min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    },
    Some("""WITH files AS (
              SELECT event_type,
                datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS day,
                CAST(sum(length(props)) + count(*) * 64 AS BIGINT) AS bytes
              FROM events GROUP BY 1, 2
            ), planned AS (
              SELECT event_type, day, bytes,
                CAST((sum(bytes) OVER (PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes) // 4096
                  AS BIGINT) AS bin
              FROM files
            )
            SELECT event_type, bin, count(*) AS n_files,
              CAST(sum(bytes) AS BIGINT) AS bin_bytes,
              min(day) AS first_day, max(day) AS last_day
            FROM planned GROUP BY 1, 2""")
  )

  /** Catalog names and storage path of the bucketed `lineitem`/`orders`
    * tables `s9_bucketed_join` stages for the estate at `dir`. Keyed on
    * the FULL normalized path — its basename for readability plus a
    * digest of the whole path — so two estates that share a basename
    * (`/a/sf0.01`, `/b/sf0.01`) never read each other's tables. */
  final case class BucketedTables(lineitem: String, orders: String, path: String)

  def bucketedTables(dir: String): BucketedTables = {
    val full = java.nio.file.Paths.get(dir).toAbsolutePath.normalize
    val name = Option(full.getFileName).fold("root")(_.toString).replaceAll("[^A-Za-z0-9]", "_")
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(full.toString.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val key = s"${name}_$digest"
    BucketedTables(s"graft_lineitem_bkt_$key", s"graft_orders_bkt_$key",
      s"${graft.ops.Fixtures.Root}/bucketed_$key")
  }

  /** S9 ⊕ — bucketed co-located join: the table-layout technique that
    * removes the BIG join shuffle entirely. `lineitem` and `orders` are
    * written once as parquet tables hash-bucketed (and sorted) on the
    * join key with the SAME bucket count; Spark's bucketed scan then
    * reports a compatible `HashPartitioning(orderkey, 8)` on both sides,
    * so the sort-merge join needs ZERO exchange — each task merges
    * bucket i of one table with bucket i of the other where the rows
    * already sit. The only shuffle left in the query is the final
    * 3-group status census.
    *
    * This is the 100 TB story for fact-to-fact joins (lineitem ⋈ orders
    * is exactly that — neither side broadcasts at scale): pay the
    * partitioning ONCE at write time, then every subsequent join,
    * aggregation, or MERGE keyed on the bucket column is exchange-free.
    * `StreamingMerge` documents the same discipline for its versioned
    * snapshots; this query pins it for the batch path
    * (PlanShapeSpec asserts the single-exchange plan with broadcast
    * disabled). Staging is per-estate idempotent: the in-memory catalog
    * is per-JVM, so a fresh run rewrites the small derived tables, and a
    * repeat call in the same session reuses them ([[bucketedTables]]
    * keys them on the estate's full path).
    *
    * Revenue follows the TpchQueries integer-cents discipline —
    * `round(price*100)::long` sums are exact in any fold order. */
  val bucketedJoin = Q(
    "s9_bucketed_join",
    "Bucketed co-located join: both fact tables bucketBy(8, orderkey) sorted at write time; the join itself plans with zero Exchange.",
    (s, dir) => {
      val t = Tables(s, dir)
      val BucketedTables(lt, ot, base) = bucketedTables(dir)
      // EXTERNAL tables at an explicit path: the in-memory catalog dies
      // with the JVM but the files survive, and a managed saveAsTable
      // over a surviving location is LOCATION_ALREADY_EXISTS — external
      // + overwrite is restart-idempotent.
      if (!s.catalog.tableExists(lt)) {
        t.lineitem.select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
          .write.mode("overwrite").format("parquet").option("path", s"$base/lineitem")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(lt)
      }
      if (!s.catalog.tableExists(ot)) {
        t.orders.select(col("o_orderkey"), col("o_orderstatus"))
          .write.mode("overwrite").format("parquet").option("path", s"$base/orders")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(ot)
      }
      s.table(lt).join(s.table(ot), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
          sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n_lines,
              CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS sum_qty,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1""")
  )

  /** The z-order layout comparison over a `(u, h)` long-keyed input —
    * factored out of `s9_zorder_layout` so ZorderQuantizationSpec can
    * model-check it on inputs the fixtures never produce (negative user
    * ids, pre-anchor hours). Min-shifted quantization keeps the `div`
    * numerator non-negative, so truncation == floor on any sign. */
  private[graft] def zorderStats(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val mx = e.agg(min(col("u")).as("mnu"), max(col("u")).as("mu"),
      min(col("h")).as("mnh"), max(col("h")).as("mh"))
    val zExpr = (0 until 8).map(i =>
      s"(((u8 div ${1 << i}) % 2) * ${1L << (2 * i)} + ((h8 div ${1 << i}) % 2) * ${1L << (2 * i + 1)})")
      .mkString(" + ")
    val files = e.crossJoin(broadcast(mx))
      .withColumn("u8", expr("((u - mnu) * 256) div (mu - mnu + 1)"))
      .withColumn("h8", expr("((h - mnh) * 256) div (mh - mnh + 1)"))
      .withColumn("z", expr(zExpr))
      .withColumn("zfile", expr("z div 2048"))
      .withColumn("linfile", expr("(h8 * 32) div 256"))
    def stats(fileCol: String, layout: String) = files
      .groupBy(col(fileCol).as("file_id"))
      .agg(min(col("u")).as("minu"), max(col("u")).as("maxu"),
        min(col("h")).as("minh"), max(col("h")).as("maxh"))
      .withColumn("layout", lit(layout))
    stats("zfile", "zorder").unionByName(stats("linfile", "linear"))
      .groupBy(col("layout"))
      .agg(
        count(lit(1)).as("n_files"),
        count(when(col("minu") <= 7 && col("maxu") >= 7, 1)).as("files_user_q"),
        count(when(col("minh") <= 115 && col("maxh") >= 100, 1)).as("files_time_q"))
  }

  /** S1–S6 as the LIVE connector — [[graft.sources.RestSource]] doing
    * real HTTP GETs (java.net.http, executor-side, retry/backoff)
    * against [[graft.ops.StagedRestEndpoint]], a loopback server
    * serving the staged fixture estate: the weather JSON feed, one
    * raster tile per site, a flaky endpoint (503×2 then 200 — proves
    * the retry path), and a missing resource (404 → row, not task
    * failure). Fetched bytes are decoded in the SAME plan: JSON lines
    * via get_json_object, TIFF via [[graft.ops.TiffCodec]]. The oracle
    * reads the identical staged files from disk and recomputes the
    * raster formula — matching proves the HTTP transport is lossless
    * end-to-end. At 100 TB the url list is a DataFrame of millions of
    * requests partitioned across executors; here urlsPerPartition=3
    * exercises the multi-partition plan. */
  val restFetch = Q(
    "s1_rest_fetch",
    "Live HTTP DataSource V2: loopback REST fetch of JSON + TIFF fixtures with retry on 503 and 404-as-row; fetched bytes decoded and aggregated in-plan.",
    (s, _) => {
      import s.implicits._
      import graft.ops.{Fixtures, StagedRestEndpoint, TiffCodec}
      val base = StagedRestEndpoint.baseUrl
      val urls =
        Seq(s"$base/files/text/weather_current.jsonl") ++
          Fixtures.sites.map(st => s"$base/files/rasters/veg_${st.id}.tif") ++
          Seq(s"$base/flaky/s1fetch", s"$base/missing/resource")
      val fetched = s.read.format("graft.sources.RestSource")
        .option("urls", urls.mkString("\n"))
        .option("urlsPerPartition", "3")
        .option("retries", "3").option("retryBackoffMs", "10")
        .load()
        .select(
          element_at(split(col("url"), "/"), -1).as("resource"),
          col("status"), col("body"), col("attempts"))
        .cache()
      val decodePx = udf { (b: Array[Byte]) =>
        Option(b).flatMap(TiffCodec.decode).map(_.pixels.toSeq).orNull
      }
      val rasters = fetched.filter(col("resource").endsWith(".tif"))
        .select(col("resource"), col("status"), explode(decodePx(col("body"))).as("px"))
        .groupBy(col("resource"), col("status"))
        .agg(count(col("px")).as("n_items"), round(avg(col("px")), 4).as("metric"))
      val weather = fetched.filter(col("resource").endsWith(".jsonl"))
        .select(col("resource"), col("status"),
          explode(split(col("body").cast("string"), "\n")).as("line"))
        .filter(length(trim(col("line"))) > 0)
        .groupBy(col("resource"), col("status"))
        .agg(count(lit(1)).as("n_items"),
          round(avg(get_json_object(col("line"), "$.main.temp").cast("double")), 4).as("metric"))
      val statusRows = fetched.filter(!col("resource").endsWith(".tif") &&
          !col("resource").endsWith(".jsonl"))
        .select(col("resource"), col("status"),
          col("attempts").cast("long").as("n_items"),
          col("status").cast("double").as("metric"))
      rasters.unionByName(weather).unionByName(statusRows)
    },
    Some("""WITH sites(idx, id, veg) AS (VALUES
              (0, 'req_la', 7299), (1, 'req_yellowstone', 3215),
              (2, 'req_death_valley', 2092), (3, 'req_seattle', 7292),
              (4, 'req_mono', 0)),
            px AS (
              SELECT idx, id, CASE WHEN r = 8 AND c = 8 THEN CAST(veg AS DOUBLE)
                ELSE CAST(2000 + ((r * 31 + c * 17 + idx * 7) % 97) AS DOUBLE) END AS v
              FROM sites, generate_series(0, 15) AS rs(r), generate_series(0, 15) AS cs(c))
            SELECT 'veg_' || id || '.tif' AS resource, 200 AS status,
                   count(*) AS n_items, round(avg(v), 4) AS metric
            FROM px GROUP BY id
            UNION ALL
            SELECT 'weather_current.jsonl', 200, CAST(count(*) AS BIGINT),
                   round(avg(CAST(main.temp AS DOUBLE)), 4)
            FROM read_json_auto('/root/repo/target/graft_fixtures/text/weather_current.jsonl')
            UNION ALL
            SELECT 's1fetch', 200, CAST(3 AS BIGINT), CAST(200 AS DOUBLE)
            UNION ALL
            SELECT 'resource', 404, CAST(1 AS BIGINT), CAST(404 AS DOUBLE)""")
  )

  /** S1–S6 request CONSTRUCTION — [[graft.ops.RequestUrls]]: every
    * container's URL built from the request row as codegen'd Column
    * expressions (WCS GetCoverage with the degree bbox, ORNL subset
    * with AYYYYDDD dates, OpenWeatherMap current+forecast, USGS
    * exportImage with the Web-Mercator meter bbox) — the projection a
    * million-request table goes through before [[graft.ops.RestFetch]].
    * The oracle rebuilds every URL with DuckDB string/math functions;
    * hash equality pins bbox arithmetic, projection math, date format,
    * and parameter order. */
  val requestUrls = Q(
    "s1_request_urls",
    "Connector request construction: all four container URL families built from request rows as pure Column expressions, byte-compared to the oracle.",
    (s, _) => {
      import s.implicits._
      import graft.ops.RequestUrls._
      val req = graft.ops.CollectFull.requests(s)
        .select(col("site"), col("lat"), col("lon"), col("buffer_m"))
      val lf = Seq(("vegetation_type", "220EVT"), ("fuel_model", "220F40"))
        .toDF("product", "code")
      val landfire = req.crossJoin(broadcast(lf))
        .select(col("site"), concat(lit("landfire:"), col("product")).as("source"),
          landfireWcs(lit("https://landfire.example/wcs"), col("code"),
            col("lat"), col("lon"), col("buffer_m")).as("url"))
      val mp = Seq("MOD13Q1", "MOD11A2").toDF("product")
      val modis = req.crossJoin(broadcast(mp))
        .select(col("site"), concat(lit("modis:"), col("product")).as("source"),
          modisSubset(lit("https://modis.ornl.gov/rst/api/v1"), col("product"),
            col("lat"), col("lon"),
            lit("2024-05-01").cast("date"), lit("2024-06-01").cast("date")).as("url"))
      val wp = Seq("weather", "forecast").toDF("path")
      val weather = req.crossJoin(broadcast(wp))
        .select(col("site"), concat(lit("owm:"), col("path")).as("source"),
          weatherUrl(lit("https://api.openweathermap.org/data/2.5"), col("path"),
            col("lat"), col("lon"), lit("demo_key")).as("url"))
      val usgs = req
        .select(col("site"), lit("usgs:elevation").as("source"),
          usgsExportImage(lit("https://elevation.example/ImageServer"),
            col("lat"), col("lon"), col("buffer_m")).as("url"))
      landfire.unionByName(modis).unionByName(weather).unionByName(usgs)
    },
    Some("""WITH req(site, lat, lon, buffer_m) AS (VALUES
              ('req_la', CAST(34.0522 AS DOUBLE), CAST(-118.2437 AS DOUBLE), 1000),
              ('req_yellowstone', CAST(44.6 AS DOUBLE), CAST(-110.5 AS DOUBLE), 5000),
              ('req_death_valley', CAST(36.5 AS DOUBLE), CAST(-117.0 AS DOUBLE), 1000),
              ('req_seattle', CAST(47.5086 AS DOUBLE), CAST(-122.3551 AS DOUBLE), 2000),
              ('req_mono', CAST(40.0 AS DOUBLE), CAST(-115.0 AS DOUBLE), 1000)),
            d AS (SELECT *, CAST(buffer_m AS DOUBLE) / 111000.0 AS bd FROM req)
            SELECT site, 'landfire:' || product AS source,
              'https://landfire.example/wcs?service=WCS&version=1.0.0&request=GetCoverage'
              || '&coverage=landfire_wcs:' || code
              || '&bbox=' || printf('%.6f', lon - bd) || ',' || printf('%.6f', lat - bd)
              || ',' || printf('%.6f', lon + bd) || ',' || printf('%.6f', lat + bd)
              || '&crs=EPSG:4326&format=GeoTIFF&width=256&height=256' AS url
            FROM d, (VALUES ('vegetation_type', '220EVT'), ('fuel_model', '220F40')) lf(product, code)
            UNION ALL
            SELECT site, 'modis:' || product,
              'https://modis.ornl.gov/rst/api/v1/' || product || '/subset'
              || '?latitude=' || printf('%.6f', lat) || '&longitude=' || printf('%.6f', lon)
              || '&startDate=A2024122&endDate=A2024153'
              || '&kmAboveBelow=1&kmLeftRight=1'
            FROM d, (VALUES ('MOD13Q1'), ('MOD11A2')) mp(product)
            UNION ALL
            SELECT site, 'owm:' || path,
              'https://api.openweathermap.org/data/2.5/' || path
              || '?lat=' || printf('%.6f', lat) || '&lon=' || printf('%.6f', lon)
              || '&appid=demo_key&units=metric'
            FROM d, (VALUES ('weather'), ('forecast')) wp(path)
            UNION ALL
            SELECT site, 'usgs:elevation',
              'https://elevation.example/ImageServer/exportImage?f=image'
              || '&bbox=' || printf('%.2f', lon * 6378137.0 * pi() / 180.0 - buffer_m)
              || ',' || printf('%.2f', ln(tan(pi() / 4.0 + lat * pi() / 360.0)) * 6378137.0 - buffer_m)
              || ',' || printf('%.2f', lon * 6378137.0 * pi() / 180.0 + buffer_m)
              || ',' || printf('%.2f', ln(tan(pi() / 4.0 + lat * pi() / 360.0)) * 6378137.0 + buffer_m)
              || '&bboxSR=3857&imageSR=4326&size=256,256&format=tiff&pixelType=F32'
              || '&interpolation=RSP_BilinearInterpolation'
            FROM d""")
  )

  /** S9 ⊕ — row provenance (lineage): the incident-response query a
    * 100 TB estate runs when a bad value surfaces — WHICH physical file
    * did these rows come from? `input_file_name()` stamps every row
    * with its source file at scan time (zero shuffle, a literal per
    * task); the census per file (rows, users, exact cents) is the
    * file-level manifest a quarantine/rewrite job is scoped by. The
    * oracle reads the SAME staged files with DuckDB's `filename=true`,
    * so the lineage values themselves are cross-engine-verified, not
    * just the counts.
    *
    * The staged estate is the s9_partition_pruning sink (Hive-
    * partitioned by event_type), so provenance crosses partition
    * directories — file identity and partition identity are distinct
    * lineage levels and both appear in the output. */
  val rowProvenance = Q(
    "s9_row_provenance",
    "Row lineage: input_file_name stamps rows with their physical parquet file; per-file census (partition, rows, users, exact cents) oracled by DuckDB filename=true over the same files.",
    (s, _) => {
      import graft.Tables
      // PINNED to the sf0.01 estate regardless of the gate's dir: the
      // oracle SQL below is a STATIC string and must name a literal path
      // (ADVICE r8). The query proves input_file_name lineage mechanics;
      // scale-sensitivity lives in s9_partition_pruning, which is
      // dir-scoped. Both engines read the identical staged files, and
      // StagedEstate restages them whenever the source fixtures change.
      val srcDir = "/root/testdata/sf0.01"
      val path = graft.ops.StagedEstate.ensure(
        s"${graft.ops.Fixtures.Root}/events_by_type_sf0.01", srcDir) {
        Tables(s, srcDir).events.write.mode("overwrite").partitionBy("event_type").parquet(
          s"${graft.ops.Fixtures.Root}/events_by_type_sf0.01")
      }
      s.read.parquet(path)
        .select(
          regexp_extract(input_file_name(), "[^/]+$", 0).as("file_name"),
          regexp_extract(input_file_name(), "event_type=([^/]+)", 1).as("part"),
          col("user_id"),
          expr("cast(round(value * 100) as long)").as("cents"))
        .groupBy(col("file_name"), col("part"))
        .agg(count(lit(1)).as("n"),
          count_distinct(col("user_id")).as("n_users"),
          sum(col("cents")).as("sum_cents"))
        .orderBy(col("file_name"))
    },
    Some(s"""SELECT regexp_extract(filename, '[^/]+$$') AS file_name,
              regexp_extract(filename, 'event_type=([^/]+)', 1) AS part,
              count(*) AS n,
              CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
              CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM read_parquet('${graft.ops.Fixtures.Root}/events_by_type_sf0.01/*/*.parquet',
              filename=true)
            GROUP BY 1, 2 ORDER BY 1""")
  )

  /** S3 ⊕ — malformed-record quarantine ingest: at 100 TB of scraped
    * JSONL some fraction of lines is always broken, and DROPping them
    * silently (or failing the job) are both wrong — production ingest
    * parses in PERMISSIVE mode and routes the raw bytes of unparseable
    * records to a quarantine bucket for reprocessing. The staged feed
    * plants three syntactically-invalid line forms among 188 good ones;
    * Spark captures them via `columnNameOfCorruptRecord`, the oracle
    * discriminates the SAME lines with `json_valid`, and the census
    * carries a checksum per bucket (cents sum for parsed rows, raw line
    * length sum for quarantined ones) so both the parse and the capture
    * are value-verified, not just counted.
    *
    * Scale shape: one file scan, per-row parse, one ≤|tags|+1-group
    * aggregate — embarrassingly parallel; the quarantine branch adds no
    * shuffle, it's just another group. */
  val jsonQuarantine = Q(
    "s3_json_quarantine",
    "Quarantine ingest: PERMISSIVE JSONL scan with _corrupt capture; per-tag census over parsed rows + a _quarantine bucket checksummed by raw line length.",
    (s, _) => {
      graft.ops.Fixtures.stage()
      val schema = StructType(Seq(
        StructField("id", LongType), StructField("v", DoubleType),
        StructField("tag", StringType), StructField("_corrupt", StringType)))
      s.read.schema(schema)
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .json(graft.ops.Fixtures.IngestJsonl)
        .groupBy(when(col("_corrupt").isNotNull, lit("_quarantine"))
          .otherwise(col("tag")).as("bucket"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("_corrupt").isNotNull, length(col("_corrupt")))
            .otherwise(expr("cast(round(v * 100) as long)"))).as("checksum"))
        .orderBy(col("bucket"))
    },
    Some(s"""WITH l AS (
              SELECT line FROM read_csv('${graft.ops.Fixtures.IngestJsonl}',
                columns={'line': 'VARCHAR'}, delim='|', header=false, quote='')
            )
            SELECT CASE WHEN json_valid(line)
                        THEN json_extract_string(line, '$$.tag')
                        ELSE '_quarantine' END AS bucket,
              count(*) AS n,
              CAST(sum(CASE WHEN json_valid(line)
                THEN CAST(round(CAST(json_extract_string(line, '$$.v') AS DOUBLE) * 100) AS BIGINT)
                ELSE length(line) END) AS BIGINT) AS checksum
            FROM l GROUP BY 1 ORDER BY 1""")
  )

  /** S9 ⊕ — schema evolution across parquet generations: at 100 TB a
    * table's files were written over years by different pipeline
    * versions, so "the schema" is a merge. Generation 1 (even
    * event_ids) is written WITHOUT the later `cents` column; generation
    * 2 (odd event_ids) adds it. One `mergeSchema` read reconciles both
    * under the partition-discovered `gen` column, old files surface the
    * evolved column as NULL, and the census proves: the legacy column
    * (`value`) still aggregates across generations while the evolved
    * column is exactly as populated as its generation.
    *
    * Scale note: mergeSchema's footer-merge pass is a file-listing-time
    * cost (and on a real estate you'd pin the merged schema in a
    * catalog instead of re-deriving it per query); the scan itself
    * stays columnar with pruning/pushdown intact — PlanShapeSpec-class
    * properties are unchanged by evolution. */
  val schemaEvolution = Q(
    "s9_schema_evolution",
    "Schema evolution: two parquet generations (gen=2 adds a cents column) read as one mergeSchema scan; per-generation null/total census over old + evolved columns.",
    (s, dir) => {
      val path = s"${graft.ops.Fixtures.Root}/events_evolved_${new java.io.File(dir).getName}"
      val e = graft.Tables(s, dir).events
      def gen(n: Int): Unit = {
        val half = e.filter(col("event_id") % 2 === (n - 1))
        val out =
          if (n == 1) half.select(col("event_id"), col("user_id"), col("value"))
          else half.select(col("event_id"), col("user_id"), col("value"),
            expr("cast(round(value * 100) as long)").as("cents"))
        out.write.mode("overwrite").parquet(s"$path/gen=$n")
      }
      graft.ops.StagedEstate.ensure(path, dir) { gen(1); gen(2) }
      s.read.option("mergeSchema", "true").parquet(path)
        .groupBy(col("gen"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_null_cents"),
          sum(coalesce(col("cents"), lit(0L))).as("sum_cents"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("gen"))
    },
    Some("""WITH e AS (
              SELECT event_id, value,
                CAST(round(value * 100) AS BIGINT) AS cents,
                CAST(1 + event_id % 2 AS INT) AS gen
              FROM events
            )
            SELECT gen, count(*) AS n,
              CAST(sum(CASE WHEN gen = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_cents,
              CAST(sum(CASE WHEN gen = 2 THEN cents ELSE 0 END) AS BIGINT) AS sum_cents,
              round(sum(value), 2) AS sum_value
            FROM e GROUP BY 1 ORDER BY 1""")
  )

  /** S9 extension — ORC interchange round-trip: the engine is not
    * parquet-bound. Lineitem pricing columns are written as
    * zstd-compressed ORC (with predicate pushdown left ON), read back
    * through Spark's native vectorized ORC reader with a pushable
    * filter, and censused. The oracle computes the same census from the
    * original parquet fixture, so any type coercion, precision loss, or
    * filter-semantics drift through the ORC writer/reader breaks the
    * hash — a true lossless-interchange proof, same pattern as the
    * parquet sink queries. At 100 TB ORC matters as the interchange
    * format with Hive/Trino estates; the scan keeps columnar pruning
    * and pushdown either way (pinned in PlanShapeSpec). */
  val orcRoundtrip = Q(
    "s9_orc_roundtrip",
    "ORC round-trip: lineitem pricing -> zstd ORC sink -> vectorized ORC scan with pushed filter -> census; oracle reads the parquet original.",
    (s, dir) => {
      val path = graft.ops.StagedEstate.ensure(
        s"${graft.ops.Fixtures.Root}/lineitem_orc_${new java.io.File(dir).getName}", dir) {
        graft.Tables(s, dir).lineitem
          .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"),
            col("l_returnflag"))
          .write.mode("overwrite").option("compression", "zstd").orc(
            s"${graft.ops.Fixtures.Root}/lineitem_orc_${new java.io.File(dir).getName}")
      }
      s.read.orc(path)
        .filter(col("l_quantity") >= 25)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          expr("cast(round(sum(l_quantity)) as long)").as("qty_sum"),
          // per-row exact cents BEFORE the sum: a rounded double SUM is
          // accumulation-order-sensitive at integer-cent precision
          expr("sum(cast(round(l_extendedprice * 100) as long))").as("price_cents"),
          sum(col("l_orderkey")).as("key_sum"))
    },
    Some("""SELECT l_returnflag, count(*) AS n,
              CAST(round(sum(l_quantity)) AS BIGINT) AS qty_sum,
              CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
              CAST(sum(l_orderkey) AS BIGINT) AS key_sum
            FROM lineitem WHERE l_quantity >= 25
            GROUP BY 1""")
  )

  /** S1–S6 operational envelope — per-provider request budgets
    * (VERDICT r8 missing #1): the reference's free-tier quotas
    * (OpenWeatherMap 1,000/day, README.md:202-206) enforced CLIENT-side
    * by [[graft.sources.RestRateLimiter]]. Six staged urls against a
    * budget of 4 with 5 ms pacing, single partition so the spend order
    * is the url order: the first four fetch (status 200, attempts 1),
    * the last two surface as status = -2 budget rows with ZERO attempts
    * — rows to re-drive tomorrow, never task failures. The oracle is the
    * statically-known outcome table; hash equality pins the
    * deny-don't-fail contract and the exact spend order. */
  val restRateLimit = Q(
    "s1_rest_rate_limit",
    "Client-side provider quota on the live REST connector: 6 fetches against a 4-request window budget with pacing; denied requests are status=-2 rows with 0 attempts.",
    (s, _) => {
      import graft.ops.{Fixtures, StagedRestEndpoint}
      val base = StagedRestEndpoint.baseUrl
      val urls = Seq(s"$base/files/text/weather_current.jsonl") ++
        Fixtures.sites.map(st => s"$base/files/rasters/veg_${st.id}.tif")
      s.read.format("graft.sources.RestSource")
        .option("urls", urls.mkString("\n"))
        .option("urlsPerPartition", "100") // one partition => deterministic spend order
        .option("maxRequestsPerWindow", "4")
        .option("minIntervalMs", "5")
        .load()
        .select(
          element_at(split(col("url"), "/"), -1).as("resource"),
          col("status"), col("attempts"))
    },
    Some("""SELECT * FROM (VALUES
              ('weather_current.jsonl', 200, 1),
              ('veg_req_la.tif', 200, 1),
              ('veg_req_yellowstone.tif', 200, 1),
              ('veg_req_death_valley.tif', 200, 1),
              ('veg_req_seattle.tif', -2, 0),
              ('veg_req_mono.tif', -2, 0)) AS t(resource, status, attempts)""")
  )

  /** S9 ⊕ — merge-on-read DELETION VECTORS, the lakehouse delete path
    * that does NOT rewrite data files (Delta DVs / Iceberg position
    * deletes): a delete emits only (file, row_position) tombstones and
    * every reader anti-joins them in. Next to u6_forget_users (the
    * copy-on-write face) this is the read side of the cheap-delete
    * trade-off. The estate is a multi-file staging of events; the DV is
    * built ONCE from content (event_id % 97 = 0 — a stand-in GDPR
    * delete list), but the read path deletes BY POSITION: the survivors
    * census anti-joins on (file_name, row_index) via Spark's `_metadata`
    * scan fields, never re-evaluating the content predicate — exactly
    * how a DV reader must behave (the delete list's content rule is
    * unknowable at read time). DuckDB independently reproduces both
    * sides with filename + file_row_number.
    *
    * Scale shape: the DV build is one scan; the MOR read is one scan +
    * one anti-join keyed on (file, position) — at production scale the
    * DV side is file-partitioned and tiny relative to data (deletes are
    * sparse), so the anti-join broadcasts. PINNED to the sf0.01 estate:
    * the oracle SQL is a static string naming a literal path (the
    * s9_row_provenance constraint); StagedEstate restages on fixture
    * drift. */
  val deletionVectors = Q(
    "s9_deletion_vectors",
    "Merge-on-read deletion vectors: (file, row_index) tombstones anti-joined at read via _metadata / file_row_number; per-type survivor census + deleted count.",
    (s, _) => {
      import graft.Tables
      val srcDir = "/root/testdata/sf0.01"
      val path = graft.ops.StagedEstate.ensure(
        s"${graft.ops.Fixtures.Root}/events_mor_sf0.01", srcDir) {
        Tables(s, srcDir).events.repartition(4).write.mode("overwrite")
          .parquet(s"${graft.ops.Fixtures.Root}/events_mor_sf0.01")
      }
      val scan = s.read.parquet(path).select(
        col("_metadata.file_name").as("f"),
        col("_metadata.row_index").as("ri"),
        col("event_id"), col("event_type"),
        expr("cast(round(value * 100) as long)").as("cents"))
      // the DV: positions only — content rule applied ONCE at build
      val dv = scan.filter(col("event_id") % 97 === 0)
        .select(col("f"), col("ri")).localCheckpoint()
      val survivors = scan.join(dv, Seq("f", "ri"), "left_anti")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_live"), sum(col("cents")).as("sum_cents"))
      val deleted = scan.join(dv, Seq("f", "ri"), "left_semi")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_deleted"))
      survivors.join(deleted, Seq("event_type"), "left")
        .select(col("event_type"), col("n_live"),
          coalesce(col("n_deleted"), lit(0L)).as("n_deleted"), col("sum_cents"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH scan AS (
              SELECT filename AS f, file_row_number AS ri, event_id, event_type,
                CAST(round(value * 100) AS BIGINT) AS cents
              FROM read_parquet('${graft.ops.Fixtures.Root}/events_mor_sf0.01/*.parquet',
                filename=true, file_row_number=true)
            ), dv AS (
              SELECT f, ri FROM scan WHERE event_id % 97 = 0
            ), survivors AS (
              SELECT event_type, count(*) AS n_live,
                CAST(sum(cents) AS BIGINT) AS sum_cents
              FROM scan ANTI JOIN dv USING (f, ri)
              GROUP BY 1
            ), deleted AS (
              SELECT event_type, count(*) AS n_deleted
              FROM scan SEMI JOIN dv USING (f, ri)
              GROUP BY 1
            )
            SELECT s.event_type, s.n_live,
              CAST(coalesce(d.n_deleted, 0) AS BIGINT) AS n_deleted, s.sum_cents
            FROM survivors s LEFT JOIN deleted d USING (event_type)
            ORDER BY s.event_type""")
  )

  def all: Seq[Q] = Seq(jsonSource, binaryScan, dsv2, dsv2Agg, partitionPruning,
    zorder, compactionPlan, bucketedJoin, restFetch, requestUrls, schemaEvolution,
    jsonQuarantine, rowProvenance, orcRoundtrip, restRateLimit, deletionVectors)
}
