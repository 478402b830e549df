package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, salt) through xxhash64, so the same seed writes the
  * same rows whatever the partitioning, and a different seed writes
  * different ones. Files are written with a fixed partition count, so
  * the parquet bytes are reproducible too (see SelfTest).
  */
final class Gen(spark: SparkSession, seed: Long) {

  private val Two53 = 1L << 53

  /** Uniform double in [0, 1) for the current row of `spark.range`. */
  def u(salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(id, lit(seed), lit(salt)), lit(Two53)).cast("double") / Two53.toDouble

  /** Uniform long in [lo, hi). */
  def ui(salt: Int, lo: Long, hi: Long, id: Column = col("id")): Column =
    (lit(lo) + floor(u(salt, id) * (hi - lo)).cast("long"))

  def pick(salt: Int, values: Seq[String], id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), (ui(salt, 0, values.size.toLong, id) + 1).cast("int"))

  private def write(df: DataFrame, path: String, files: Int): Unit =
    df.coalesce(files).write.mode("overwrite").parquet(path)

  private def rows(n: Long, parts: Int = 4): DataFrame = spark.range(0, n, 1, parts).toDF()

  private def ntz(day0: String, maxDays: Long, salt: Int): Column =
    (to_timestamp_ntz(lit(day0)) + make_dt_interval(ui(salt, 0, maxDays).cast("int")))

  /** The TPC-H-like star schema plus events, documents and embeddings,
    * with the column names, types and value domains the query registry
    * reads. `sf` scales the fact tables like the fixture generator
    * (lineitem = 6M x sf rows). */
  def tables(dir: String, sf: Double): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    // the tables are independent: plan every write, then run them as
    // concurrent jobs (one job each, so the bytes do not depend on it)
    val writes = mutable.ArrayBuffer[() => Unit]()
    def write(df: DataFrame, path: String, files: Int): Unit = writes += (() => Gen.this.write(df, path, files))
    write(rows(5, 1).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")), s"$dir/region.parquet", 1)
    write(rows(25, 1).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      pmod(col("id"), lit(5)).cast("int").as("n_regionkey")), s"$dir/nation.parquet", 1)

    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrd = n(1500000); val nLine = n(6000000)
    write(rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ui(1, 0, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(2) * 10999.98, 2).as("c_acctbal"),
      pick(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      s"$dir/customer.parquet", 1)
    write(rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ui(1, 0, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(2) * 10999.98, 2).as("s_acctbal")), s"$dir/supplier.parquet", 1)
    val adj = Seq("blue", "old", "small", "new", "red", "large", "hot", "cold")
    val noun = Seq("widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil")
    write(rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ", pick(1, adj), pick(2, noun)).as("p_name"),
      concat(lit("Brand#"), ui(3, 1, 26)).as("p_brand"),
      pick(4, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      ui(5, 1, 51).cast("int").as("p_size"),
      round(lit(900.0) + pmod(col("id"), lit(1000)) / 10.0, 1).as("p_retailprice")),
      s"$dir/part.parquet", 1)
    write(rows(nOrd).select(col("id").as("o_orderkey"),
      ui(1, 0, nCust).as("o_custkey"),
      pick(2, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(3) * 499000.0, 2).as("o_totalprice"),
      ntz("1995-01-01", 2404, 4).as("o_orderdate"),
      pick(5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      s"$dir/orders.parquet", 1)
    write(rows(nLine).select(ui(1, 0, nOrd).as("l_orderkey"),
      ui(2, 0, nPart).as("l_partkey"),
      ui(3, 0, nSupp).as("l_suppkey"),
      ui(4, 1, 8).cast("int").as("l_linenumber"),
      ui(5, 1, 51).cast("double").as("l_quantity"),
      round(lit(900.0) + u(6) * 104100.0, 2).as("l_extendedprice"),
      (ui(7, 0, 11) / 100.0).as("l_discount"),
      (ui(8, 0, 9) / 100.0).as("l_tax"),
      pick(9, Seq("A", "N", "R")).as("l_returnflag"),
      pick(10, Seq("F", "O")).as("l_linestatus"),
      ntz("1995-01-02", 2498, 11).as("l_shipdate")), s"$dir/lineitem.parquet", 2)

    write(eventsFrame(n(1000000), math.max(1L, n(15000))).withColumn("ts", col("ts").cast("timestamp_ntz")),
      s"$dir/events.parquet", 1)

    // documents: 10..100 words over the fixture's 30-word vocabulary,
    // ~2% exact copies of the previous document (the dedup paths)
    val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
      "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query",
      "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector")
    val nDocs = math.max(500L, math.round(500 + 4500 * math.min(1.0, sf / 0.1)))
    val base = when(u(1) < 0.02 && col("id") > 0, col("id") - 1).otherwise(col("id"))
    val words = transform(sequence(lit(1), ui(2, 10, 101, base).cast("int")),
      j => element_at(array(vocab.map(lit): _*),
        (pmod(xxhash64(base, lit(seed), j), lit(vocab.size.toLong)) + 1).cast("int")))
    write(rows(nDocs).select(col("id").as("doc_id"), array_join(words, " ").as("text"),
      pick(3, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), pmod(col("id"), lit(20))).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), s"$dir/documents.parquet", 1)

    // embeddings: 64-d unit vectors clustered around one centre per label
    val nVec = math.max(500L, math.round(500 + 1500 * math.min(1.0, sf / 0.1)))
    def gauss(id: Column, salt: Column): Column = {
      val u1 = pmod(xxhash64(id, lit(seed), salt), lit(Two53)).cast("double") / Two53.toDouble
      val u2 = pmod(xxhash64(id, lit(seed + 1), salt), lit(Two53)).cast("double") / Two53.toDouble
      sqrt(lit(-2.0) * log(lit(1.0) - u1)) * cos(lit(2 * math.Pi) * u2)
    }
    val raw = rows(nVec).select(col("id").as("vec_id"), ui(1, 0, 10).cast("int").as("label"))
      .withColumn("raw", transform(sequence(lit(0), lit(63)), d =>
        gauss(col("label") - 100, d) + gauss(col("vec_id"), d + 100) * 0.7))
      .withColumn("norm", sqrt(aggregate(col("raw"), lit(0.0), (acc, x) => acc + x * x)))
    write(raw.select(col("vec_id"),
      transform(col("raw"), x => (x / col("norm")).cast("float")).as("embedding"), col("label")),
      s"$dir/embeddings.parquet", 1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writes.map(f => pool.submit(new Runnable { def run(): Unit = f() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** The `events` table shape: ids in ts order over January 2024 (30
    * days), exponential values (mean 50), `{"k": n}` props. */
  def eventsFrame(nEvents: Long, nUsers: Long, parts: Int = 4): DataFrame = {
    val span = 30L * 86400L * 1000000L
    rows(nEvents, parts).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        floor((col("id") + u(1)) * (span.toDouble / nEvents)).cast("long")).as("ts"),
      ui(2, 0, nUsers).as("user_id"),
      pick(3, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(lit(-50.0) * log(lit(1.0) - u(4)), 2).as("value"),
      concat(lit("{\"k\": "), ui(5, 0, 100), lit("}")).as("props"))
  }

  /** Stream backlog: `files` parquet files of TimestampType events, each
    * a contiguous event-time range, in one directory. */
  def streamBacklog(dir: String, nEvents: Long, nUsers: Long, files: Int): Unit =
    write(eventsFrame(nEvents, nUsers, files), dir, files)

  /** A synthetic graph in the `CcScaleAb` shape: `m` edges, endpoints
    * xxhash64 of the edge index modulo `n`, self-loops dropped. */
  def graph(path: String, n: Long, m: Long): Unit =
    write(rows(m).select(
      pmod(xxhash64(col("id"), lit(seed)), lit(n)).as("src"),
      pmod(xxhash64(col("id") + m, lit(seed)), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst")), path, 4)

  /** Coordinates for a bulk /collect backfill: `n` rows inside the
    * continental-US box, ~10% of them moved to London (rejected as
    * outside the supported regions). Returns the number of those. */
  def bulkRequests(path: String, reqId: String, n: Long): Long = {
    val g = new Gen(spark, seed * 7919 + reqId.hashCode.toLong)
    val bad = g.u(1) >= 0.9
    val df = rows(n, 1).select(
      concat(lit(reqId + "-"), col("id")).as("request_id"),
      when(bad, lit(51.5074)).otherwise(lit(25.0) + g.u(2) * 24.0).as("lat"),
      when(bad, lit(-0.1278)).otherwise(lit(-124.0) + g.u(3) * 56.0).as("lon"),
      g.ui(4, 100, 50001).cast("int").as("buffer_m"),
      concat(lit("evt-"), g.ui(5, 0, 100000)).as("event_id"))
    write(df, path, 1)
    rows(n, 1).filter(bad).count()
  }
}
