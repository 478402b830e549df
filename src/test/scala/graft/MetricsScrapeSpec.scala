package graft

import graft.ops.MetricsScrape
import org.apache.spark.sql.functions._

/** The batch /metrics scrape surface: observed output rows must equal
  * the true result cardinalities (an `Observation` on the same job, not
  * a re-count), shuffle gauges must distinguish shuffling from
  * non-shuffling queries, and the scrape must work under the production
  * default AQE=on (AQE stage jobs carry the query's job tag) with no
  * conf toggling at all.
  */
class MetricsScrapeSpec extends SparkSpecBase {

  test("scrape rows carry engine-reported cardinalities and shuffle gauges under AQE") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    val items = Seq(
      "orders_by_status" -> t.orders.groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n")),
      "nations_scan" -> t.nation.select(col("n_name")))
    // the scrape must run the scraped queries under AQE, not around it
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true",
      "precondition: this spec proves the scrape on ADAPTIVE plans")
    val out = MetricsScrape.run(spark, items).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")

    val trueStatuses = t.orders.select("o_orderstatus").distinct().count()
    val (aggRows, aggWall, aggShuffle) = out("orders_by_status")
    assert(aggRows == trueStatuses, s"observed rows $aggRows != true $trueStatuses")
    assert(aggWall >= 0)
    assert(aggShuffle > 0, "a groupBy must report shuffled bytes")

    val (scanRows, _, scanShuffle) = out("nations_scan")
    assert(scanRows == 25) // nation is fixed-size
    assert(scanShuffle == 0, "a pure scan must report zero shuffled bytes")
  }

  test("a missed label fails loudly instead of returning a short table") {
    // every item gets its row from its own run: none may silently
    // vanish from the scrape
    val t = Tables(spark, "/root/testdata/sf0.001")
    val out = MetricsScrape.run(spark,
      Seq("one" -> t.region.select(col("r_name"))))
    assert(out.count() == 1)
  }

  test("duplicate labels are rejected at entry, not silently merged") {
    // a duplicate label would give two queries one job tag and one row
    val t = Tables(spark, "/root/testdata/sf0.001")
    val e = intercept[IllegalArgumentException] {
      MetricsScrape.run(spark, Seq(
        "same" -> t.region.select(col("r_name")),
        "same" -> t.nation.select(col("n_name"))))
    }
    assert(e.getMessage.contains("duplicate scrape labels"))
    assert(e.getMessage.contains("same"))
    // a label is a job tag, and a comma separates job tags
    val c = intercept[IllegalArgumentException] {
      MetricsScrape.run(spark, Seq(
        "fine" -> t.region.select(col("r_name")),
        "a,b" -> t.nation.select(col("n_name"))))
    }
    assert(c.getMessage.contains("a,b"))
  }
}
