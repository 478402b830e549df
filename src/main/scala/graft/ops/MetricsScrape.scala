package graft.ops

import graft.Profile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The engine-side `/metrics` scrape surface — the analog of the
  * reference's Prometheus scrape config over every container
  * (`monitoring/prometheus.yml:15-23`): each labeled query runs to
  * completion under [[graft.Profile.run]], its label as the job tag, and
  * becomes one metrics row read from the engine's own instrumentation:
  *  - `rows_out`: an `Observation` counted on the job that writes the
  *    rows (no second pass);
  *  - `wall_ms`: the wall time of the write;
  *  - `shuffle_bytes`: the shuffle-write bytes the query's tasks report,
  *    AQE stage jobs included (not the exchanges' uncompressed
  *    `dataSize`, which an earlier plan-walking version reported).
  * The write is a NOOP sink, not `collect()`: the full plan runs on the
  * executors and no result row reaches the driver. Driver-side work is
  * constant per query, as for a Prometheus exporter.
  */
object MetricsScrape {

  final case class MetricRow(query_label: String, rows_out: Long,
                             wall_ms: Long, shuffle_bytes: Long)

  /** Run each labeled DataFrame to completion and return the metrics
    * table (one row per query, in label order). A label is a job tag:
    * non-empty, without a comma, and unique in `items`. */
  def run(spark: SparkSession, items: Seq[(String, DataFrame)]): DataFrame = {
    // duplicate labels would give two queries one tag and one row — fail at entry
    require(items.map(_._1).distinct.size == items.size,
      s"duplicate scrape labels: ${items.map(_._1).diff(items.map(_._1).distinct).distinct.mkString(", ")}")
    items.foreach { case (lbl, _) => Profile.requireFreeTag(spark.sparkContext, lbl) }
    val profile = Profile(spark)
    val rows = try items.map { case (lbl, df) =>
      val obs = Observation(lbl)
      val r = profile.run(lbl)(
        df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save())
      MetricRow(lbl, obs.get("rows").asInstanceOf[Long], (r.wallS * 1000).toLong, r.shuffleWriteBytes)
    } finally profile.close()
    import spark.implicits._
    rows.toDF().orderBy(col("query_label"))
  }
}
