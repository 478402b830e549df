package graft

import graft.queries.QueryRegistry
import graft.tools.QueryRuns
import org.apache.spark.sql.functions._

/** Smoke run of [[graft.tools.QueryRuns]] over a tiny staged events
  * table given twice as two dirs: the rows are the query's own count,
  * and the fingerprint is the same for both dirs and a second call. */
class QueryRunsSpec extends SparkSpecBase {

  test("rows match the query's count; fingerprints repeat across dirs and calls") {
    val dir = java.nio.file.Files.createTempDirectory("query_runs").toString
    // 600 events of 40 users over ~8 days, one in five an error
    spark.range(600).select(
        (col("id") % 40).as("user_id"),
        when(col("id") % 5 === 0, "error").otherwise("view").as("event_type"),
        timestamp_seconds(lit(1700000000L) + col("id") * 1100).as("ts"))
      .coalesce(1).write.parquet(s"$dir/events.parquet")
    val names = Seq("w7_retention_cohorts", "a13_theil_sen")
    val first = QueryRuns.run(spark, Seq(dir, dir), names, reps = 2)
    val again = QueryRuns.run(spark, Seq(dir), names, reps = 1)
    assert(first.map(_._1) == names)
    first.zip(again).foreach { case ((name, runs), (_, rerun)) =>
      val n = QueryRegistry.queries(name)(spark, dir).count()
      assert(n > 0 && runs.forall(_.rows == n), s"$name: count $n, runs $runs")
      assert((runs ++ rerun).map(_.fingerprint).distinct.size == 1, s"$name: $runs / $rerun")
      assert(runs.forall(r => r.jobs >= 1 && r.wallS > 0), s"$name: $runs")
    }
    // the retention triangle shuffles; its profile says so
    assert(first.head._2.forall(_.shuffleBytes > 0), first.head._2)
  }
}
