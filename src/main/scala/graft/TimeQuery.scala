package graft

/** Ad-hoc per-query profiler: time one registered query N times and print
  * each run plus the executed plan, for iterating on a single query's
  * physical plan without a full bench sweep.
  *
  * Each run materializes the full result through the `noop` sink (as
  * `tools/PlanFiles` does): timing `count()` would let the optimizer
  * prune every column the count does not need and skew the number. The
  * row count is taken once, outside the timed runs.
  *
  * Usage: sbt "runMain graft.TimeQuery <name> [sfDir] [reps]"
  */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val reps = if (args.length > 2) args(2).toInt else 4
    val spark = GraftSession.local("graft-time")
    val fn = queries.QueryRegistry.queries(name)
    val times = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      println(f"run $i: $dt%.3f s")
      dt
    }
    println(f"min: ${times.min}%.3f s (${fn(spark, sfDir).count()} rows)")
    fn(spark, sfDir).explain("formatted")
    spark.stop()
  }
}
