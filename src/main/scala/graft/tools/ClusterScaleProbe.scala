package graft.tools

import graft.{GraftSession, ShuffleTally}
import graft.queries.QueryRegistry
import org.apache.spark.sql.SparkSession

/** Scale × process-boundary probe (VERDICT r10 next #1 — the one
  * untested 100-TB combination): run a named subset of the registry's
  * heaviest queries at a REAL estate (sf1+) under whatever master
  * `SPARK_GRAFT_MASTER` selects, recording per-query wall (min-of-N),
  * shuffle bytes, output rows, and an order-insensitive result hash.
  * Running it twice — once under `local[32]`, once under
  * `local-cluster[2,2,1024]` (separate executor JVMs, 1 GB heaps, real
  * Netty shuffle/broadcast transport) — and diffing the hashes proves
  * the big exchanges survive executor-memory pressure and network
  * transport AND still produce bit-identical results across the
  * process boundary at scale.
  *
  * Usage: [SPARK_GRAFT_MASTER=...] spark-submit
  *   --class graft.tools.ClusterScaleProbe <jar> <sfDir> <outJson>
  *   <q1,q2,...> [reps]
  */
object ClusterScaleProbe {

  private def resultHash(spark: SparkSession, df: org.apache.spark.sql.DataFrame): (Long, String) = {
    val rows = df.collect().map(_.toString).sorted
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.foreach(s => md.update(s.getBytes("UTF-8")))
    (rows.length.toLong, md.digest().map("%02x".format(_)).mkString)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "args: <sfDir> <outJson> <q1,q2,...> [reps]")
    val sfDir = args(0); val outJson = args(1)
    val names = args(2).split(',').toSeq
    val reps = if (args.length > 3) args(3).toInt else 2
    val spark = GraftSession.local("graft-cluster-scale")
    spark.sparkContext.setLogLevel("ERROR")
    val tally = new ShuffleTally
    spark.sparkContext.addSparkListener(tally)

    val unknown = names.filterNot(QueryRegistry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    val results = names.map { name =>
      val fn = QueryRegistry.queries(name)
      // warm-up (untimed) also yields the hash; timed runs min-of-reps
      val (nRows, hash) = resultHash(spark, fn(spark, sfDir))
      spark.catalog.clearCache()
      val runs = (1 to reps).map { _ =>
        val m0 = tally.settle(); val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        val sb = tally.settle() - m0
        spark.catalog.clearCache()
        (dt, sb)
      }
      val wall = runs.map(_._1).min
      val bytes = runs.map(_._2).max // per-run shuffle volume is stable; max guards a 0 read-race
      System.err.println(f"$name%-32s $wall%8.2f s  shuffle=$bytes%,d B  rows=$nRows")
      s""""$name":{"wall_s":$wall,"shuffle_bytes":$bytes,"rows":$nRows,"hash":"$hash"}"""
    }

    val line = s"""{"probe":"cluster_scale","sf":"$sfDir","master":"${spark.sparkContext.master}",""" +
      s""""reps":$reps,"queries":{${results.mkString(",")}}}"""
    println(line)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outJson), line + "\n")
    spark.stop()
  }
}
