package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A/B bench for the bucketed co-located join (`s9_bucketed_join`):
  * the SAME join+census, once over the bucketBy(8, orderkey) tables and
  * once over the plain parquet fixtures, with shuffle WRITE bytes
  * tallied per variant — the data-plane proof that bucketing removes
  * the fact-to-fact exchange rather than merely hiding it in noise.
  *
  * Auto-broadcast is disabled for BOTH variants: at fixture scale Spark
  * would broadcast `orders` and answer the shuffle question for neither
  * engine; at 100 TB neither side of lineitem ⋈ orders broadcasts, so
  * shuffle-vs-no-shuffle is exactly the production question. Each
  * variant gets one untimed warm-up then min-of-3, interleaved A/B so
  * host drift hits both sides equally (the `tools/QueryRuns` discipline).
  *
  * Usage: sbt "runMain graft.BucketBench [sfDir] [outFile]"
  */
object BucketBench {

  private def census(lineitem: DataFrame, orders: DataFrame): DataFrame =
    lineitem.join(orders, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_lines"),
        sum(round(col("l_quantity")).cast("long")).as("sum_qty"),
        sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outFile = if (args.length > 1) args(1)
      else "/root/repo/target/scale/bucket_bench.json"
    val spark = GraftSession.local("graft-bucketbench")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val profile = Profile(spark)

    // stage the bucketed tables (first call writes, later calls reuse)
    graft.queries.QueryRegistry.queries("s9_bucketed_join")(spark, dir).count()

    val staged = graft.queries.SourceQueries.bucketedTables(dir)
    val t = Tables(spark, dir)
    def bucketed(): DataFrame =
      census(spark.table(staged.lineitem), spark.table(staged.orders))
    def plain(): DataFrame =
      census(
        t.lineitem.select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice")),
        t.orders.select(col("o_orderkey"), col("o_orderstatus")))

    def once(variant: String, mk: () => DataFrame): Profile.Run[Long] =
      profile.run(s"bucket_bench:$variant")(mk().count())

    once("bucketed", bucketed); once("plain", plain) // warm-up, untimed
    val timed = (1 to 3).map(_ => (once("bucketed", bucketed), once("plain", plain)))
    val (tb, tp) = (timed.map(_._1.wallS).min, timed.map(_._2.wallS).min)
    val (sb, sp) = (timed.head._1.shuffleWriteBytes, timed.head._2.shuffleWriteBytes)
    val line =
      s"""{"metric":"bucket_bench","dir":"$dir","bucketed_s":$tb,"plain_s":$tp,""" +
        s""""speedup":${tp / tb},"bucketed_shuffle_bytes":$sb,"plain_shuffle_bytes":$sp}"""
    println(line)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outFile).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outFile), line + "\n")
    spark.stop()
  }
}
