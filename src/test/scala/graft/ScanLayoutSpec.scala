package graft

import graft.ops.ScanLayout
import org.apache.spark.sql.functions._

/** Pins the scale-adaptive scan widen (ops/ScanLayout): it hashes a
  * narrower-than-the-session frame out to `defaultParallelism` on the
  * requested key, it is the IDENTITY once the input already carries at
  * least that many partitions (the 100 TB case — splittable inputs),
  * and it never changes results. */
class ScanLayoutSpec extends SparkSpecBase {
  import spark.implicits._

  test("widens a 1-partition frame to defaultParallelism on the key") {
    val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
    assert(df.rdd.getNumPartitions == 1)
    val wide = ScanLayout.widenByKey(df, col("k"))
    assert(wide.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // identical rows, and a same-key groupBy needs NO further exchange:
    // the widen IS the aggregation's exchange
    assert(wide.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
    val agg = wide.groupBy(col("k")).agg(count(lit(1)))
    val shuffles = "Exchange hashpartitioning[^\n]*ENSURE_REQUIREMENTS".r
      .findAllIn(agg.queryExecution.executedPlan.toString).size
    assert(shuffles == 0,
      s"groupBy after widenByKey planned its own exchange:\n${agg.queryExecution.executedPlan.toString.take(2000)}")
  }

  test("identity when the layout already has >= defaultParallelism partitions") {
    val n = spark.sparkContext.defaultParallelism
    // checkpointed: widenByKey rejects a frame that still holds an exchange
    val df = (1 to 100).map(i => (i.toLong, i)).toDF("k", "v").repartition(n + 1).localCheckpoint()
    val out = ScanLayout.widenByKey(df, col("k"))
    assert(out eq df) // the very same frame — no repartition node added
  }

  private def parquetScan() = {
    val dir = java.nio.file.Files.createTempDirectory("scan_layout").toString
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$dir/t.parquet")
    spark.read.parquet(s"$dir/t.parquet")
  }

  test("widening a raw parquet scan runs no job") {
    val scan = parquetScan()
    val profile = Profile(spark)
    try {
      val widened = profile.run("scan-layout-spec-widen")(ScanLayout.widenByKey(scan, col("k")))
      assert(widened.jobs == 0, s"the partition probe ran ${widened.jobs} jobs")
      assert(widened.value.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    } finally profile.close()
  }

  test("a frame with an exchange is rejected before any job runs") {
    val grouped = parquetScan().groupBy(col("k")).agg(count(lit(1)).as("n"))
    val profile = Profile(spark)
    try {
      val rejected = profile.run("scan-layout-spec-reject") {
        intercept[IllegalArgumentException](ScanLayout.widenByKey(grouped, col("k")))
      }
      assert(rejected.jobs == 0, s"the rejected probe ran ${rejected.jobs} jobs")
    } finally profile.close()
  }
}
