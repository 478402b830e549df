package graft

import java.nio.file.Files
import graft.streaming.EventStreamPipeline
import org.apache.spark.sql.functions._

/** Stream-stream interval join: the streamed inner join must equal the
  * batch join on the same data once the stream drains. Source files are
  * range-partitioned by ts, and their mtimes are stamped in range order,
  * because the file source reads files in mtime order: micro-batches then
  * arrive in time order and the 2h watermark covers the rest. Parallel
  * writers finish in any order, and a later ts range read first moves the
  * watermark past an earlier one, whose rows the join then drops as late. */
class IntervalJoinSpec extends SparkSpecBase {

  test("streamed click->purchase interval join equals the batch join") {
    val src = Files.createTempDirectory("ij_src").toString
    val events = Tables(spark, "/root/testdata/sf0.001").events
    events.repartitionByRange(6, col("ts")).sortWithinPartitions(col("ts"))
      .write.mode("overwrite").parquet(src)
    for ((f, i) <- new java.io.File(src).listFiles().filter(_.getName.startsWith("part-"))
        .sortBy(_.getName).zipWithIndex)
      f.setLastModified(1000000000000L + i * 60000L)

    val sink = Files.createTempDirectory("ij_sink").toString
    val q = EventStreamPipeline.runIntervalJoin(spark, src, sink,
      Files.createTempDirectory("ij_ck").toString)
    // 300s: under full-suite load the shared local[4] session can take
    // well past 120s to drain 6 micro-batches (observed flake)
    assert(q.awaitTermination(300000), "streaming query did not terminate within 300s")

    val streamed = spark.read.parquet(sink)
      .select("user_id", "purchase_id", "click_id").distinct()
    val batch = EventStreamPipeline.clickToPurchaseJoin(events)
      .select("user_id", "purchase_id", "click_id").distinct()

    val missing = batch.join(streamed, Seq("user_id", "purchase_id", "click_id"), "left_anti").count()
    val extra = streamed.join(batch, Seq("user_id", "purchase_id", "click_id"), "left_anti").count()
    assert(batch.count() > 0, "batch join is empty — fixture lost its click/purchase overlap")
    assert(missing == 0 && extra == 0,
      s"join results diverge: batch=${batch.count()} streamed=${streamed.count()} missing=$missing extra=$extra")
  }
}
