package graft

import java.nio.file.Files
import graft.streaming.StreamingMerge
import org.apache.spark.sql.functions._

/** Streamed CDC merge vs the batch aggregate: because the merge fold is
  * commutative and associative (counts add, latest-wins compares a
  * unique (ts, event_id) struct), the drained snapshot must equal the
  * one-shot batch aggregate under ANY partitioning into micro-batches —
  * so the replay deliberately uses UNORDERED files. */
class StreamingMergeSpec extends SparkSpecBase {

  test("drained snapshot equals the batch aggregate; versions are monotone") {
    val src = Files.createTempDirectory("mrg_src").toString
    val events = Tables(spark, "/root/testdata/sf0.001").events
    events.repartition(8).write.mode("overwrite").parquet(src) // unordered

    val snap = Files.createTempDirectory("mrg_snap").toString
    val q = StreamingMerge.run(spark, src, snap,
      Files.createTempDirectory("mrg_ck").toString)
    assert(q.awaitTermination(120000), "streaming query did not terminate within 120s")

    val finalSnap = StreamingMerge.latestSnapshot(spark, snap)
      .getOrElse(fail("no snapshot version written"))
    val batch = StreamingMerge.reduceBatch(events)

    assert(finalSnap.count() == batch.count())
    val mism = finalSnap.join(
        batch.select(col("user_id"), col("last_event_id").as("b_id"),
          col("n_events").as("b_n"), col("last_value").as("b_v")), "user_id")
      .filter(col("last_event_id") =!= col("b_id") ||
        col("n_events") =!= col("b_n") || col("last_value") =!= col("b_v"))
    assert(mism.count() == 0, "drained snapshot diverged from the batch aggregate")

    // versions: more than one (multiple micro-batches), per-user counts
    // monotone non-decreasing version over version
    val vs = new java.io.File(snap).listFiles().filter(_.getName.startsWith("v"))
      .map(_.getAbsolutePath).sorted
    assert(vs.length > 1, "expected multiple snapshot versions")
    for (Array(a, b) <- vs.sliding(2).map(_.toArray)) {
      val shrank = spark.read.parquet(a).select(col("user_id"), col("n_events").as("n_a"))
        .join(spark.read.parquet(b).select(col("user_id"), col("n_events").as("n_b")), "user_id")
        .filter(col("n_b") < col("n_a")).count()
      assert(shrank == 0, s"per-user count shrank between $a and $b")
    }

    // the retry guarantee's load-bearing bit: the apply path's snapshot
    // lookup for batch N must resolve to the version BEFORE N, never N's
    // own (possibly partial) earlier attempt
    val lastId = vs.last.split("/v").last.toLong
    val prev = StreamingMerge.latestSnapshot(spark, snap, beforeBatch = lastId)
      .getOrElse(fail("no pre-batch version resolvable"))
    val prevTotal = prev.agg(sum(col("n_events"))).head().getLong(0)
    val finalTotal = finalSnap.agg(sum(col("n_events"))).head().getLong(0)
    assert(prevTotal < finalTotal,
      "beforeBatch lookup resolved to the final version — a retry would double-apply")
  }

  test("version lookup orders by batch number, not name: v100000 follows v99999") {
    // one-row marker snapshots; zero-padded names sort wrongly as strings
    // once they widen past five digits (and against v9223372036854775807)
    val snap = Files.createTempDirectory("mrg_versions").toString
    for (v <- Seq("v09999", "v10000", "v92233", "v92234", "v99999", "v100000"))
      spark.range(1).select(lit(v).as("marker")).write.parquet(s"$snap/$v")
    def marker(beforeBatch: Long): String =
      StreamingMerge.latestSnapshot(spark, snap, beforeBatch)
        .getOrElse(fail(s"no version before $beforeBatch")).head().getString(0)

    assert(marker(Long.MaxValue) == "v100000")
    assert(StreamingMerge.latestSnapshot(spark, snap).map(_.head().getString(0)) ==
      Some("v100000"))
    assert(marker(100000L) == "v99999")
    assert(marker(92234L) == "v92233")
    assert(marker(10000L) == "v09999")
    assert(StreamingMerge.latestSnapshot(spark, snap, beforeBatch = 9999L).isEmpty)
  }
}
