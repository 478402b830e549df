package graft

import java.nio.file.Files
import graft.streaming.{Drain, StreamingDrift}
import graft.queries.QueryRegistry
import org.apache.spark.sql.functions._

/** Checkpoint-restart semantics for the drift monitor's STATE: drain
  * tranche A, kill the query, land tranche B, restart against the same
  * checkpoint — the per-bin counters must resume from the persisted
  * RocksDB state (not re-count tranche A, not lose it), so the final
  * census still reproduces the batch drift rows exactly. This is the
  * property that lets a monitoring stream survive deploys without a
  * corpus re-scan: the 20 counter cells ARE the only state, and they
  * live in the checkpoint. */
class StreamingDriftRestartSpec extends SparkSpecBase {

  test("a restarted drift stream resumes its counters from the checkpoint") {
    val dir = "/root/testdata/sf0.001"
    val docs = Tables(spark, dir).documents
    val src = Files.createTempDirectory("dr_src").toString
    val sink = Files.createTempDirectory("dr_sink").toString
    val ck = Files.createTempDirectory("dr_ck").toString

    val trancheA = docs.filter(col("doc_id") < 250)
    val trancheB = docs.filter(col("doc_id") >= 250)

    trancheA.coalesce(2).write.mode("append").parquet(src)
    val q1 = Drain(StreamingDrift.stream(spark, src), ck)(Drain.appendParquet(sink))
    assert(q1.awaitTermination(120000), "first run did not drain within 120s")

    trancheB.coalesce(2).write.mode("append").parquet(src)
    val q2 = Drain(StreamingDrift.stream(spark, src), ck)(Drain.appendParquet(sink))
    assert(q2.awaitTermination(120000), "restarted run did not drain within 120s")

    // final census per bin = snapshot row with the largest total
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bin"))
      .orderBy((col("c_ref") + col("c_cur")).desc)
    val census = spark.read.parquet(sink)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("bin"), col("c_ref"), col("c_cur"))

    // a restart that re-counted tranche A would overshoot; one that lost
    // state would undershoot — per-bin totals must equal the one-shot
    // batch census exactly
    val batch = Tables(spark, dir).documents.select(
        expr("least(n_chars div 100L, 19L)").as("bin"),
        (col("doc_id") % 2 === 0).as("is_ref"))
      .groupBy(col("bin")).agg(
        count(when(col("is_ref"), 1)).as("c_ref"),
        count(when(!col("is_ref"), 1)).as("c_cur"))
    assert(census.count() == batch.count(), "bin sets diverge after restart")
    val mism = census.alias("s").join(batch.alias("b"), col("s.bin") === col("b.bin"))
      .filter(col("s.c_ref") =!= col("b.c_ref") || col("s.c_cur") =!= col("b.c_cur"))
    assert(mism.count() == 0,
      s"restart broke the counters: ${mism.collect().take(3).mkString(", ")}")

    // and the derived drift rows still match the registered batch query
    val totals = census.agg(sum(col("c_ref")).as("t_ref"), sum(col("c_cur")).as("t_cur"))
    val drift = census.crossJoin(broadcast(totals))
      .select(col("bin"),
        expr("(c_ref * 1000000L) div t_ref").as("ref_ppm"),
        expr("(c_cur * 1000000L) div t_cur").as("cur_ppm"))
      .withColumn("diff_ppm", abs(col("ref_ppm") - col("cur_ppm")))
    val batchDrift = QueryRegistry.queries("a13_drift_tvd")(spark, dir)
      .select("bin", "ref_ppm", "cur_ppm", "diff_ppm")
    val dmism = drift.alias("s").join(batchDrift.alias("b"), col("s.bin") === col("b.bin"))
      .filter(col("s.ref_ppm") =!= col("b.ref_ppm") ||
        col("s.cur_ppm") =!= col("b.cur_ppm") || col("s.diff_ppm") =!= col("b.diff_ppm"))
    assert(dmism.count() == 0, "restarted drift rows diverge from the batch query")
  }
}
