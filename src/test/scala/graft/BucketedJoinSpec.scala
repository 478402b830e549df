package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

/** The 100 TB co-location story (SURVEY §2.3 scale notes): bucketing both
  * fact tables on the join key removes the orders⋈lineitem shuffle
  * entirely — the single biggest exchange in the star schema. This spec
  * proves the plan shape: bucketed join = zero Exchange operators;
  * unbucketed join = two. */
class BucketedJoinSpec extends SparkSpecBase {

  test("bucketed tables join with no shuffle and identical results") {
    val t = Tables(spark, "/root/testdata/sf0.001")
    // disable broadcast so the join strategy question is real
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      t.lineitem.write.mode("overwrite")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("lineitem_b")
      t.orders.write.mode("overwrite")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("orders_b")

      val bucketed = spark.table("lineitem_b")
        .join(spark.table("orders_b"), col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))
      val unbucketed = t.lineitem
        .join(t.orders, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_quantity")), 2).as("qty"))

      def joinExchanges(df: org.apache.spark.sql.DataFrame): Int = {
        // count exchanges feeding the join (before the final groupBy agg)
        val plan = df.queryExecution.executedPlan.toString
        val joinIdx = plan.indexOf("SortMergeJoin")
        assert(joinIdx >= 0, s"expected SortMergeJoin in plan:\n$plan")
        "Exchange hashpartitioning".r.findAllIn(plan.substring(joinIdx)).length
      }
      assert(joinExchanges(bucketed) == 0)   // co-located: scan feeds join directly
      assert(joinExchanges(unbucketed) == 2) // both sides reshuffled

      val a = bucketed.orderBy("o_orderpriority").collect().toSeq
      val b = unbucketed.orderBy("o_orderpriority").collect().toSeq
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", s"${64L * 1024 * 1024}")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
      spark.sql("DROP TABLE IF EXISTS orders_b")
    }
  }

  test("s9_bucketed_join keys its staged tables on the full estate path, not the basename") {
    import spark.implicits._
    // two tiny estates under different parents that share a basename:
    // keyed on the basename alone, the second call would silently read
    // the tables the first call staged
    val dirs = Seq(1, 2).map { i =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft_bkt_$i").resolve("est")
      Seq((1L, 1.0 * i, 10.0 * i), (2L, 2.0 * i, 20.0 * i))
        .toDF("l_orderkey", "l_quantity", "l_extendedprice")
        .write.parquet(s"$dir/lineitem.parquet")
      Seq((1L, "F"), (2L, if (i == 1) "F" else "O")).toDF("o_orderkey", "o_orderstatus")
        .write.parquet(s"$dir/orders.parquet")
      dir.toString
    }
    val staged = dirs.map(queries.SourceQueries.bucketedTables)
    try {
      assert(staged.distinct.size == 2)
      val answers = dirs.map { dir =>
        queries.QueryRegistry.queries("s9_bucketed_join")(spark, dir)
          .orderBy("o_orderstatus").collect().map(_.toSeq).toSeq
      }
      assert(answers(0) == Seq(Seq("F", 2L, 3L, 3000L)))
      assert(answers(1) == Seq(Seq("F", 1L, 2L, 2000L), Seq("O", 1L, 4L, 4000L)))
    } finally {
      staged.foreach { t =>
        spark.sql(s"DROP TABLE IF EXISTS ${t.lineitem}")
        spark.sql(s"DROP TABLE IF EXISTS ${t.orders}")
        FileUtils.deleteQuietly(new java.io.File(t.path))
      }
      dirs.foreach(d => FileUtils.deleteQuietly(new java.io.File(d).getParentFile))
    }
  }
}
