package graft

import graft.plans.RewriteRankFilterToTopK.lower
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Proofs for the rank-filter → TopKPerKey rewrite: the tutorial window
  * idiom lowers to the bounded-heap operator (no WindowExec, no
  * per-partition sort), results are row-identical to the un-rewritten
  * plan on a total order, and every soundness gate holds — rank kept,
  * rank/dense_rank, second window expression, and fused predicates all
  * refuse the rewrite. The session's optimizer never applies the rule
  * (measured small-group constant factors, see its scaladoc), so every
  * positive proof here asks for it with `lower`. */
class RewriteRankFilterSpec extends SparkSpecBase {

  private def sample: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    (1 to 5000).map(i => (rnd.nextInt(40).toLong, i.toLong, rnd.nextInt(100000)))
      .toDF("k", "id", "v")
  }

  private def windowed(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)
    df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).drop("rn")
  }

  private def exec(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("not lowered unless asked — stock plans keep WindowExec") {
    val p = exec(windowed(sample))
    assert(!p.contains("TopKPerKey"), "the session's optimizer lowered a frame nobody asked for")
  }

  test("the window row_number idiom lowers to TopKPerKeyExec with no sort") {
    val p = exec(lower(windowed(sample)))
    assert(p.contains("TopKPerKey"), s"rewrite did not fire:\n${p.take(1500)}")
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      s"WindowExec survived the rewrite:\n${p.take(1500)}")
    assert(!p.contains("Sort "), s"per-partition sort survived:\n${p.take(1500)}")
  }

  test("rewritten results equal the WindowExec plan row-for-row on a total order") {
    val df = sample.cache()
    try {
      val d = lower(windowed(df))
      assert(exec(d).contains("TopKPerKey"), "rewrite did not fire on the comparison plan")
      val rewritten = d.collect().map(_.toString).sorted
      val stock = windowed(df).collect().map(_.toString).sorted
      assert(rewritten.sameElements(stock), "rewrite changed the result set")
    } finally df.unpersist()
  }

  test("keeping the rank column refuses the rewrite") {
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)
    val df = sample.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    assert(!exec(lower(df.select(col("k"), col("rn")))).contains("TopKPerKey"),
      "rewrite fired although the caller kept the rank")
  }

  test("rank() refuses the rewrite — ties may admit more than k rows") {
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc)
    val df = sample.withColumn("rn", rank().over(w)).filter(col("rn") <= 3).drop("rn")
    assert(!exec(lower(df)).contains("TopKPerKey"), "rewrite fired on rank()")
  }

  test("a second window expression refuses the rewrite") {
    val w = Window.partitionBy(col("k")).orderBy(col("v").desc, col("id").asc)
    val df = sample
      .withColumn("rn", row_number().over(w))
      .withColumn("total", count(lit(1)).over(Window.partitionBy(col("k"))))
      .filter(col("rn") <= 3).drop("rn")
    assert(!exec(lower(df)).contains("TopKPerKey"),
      "rewrite fired although the Window computes more than the rank")
  }

  test("global top-k (no partition keys) lowers too") {
    val w = Window.orderBy(col("v").desc, col("id").asc)
    val df = lower(sample.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5).drop("rn"))
    val p = exec(df)
    assert(p.contains("TopKPerKey"), s"global form did not lower:\n${p.take(1500)}")
    assert(df.count() == 5)
  }
}
