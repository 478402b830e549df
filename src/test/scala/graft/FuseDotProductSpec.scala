package graft

import org.apache.spark.sql.functions._

/** The native `dot_product` kernel against the composed
  * `aggregate(zip_with(...))` form it replaces. No optimizer rule turns
  * one into the other, so the composed form here really evaluates
  * through its lambdas: the two must agree bit-for-bit on values and
  * give null together on a null element or a length mismatch. */
class FuseDotProductSpec extends SparkSpecBase {
  import spark.implicits._

  private def composedDot = aggregate(
    zip_with(col("a"), col("b"), (x, y) => x.cast("double") * y.cast("double")),
    lit(0.0), (acc, x) => acc + x)

  private def nativeDot = call_function("dot_product", col("a"), col("b"))

  test("rewritten values are bit-identical to the composed semantics") {
    val small = Seq(
      (Seq(1.5f, -2.0f, 3.25f), Seq(0.5f, 4.0f, -1.25f)),
      (Seq(0.0f, 0.0f, 0.0f), Seq(1.0f, 2.0f, 3.0f))
    ).toDF("a", "b")
    val expected = Seq(1.5 * 0.5 + -2.0 * 4.0 + 3.25 * -1.25, 0.0)
    assert(small.select(nativeDot).as[Double].collect().toSeq == expected)
    assert(small.select(composedDot).as[Double].collect().toSeq == expected)

    // every embedding row, with itself and with its reversal: exact ==
    val emb = Tables(spark, "/root/testdata/sf0.001").embeddings
    val n = emb.count()
    assert(n > 0)
    for (b <- Seq(col("embedding"), reverse(col("embedding")))) {
      val pairs = emb.select(col("vec_id"), col("embedding").as("a"), b.as("b"))
        .select(col("vec_id"), nativeDot.as("native"), composedDot.as("composed"))
        .as[(Long, Double, Double)].collect()
      assert(pairs.length == n)
      val off = pairs.filterNot { case (_, x, y) => x == y }
      assert(off.isEmpty, s"native and composed differ on ${off.take(5).toSeq}")
    }

    // a null element, and a length mismatch (zip_with pads with nulls),
    // each give null on both sides
    val poisoned = Seq(
      (Seq(Some(1.0f), None), Seq(Some(2.0f), Some(3.0f))),
      (Seq(Some(1.0f), Some(2.0f), Some(3.0f)), Seq(Some(1.0f), Some(2.0f)))
    ).toDF("a", "b")
    for (r <- poisoned.select(nativeDot, composedDot).collect())
      assert(r.isNullAt(0) && r.isNullAt(1), s"expected null on both sides, got $r")
  }
}
