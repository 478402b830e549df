package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** Engine extension point (registered via `spark.sql.extensions`,
  * GraftSession): injects the native SQL functions so `cosine_sim(a, b)`
  * / `dot_product(a, b)` / `validation_mask(lat, lon, buffer_m,
  * event_id)` are available to `expr()`/`spark.sql` everywhere (engine
  * code reaches them with `call_function`), plus the planner strategy
  * for [[graft.plans.TopKPerKeyPlan]] — the idiomatic way to ship custom
  * Catalyst expressions with a library. It injects no optimizer rule:
  * a caller that wants a kernel calls it by name. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("cosine_sim"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          s"cosine_sim requires exactly 2 arguments, got ${children.size}")
        CosineSimilarity(children(0), children(1))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          s"dot_product requires exactly 2 arguments, got ${children.size}")
        DotProduct(children(0), children(1))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigs].getName, "minhash_sigs"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1,
          s"minhash_sigs requires exactly 1 argument, got ${children.size}")
        MinHashSigs(children(0))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("cdc_boundaries"),
      new ExpressionInfo(classOf[CdcBoundaries].getName, "cdc_boundaries"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 1,
          s"cdc_boundaries requires exactly 1 argument, got ${children.size}")
        CdcBoundaries(children(0))
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("validation_mask"),
      new ExpressionInfo(classOf[ValidationMask].getName, "validation_mask"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 4,
          s"validation_mask requires exactly 4 arguments (lat, lon, buffer_m, event_id), got ${children.size}")
        ValidationMask(children(0), children(1), children(2), children(3))
      }
    ))
    // Spark ships a native, codegen'd bloom-filter pair
    // (BloomFilterAggregate / BloomFilterMightContain) but only wires it
    // through the InjectRuntimeFilter optimizer rule — the SQL surface is
    // not registered. Expose it so queries can build EXPLICIT,
    // guaranteed runtime filters (the optimizer one is threshold- and
    // shape-gated): `bloom_filter_agg(xxhash64(x), items, bits)` and
    // `might_contain(bf, xxhash64(x))`.
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 3,
          s"bloom_filter_agg requires exactly 3 arguments (hash, estNumItems, numBits), got ${children.size}")
        org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(children(0), children(1), children(2), 0, 0)
          .toAggregateExpression()
      }
    ))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        require(children.size == 2,
          s"might_contain requires exactly 2 arguments (bloom, hash), got ${children.size}")
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(children(0), children(1))
      }
    ))
    ext.injectPlannerStrategy(_ => graft.plans.TopKPerKeyStrategy)
  }
}
