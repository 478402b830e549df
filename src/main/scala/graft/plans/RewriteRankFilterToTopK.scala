package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window, WindowGroupLimit}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.graftbridge.PlanBridge

/** SURVEY.md §2.6 O2 depth — optimizer rule lowering the declarative
  * per-key top-k idiom onto the bounded-heap operator:
  *
  *   Project [cols, no rn]
  *   +- Filter (rn <= k)                      [or rn < k+1, rn = 1]
  *      +- Window [row_number() over (partition p order o) AS rn]
  *   ⇒ Project [cols] +- TopKPerKeyPlan(p, o, k)
  *
  * Users keep writing the window form every Spark tutorial teaches;
  * every query containing it silently gets the O(n log k) heap operator
  * instead of WindowExec's full per-partition sort (O(n log n) and a
  * spill surface proportional to the partition, not to k). Spark's own
  * InferWindowGroupLimit attacks the same pattern but keeps the sort —
  * it inserts a rank-limit pre-pass below the Window; this rewrite
  * REPLACES the sort. The map-side partial heap also prunes before the
  * exchange, which WindowExec structurally cannot.
  *
  * Soundness gates (each is load-bearing: a rewrite that fires on
  * anything semantically different is a correctness bug):
  *  - ONLY `row_number` — rank/dense_rank admit >k rows on ties, which
  *    the heap does not reproduce;
  *  - the Window computes NOTHING but the rank (a second window
  *    expression would be lost by the rewrite);
  *  - the enclosing Project must not reference the rank column — if the
  *    caller keeps `rn`, the engine would have to re-rank and wins
  *    nothing;
  *  - the filter is exactly the rank predicate (no fused conjuncts).
  *
  * Tie semantics: on a non-total `order`, row_number is ALREADY
  * partition-order-dependent in stock Spark — which of the tied rows
  * survives depends on scan order. The heap keeps a different (equally
  * valid) tied subset. A query that was deterministic before the
  * rewrite (total order — the engine's own convention: every registered
  * query tiebreaks explicitly) is row-identical after it; a query that
  * relied on ties was never deterministic.
  *
  * Applied per frame by [[lower]], never by the session's optimizer, on
  * measurement: engine-wide, the oracle gate stays green (186/186) but
  * the sf0.1 bench moved the rank-filter-heavy j5 family 1.7-2.0×
  * SLOWER (j5_pq_adc 0.78→1.46 s): at tens to hundreds of rows per key
  * WindowExec's codegen'd sort beats the interpreted heap. The measured
  * crossover (10M rows, scale/topk_crossover.json): sort wins 2.5× at
  * 10 rows/key, parity at ~1,000, heap wins 1.67× at 100k and 3.21× at
  * 2.5M rows/key. Lower a frame when its groups are large;
  * `o2_topk_custom` uses the operator explicitly either way.
  */
object RewriteRankFilterToTopK extends Rule[LogicalPlan] {

  /** The rank bound k, if `cond` is exactly a supported predicate on `rn`. */
  private def rankBound(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rn => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(1, _)) if a.exprId == rn => Some(1)
    case EqualTo(Literal(1, _), a: AttributeReference) if a.exprId == rn => Some(1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: AttributeReference) if a.exprId == rn => Some(k)
    case _ => None
  }

  /** `df` with every supported rank filter in its optimized plan
    * lowered onto [[TopKPerKeyPlan]]; lazy, like any frame. */
  def lower(df: DataFrame): DataFrame =
    PlanBridge.ofRows(df.sparkSession, apply(df.queryExecution.optimizedPlan))

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transform {
      case Project(projectList,
          Filter(cond,
            Window(Seq(al @ Alias(WindowExpression(RowNumber(),
                WindowSpecDefinition(parts, order, _)), _)), _, _, child, _)))
          if order.nonEmpty &&
            rankBound(cond, al.exprId).exists(_ > 0) &&
            projectList.forall(!_.references.contains(al.toAttribute)) &&
            projectList.forall(_.references.subsetOf(child.outputSet)) =>
        // the heap replaces Spark's sort-based WindowGroupLimit pre-filter
        val input = child match { case WindowGroupLimit(p, o, _, _, c) if p == parts && o == order => c; case c => c }
        Project(projectList,
          TopKPerKeyPlan(parts, order, rankBound(cond, al.exprId).get, input))
    }
}
