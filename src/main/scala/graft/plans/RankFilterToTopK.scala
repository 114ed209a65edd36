package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.IntegerType

/** Optimizer rule: rewrite the ubiquitous window-rank-then-filter pattern
  *
  * {{{ df.withColumn("rn", row_number().over(partitionBy(g).orderBy(o)))
  *       .filter($"rn" <= k) }}}
  *
  * so the Window runs over [[TopKPerGroupNode]]'s bounded-heap output
  * instead of the full table. The un-rewritten plan SORTS every group in
  * its entirety just to keep k rows; after the rewrite the heap bounds the
  * shuffle at k rows per (partition, group) and the Window only ranks the
  * ≤ k survivors per group. The Window stays in place — output columns,
  * the rank values 1..k, and every downstream reference are unchanged; the
  * plan under it just never materializes more than k rows per group. (If
  * nothing downstream reads the rank, column pruning drops the Window.)
  *
  * The Filter is dropped: over at most k rows per group, `rn ≤ k` holds
  * for every row. Dropping it also keeps Spark's InferWindowGroupLimit,
  * whose batch runs after the operator-optimization batch that
  * `injectOptimizerRule` places this rule in, from matching the rewritten
  * plan: it needs a rank Filter over the Window, and would otherwise add
  * a WindowGroupLimit above the heap node that sorts and limits the
  * already-bounded groups a second time.
  *
  * Soundness: the rows with `row_number ≤ k` are exactly "the first k rows
  * of the group under the order" — precisely [[TopKPerGroupNode]]'s
  * contract. For a NON-total order both formulations pick an arbitrary
  * boundary-tie subset (row_number's documented nondeterminism); for the
  * total orders the engine's determinism discipline mandates, outputs are
  * bit-identical (spec-pinned).
  *
  * Matched shapes (conservative by design):
  *   - Window has exactly ONE window expression: an aliased
  *     `row_number()` — extra window columns would need the full groups.
  *   - Filter is a single comparison of that alias against an int literal:
  *     `rn <= k`, `rn < k`, `rn = 1`, or the literal-first mirror images.
  *     Conjunctions are left alone (other conjuncts might reference rows
  *     the heap would drop — they don't, but proving it needs alias
  *     analysis; the win is already captured by the common case).
  *   - partitionSpec non-empty (a global top-k is already
  *     TakeOrderedAndProject's job via orderBy().limit()).
  */
object RankFilterToTopK extends Rule[LogicalPlan] {

  /** k such that `cond` ≡ rowNumberAttr ≤ k, if it has that shape. */
  private def limitFrom(cond: Expression, rn: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(v: Int, IntegerType))
        if a.exprId == rn => Some(v)
    case LessThan(a: AttributeReference, Literal(v: Int, IntegerType))
        if a.exprId == rn => Some(v - 1)
    case EqualTo(a: AttributeReference, Literal(1, IntegerType))
        if a.exprId == rn => Some(1)
    case GreaterThanOrEqual(Literal(v: Int, IntegerType), a: AttributeReference)
        if a.exprId == rn => Some(v)
    case GreaterThan(Literal(v: Int, IntegerType), a: AttributeReference)
        if a.exprId == rn => Some(v - 1)
    case EqualTo(Literal(1, IntegerType), a: AttributeReference)
        if a.exprId == rn => Some(1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, w @ Window(
          Seq(al @ Alias(WindowExpression(RowNumber(), _), _)),
          part, order, child, _))
        if part.nonEmpty && order.nonEmpty =>
      limitFrom(cond, al.exprId) match {
        case Some(k) if k >= 1 =>
          w.withNewChildren(
            Seq(TopKPerGroupNode(part, order, k, distinct = false, child)))
        case _ => f
      }
  }
}
