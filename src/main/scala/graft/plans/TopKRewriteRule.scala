package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Cast, EqualTo, Expression, LessThan, LessThanOrEqual, Literal, RowNumber, WindowExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule (Rule[LogicalPlan], injected at session build by
  * [[graft.GraftExtensions]]): rewrites the classic window
  * top-k idiom
  *
  *   Filter(rn <= k, Window [row_number() OVER (PARTITION BY p ORDER BY o)
  *   AS rn])
  *
  * into the bounded-heap [[GroupTopK]] operator. The window formulation
  * must fully sort every hash partition before the filter can drop
  * anything; the rewritten plan keeps O(groups × k) state and sorts only
  * survivors. Output attributes (ids, order and the rank's IntegerType) are
  * preserved, so the rewrite is transparent to everything above it.
  *
  * Runs after predicate pushdown has moved the filter directly onto the
  * Window node (the shape the SQL/DataFrame idioms both optimize to);
  * anything fancier — extra residual conjuncts, rank used elsewhere — is
  * left untouched.
  */
object TopKRewriteRule extends Rule[LogicalPlan] {

  /** Extract k from `rn <= k` / `rn < k` / `rn = 1` (with an optional cast
    * on rn). `rn = 1` — the most common top-1 idiom in the wild — is a
    * top-k with k = 1 because row_number starts at 1; `rn = c` for c > 1
    * selects a middle rank and is NOT a top-k, so it stays a window.
    */
  private def limitFor(cond: Expression, rankAttr: Attribute): Option[Int] = {
    def isRank(e: Expression): Boolean = e match {
      case a: Attribute => a.exprId == rankAttr.exprId
      case Cast(a: Attribute, _, _, _) => a.exprId == rankAttr.exprId
      case _ => false
    }
    cond match {
      case LessThanOrEqual(r, Literal(k: Int, IntegerType)) if isRank(r) => Some(k)
      case LessThanOrEqual(r, Literal(k: Long, LongType)) if isRank(r) => Some(k.toInt)
      case LessThan(r, Literal(k: Int, IntegerType)) if isRank(r) => Some(k - 1)
      case LessThan(r, Literal(k: Long, LongType)) if isRank(r) => Some(k.toInt - 1)
      case EqualTo(r, Literal(1, IntegerType)) if isRank(r) => Some(1)
      case EqualTo(r, Literal(1L, LongType)) if isRank(r) => Some(1)
      case EqualTo(Literal(1, IntegerType), r) if isRank(r) => Some(1)
      case EqualTo(Literal(1L, LongType), r) if isRank(r) => Some(1)
      case _ => None
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case f @ Filter(cond,
        Window(Seq(alias @ Alias(WindowExpression(RowNumber(), _), _)),
          partitionSpec, orderSpec, child, _)) =>
      limitFor(cond, alias.toAttribute) match {
        case Some(k) if k >= 1 && partitionSpec.nonEmpty && orderSpec.nonEmpty =>
          GroupTopK(partitionSpec, orderSpec, k, alias.toAttribute, child)
        case _ => f
      }
  }
}
