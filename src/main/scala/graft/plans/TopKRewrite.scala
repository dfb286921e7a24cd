package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: rewrites the ubiquitous windowed top-k idiom
  *
  * {{{
  *   Project [cols not referencing rn]
  *     Filter rn <= k
  *       Window [row_number() over (partition by K order by O) as rn]
  * }}}
  *
  * into the custom [[TopKPerKey]] operator, so ANY user writing the
  * `row_number() ≤ k` pattern — SQL or DataFrame — gets the bounded-
  * heap partial/final plan (no per-group sort, ≤ k·partitions rows
  * per key at the shuffle) without calling [[TopK.perKey]] directly.
  *
  * Guards:
  *   - the window computes exactly one expression, a `row_number`
  *     (rank/dense_rank admit >k survivors on ties — not top-k)
  *   - the filter bounds that row number by a literal `k ≥ 1`
  *     (`rn <= k`, `rn < k+1`, `rn = 1`, and the flipped forms)
  *   - the partition spec is non-empty (a global top-k is already
  *     better served by TakeOrderedAndProject via orderBy+limit)
  *   - the projection above the filter does NOT reference the row
  *     number — [[TopKPerKey]] emits child rows only, so a query
  *     that keeps `rn` in its output is left untouched (q32's shape)
  *
  * Tie semantics are unchanged: with a non-unique order, row_number
  * picks arbitrarily among tied rows, exactly like the heap does.
  * Injected with [[TopKStrategy]] by [[graft.functions.GraftExtensions]];
  * [[graft.functions.GraftFunctions.register]] adds both to a session
  * built without it. Pinned by TopKSpec.
  */
object TopKRewrite extends Rule[LogicalPlan] {

  private def intVal(l: Literal): Option[Int] = l.value match {
    case i: Int => Some(i)
    case i: Long if i >= Int.MinValue && i <= Int.MaxValue => Some(i.toInt)
    case _ => None
  }

  /** cond ⇒ (row-number attribute, k) if it is a `rn ≤ k` bound.
    * The strict-bound cases guard `v > Int.MinValue`: without it,
    * `rn < Int.MinValue` (an always-false filter) would wrap `v - 1`
    * to Int.MaxValue and rewrite into a return-everything top-k.
    */
  private def limitOf(cond: Expression): Option[(Attribute, Int)] = cond match {
    case LessThanOrEqual(a: Attribute, l: Literal) => intVal(l).map(a -> _)
    case LessThan(a: Attribute, l: Literal) =>
      intVal(l).filter(_ > Int.MinValue).map(v => a -> (v - 1))
    case EqualTo(a: Attribute, l: Literal) => intVal(l).filter(_ == 1).map(a -> _)
    case EqualTo(l: Literal, a: Attribute) => intVal(l).filter(_ == 1).map(a -> _)
    case GreaterThanOrEqual(l: Literal, a: Attribute) => intVal(l).map(a -> _)
    case GreaterThan(l: Literal, a: Attribute) =>
      intVal(l).filter(_ > Int.MinValue).map(v => a -> (v - 1))
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList,
        Filter(cond,
          Window(Seq(alias @ Alias(WindowExpression(_: RowNumber,
            WindowSpecDefinition(_, _,
              SpecifiedWindowFrame(RowFrame, UnboundedPreceding, CurrentRow))), _)),
          partitionSpec, orderSpec, child, _)))
        if partitionSpec.nonEmpty =>
      limitOf(cond) match {
        case Some((a, k))
            if k >= 1 && a.exprId == alias.exprId &&
              !projectList.exists(_.references.exists(_.exprId == alias.exprId)) =>
          Project(projectList, TopKPerKey(k, partitionSpec, orderSpec, child))
        case _ => p
      }
  }
}
