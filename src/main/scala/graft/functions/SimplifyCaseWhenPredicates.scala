package graft.functions

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern
import org.apache.spark.sql.types.BooleanType

/** Optimizer rule: make null-intolerant predicates over single-branch
  * CASE WHEN columns parquet-pushable.
  *
  * The derived-nullable idiom the reference ETL uses pervasively —
  * `when(p, v)` then filter on the derived column (the [R] F2/F3
  * null-keeping semantics, `/root/reference/src/generate_mapping.py`
  * mask-derived columns) — plans as a filter on
  * `CASE WHEN p THEN v END`, which the parquet source cannot translate,
  * so the scan reads every row group (PlanAudit's UNPUSHED class). For
  * a top-level FILTER conjunct the CASE is removable:
  *
  *   CASE WHEN p THEN q [ELSE false|null] END   ≡ p AND q
  *   cmp(CASE WHEN p THEN v END, r)             ≡ p AND cmp(v, r)
  *
  * The first (boolean-CASE) form is what Spark's own normalization
  * leaves behind: NullDownPropagation turns `IsNotNull(CASE WHEN p
  * THEN v END)` into `CASE WHEN p THEN isnotnull(v) ELSE false END`,
  * and PushFoldableIntoBranches turns `CASE... > lit` into `CASE WHEN
  * p THEN v > lit END` — both stop there, one step short of the
  * conjunction the datasource could push. The second form catches
  * comparisons against NON-foldable operands, which the built-ins
  * leave on the CASE (`cmp` = any null-intolerant comparison; NOT
  * `<=>`, whose NULL-keeping is the one semantic the CASE exists to
  * express). Equivalence holds because Filter keeps only TRUE rows:
  * when p is FALSE or NULL the CASE yields its FALSE/NULL else (or
  * NULL through the comparison) and drops the row; the rewritten form
  * yields FALSE/NULL and drops it too. When p is TRUE both sides
  * reduce to the same predicate. (The rewrite is NOT valid as a
  * general expression rewrite — e.g. under a projection NOT(...) a
  * FALSE-else CASE and the AND differ on p=NULL — so it fires ONLY on
  * top-level Filter conjuncts, never inside negations or
  * disjunctions.)
  *
  * After the rewrite `p` is a plain base-column predicate that
  * FileSourceStrategy pushes to parquet (row-group min/max skipping —
  * the 100 TB payoff), and InferFiltersFromConstraints derives the
  * IsNotNull on the base column in the same fixed-point batch.
  * Registered via [[GraftExtensions]]; pinned by
  * SimplifyCaseWhenPredicatesSpec (plan-level pushdown assertion +
  * exact rows on the null edges).
  */
object SimplifyCaseWhenPredicates extends Rule[LogicalPlan]
    with PredicateHelper {

  /** `when(p, v)` with no (or literal-NULL) otherwise. */
  private def singleBranch(cw: CaseWhen): Option[(Expression, Expression)] =
    cw match {
      case CaseWhen(Seq((p, v)), elseOpt)
          if p.deterministic && v.deterministic &&
            (elseOpt match {
              case None => true
              case Some(Literal(null, _)) => true
              case _ => false
            }) =>
        Some((p, v))
      case _ => None
    }

  private def rewriteConjunct(c: Expression): Expression = c match {
    // the normalized form the built-in rules leave behind:
    // CASE WHEN p THEN q [ELSE false|null] END, q boolean
    case cw @ CaseWhen(Seq((p, q)), elseOpt)
        if q.dataType == BooleanType && p.deterministic &&
          q.deterministic &&
          (elseOpt match {
            case None => true
            case Some(Literal(null, _)) => true
            case Some(Literal(false, BooleanType)) => true
            case _ => false
          }) =>
      And(p, q)
    // comparisons against non-foldable operands still carry the CASE
    case cmp: BinaryComparison if !cmp.isInstanceOf[EqualNullSafe] =>
      (cmp.left, cmp.right) match {
        case (cw: CaseWhen, r) if r.deterministic =>
          singleBranch(cw)
            .map { case (p, v) =>
              And(p, cmp.withNewChildren(Seq(v, r)))
            }
            .getOrElse(cmp)
        case (l, cw: CaseWhen) if l.deterministic =>
          singleBranch(cw)
            .map { case (p, v) =>
              And(p, cmp.withNewChildren(Seq(l, v)))
            }
            .getOrElse(cmp)
        case _ => cmp
      }
    case other => other
  }

  private def rewriteFilter(f: Filter): LogicalPlan = {
    val conjuncts = splitConjunctivePredicates(f.condition)
    val rewritten = conjuncts.map(rewriteConjunct)
    if (rewritten == conjuncts) f
    else Filter(rewritten.reduceLeft(And), f.child)
  }

  /** Tree-pattern-pruned traversal (round 11): this rule sits in the
    * operator-optimization FIXED-POINT batch, so it re-walks every
    * query's whole logical plan once per batch iteration — for the
    * iterative graph queries (unioned fixed-point plans, thousands of
    * nodes) the round-10 blanket `plan.transform` was pure overhead on
    * the 99% of Filters that carry no CASE, and the round-10 verdict's
    * "family-shaped sf0.1 drift" (graph fixed-point + shingle-Jaccard,
    * +20–40% while the fleet median stayed flat) is exactly the
    * biggest-logical-plan family — dispositioned by the same-JVM A/B
    * added in 8927d0f and SCALE.md round 11. The pruning bits skip
    * entire subtrees whose pattern sets lack FILTER+CASE_WHEN, and the
    * per-node guard skips conjunct-splitting on CASE-free conditions.
    * `transformDownWithSubqueriesAndPruning` also reaches Filter nodes
    * inside scalar/IN/EXISTS subqueries (round-10 advice: those kept
    * the unpushed CASE predicate). */
  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDownWithSubqueriesAndPruning(
      t => t.containsPattern(TreePattern.FILTER) &&
        t.containsPattern(TreePattern.CASE_WHEN)) {
      case f: Filter if f.condition.containsPattern(TreePattern.CASE_WHEN) =>
        rewriteFilter(f)
    }
}
