package graft.plans

import scala.collection.mutable

import org.apache.spark.sql.catalyst.expressions.{Alias, Expression, NamedExpression, NamedLambdaVariable, PlanExpression, PredicateHelper, RLike, RegExpExtract, RegExpExtractAll, RegExpReplace}
import org.apache.spark.sql.catalyst.expressions.objects.LambdaVariable
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{FilterExec, ProjectExec, SparkPlan}

import graft.functions.{ParseAccessLog, ParseLogLine, PathDate}

/** Pre-evaluates repeated expensive subexpressions in Filter predicates.
  *
  * Why this exists: Catalyst freely duplicates projection aliases into
  * filter predicates when it pushes them down (e.g. below a repartition
  * Exchange), and `FilterExec` — unlike `ProjectExec` — performs no
  * subexpression elimination across predicates (deliberately: predicates
  * short-circuit, so eager CSE can waste work). On this engine's hot path
  * that is catastrophic: every column of a parsed log frame is a field of
  * ONE `parse_access_log(line)` struct, so a pushed-down filter like
  * `operation = 'REST.GET.OBJECT' AND http_status < 300 AND days_apart >
  * N` re-executes the line parse once per field reference — measured 6×
  * per input row on the flagship Days Apart query (SURVEY.md §3.2, then a
  * regex parse), turning a 0.9 s scan+parse into a 3.2 s one at sf0.1
  * (and the same factor against 100 TB). The projection the filter was
  * pushed through still computes the parse once more for every row that
  * passes.
  *
  * The rewrite: `FilterExec(cond, child)` becomes
  * `ProjectExec(filter.output, FilterExec(cond', ProjectExec(child.output
  * :+ alias, child)))` where `alias` names the shared subexpression and
  * `cond'` references it — the physical shape `RewriteWithExpression`
  * produces for BETWEEN. All three nodes fuse into one whole-stage-codegen
  * span, and the sandwich preserves the filter's output attributes, so
  * the surrounding plan is untouched. When the filter's consumer is a
  * `ProjectExec` computing the same subtree, that projection reads the
  * alias too (the filter passes it through), so the parse runs once per
  * row in all three.
  *
  * This is a PHYSICAL rule (injected post-planner for AQE plans and as a
  * pre-columnar-transition rule for plans without an exchange, which
  * never enter AQE) by necessity, not preference — every logical
  * placement gets undone: operator-optimization and pre-CBO injections
  * are both followed by another `PushDownPredicates` run (the
  * RewriteSubquery batch), which substitutes the aliases straight back
  * into the condition, and Spark 4 lowers `With` expressions BEFORE
  * operator optimization, so an injected rule cannot use the engine's own
  * CSE mechanism either. After the planner there is no predicate movement
  * left.
  *
  * Scope and safety:
  *  - only line-parse and regex-class kernels ([[ParseAccessLog]],
  *    [[ParseLogLine]], [[PathDate]], RegExp*, RLike) — cheap arithmetic
  *    is not worth the indirection;
  *  - only deterministic, non-foldable subtrees with no subqueries and no
  *    lambda variables (a subtree inside a higher-order function's lambda
  *    is bound per element, and is null when evaluated outside it);
  *  - innermost-first: a repeated subtree containing another repeated
  *    subtree is skipped (its copies collapse to attribute references
  *    once the inner one is shared — the line parse inside `path_date`
  *    is the dominant cost anyway);
  *  - short-circuit guard: the FIRST conjunct must itself contain one of
  *    the shared subtrees. If it does, the expensive work is unavoidable
  *    for every row and sharing strictly wins; if it does not, eager
  *    pre-evaluation could do work the predicate chain would have
  *    short-circuited away, so the filter is left alone.
  */
object DedupFilterSubexprs extends Rule[SparkPlan] with PredicateHelper {

  private def isExpensive(e: Expression): Boolean = e match {
    case _: ParseAccessLog | _: ParseLogLine | _: PathDate => true
    case _: RegExpExtract | _: RegExpExtractAll | _: RegExpReplace | _: RLike => true
    case _ => false
  }

  private def eligible(e: Expression): Boolean =
    e.deterministic && !e.foldable && e.find {
      case _: PlanExpression[_] | _: NamedLambdaVariable | _: LambdaVariable => true
      case _ => false
    }.isEmpty

  /** Expensive deterministic subtrees by canonical form, with their count. */
  private def expensive(es: Seq[Expression]): mutable.LinkedHashMap[Expression, (Expression, Int)] = {
    val counts = mutable.LinkedHashMap.empty[Expression, (Expression, Int)]
    es.foreach(_.foreach { e =>
      if (isExpensive(e) && eligible(e)) {
        val k = e.canonicalized
        counts(k) = counts.get(k).map { case (ex, n) => (ex, n + 1) }.getOrElse((e, 1))
      }
    })
    counts
  }

  private def substitute(e: Expression, attrs: Map[Expression, Expression]): Expression =
    e.transformDown { case x if attrs.contains(x.canonicalized) => attrs(x.canonicalized) }

  /** The filter, with the subtrees it shares (within its condition, or
    * with `above`, the projection consuming it) computed once below it;
    * None when nothing qualifies. `above` comes back rewritten to read the
    * shared values.
    */
  private def share(f: FilterExec, above: Seq[NamedExpression])
      : Option[(FilterExec, Seq[NamedExpression])] = {
    val inCond = expensive(Seq(f.condition))
    val inAbove = expensive(above)
    val repeated = inCond.collect {
      case (k, (e, n)) if n + inAbove.get(k).map(_._2).getOrElse(0) >= 2 => (k, e)
    }.toSeq
    // innermost only: drop subtrees that contain another repeated subtree
    val inner = repeated.filter { case (_, e) =>
      !repeated.exists { case (ik, other) =>
        !(other eq e) && e.exists(c => (c ne e) && c.canonicalized == ik)
      }
    }
    // short-circuit guard (see scaladoc)
    val firstConjunct = splitConjunctivePredicates(f.condition).head
    val keep = inner.filter { case (k, _) =>
      firstConjunct.exists(_.canonicalized == k)
    }.take(8)
    if (keep.isEmpty) None
    else {
      val aliased = keep.zipWithIndex.map { case ((k, e), i) =>
        k -> Alias(e, s"_graft_filter_cse_$i")()
      }
      val attrs: Map[Expression, Expression] =
        aliased.map { case (k, a) => k -> a.toAttribute }.toMap
      val pre = ProjectExec(
        (f.child.output: Seq[NamedExpression]) ++ aliased.map(_._2), f.child)
      Some((FilterExec(substitute(f.condition, attrs), pre),
        above.map(substitute(_, attrs).asInstanceOf[NamedExpression])))
    }
  }

  override def apply(plan: SparkPlan): SparkPlan = plan.transformDown {
    case p @ ProjectExec(list, f: FilterExec) =>
      share(f, list).map { case (nf, nl) => ProjectExec(nl, nf) }.getOrElse(p)
    case f: FilterExec =>
      share(f, Nil).map { case (nf, _) => ProjectExec(f.output, nf) }.getOrElse(f)
  }
}
