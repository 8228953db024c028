package graft.sql

import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet,
  Coalesce, EqualTo, Expression, Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression,
  AggregateFunction, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join,
  LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreePattern.{AGGREGATE, JOIN}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Eager aggregation (Yan & Larson, "Eager Aggregation and Lazy
  * Aggregation", VLDB 1995) for an aggregate over a fact ⋈
  * broadcast-dimension join: the fact side is aggregated per join key
  * BEFORE the join, so the join probes one row per key instead of one
  * per fact row. The reference's Athena top-5 products query (2.2M
  * order items, 5,000 products at the published scale) becomes a 5,000
  * key aggregate joined to the products table.
  *
  * {{{
  *   Aggregate(G, A, [Project of attributes over] Join(fact, dim, Inner, fk = dk ∧ …))
  *   ⇒ Aggregate(G, A', Join(Aggregate(fk…, fk… :+ partials, fact), dim))
  * }}}
  *
  * One rewrite per supported aggregate, each output alias keeping its
  * name and ExprId:
  *   - `COUNT(e…)` (`COUNT(*)` included) → `coalesce(sum(count(e…)), 0)`
  *     — the `coalesce` keeps a global count over no rows at 0;
  *   - `MIN(f)` / `MAX(f)` → `min(min f)` / `max(max f)`;
  *   - `SUM(f)` over an integral `f` → `sum(sum f)`.
  * Every fact row of one (join key, group) bucket joins the same
  * dimension rows, so the rewrites are exact even when dimension keys
  * repeat. AVG, floating and decimal SUM, and every other aggregate
  * leave the plan unchanged.
  *
  * Gates, all required:
  *   - the join is INNER and every conjunct is `fact attr = dim attr`;
  *   - every grouping expression (so every non-aggregate output) reads
  *     only dimension attributes, every aggregate argument only fact
  *     attributes;
  *   - the aggregate is not streaming, and no aggregate is DISTINCT,
  *     carries a FILTER clause or is non-deterministic;
  *   - the dimension's size estimate is at most
  *     `spark.sql.autoBroadcastJoinThreshold` (`-1` disables the rule as
  *     it disables broadcast) and below the fact side's;
  *   - no join hint names the fact side;
  *   - the fact side is not already an aggregate unique per join key,
  *     which makes the rule idempotent under the fixed-point optimizer.
  * When both sides qualify as the dimension (a global aggregate), the
  * right side is taken.
  */
class GraftEagerAggregation extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (conf.autoBroadcastJoinThreshold < 0) plan
    else plan.transformUpWithPruning(_.containsAllPatterns(AGGREGATE, JOIN)) {
      case agg: Aggregate if !agg.isStreaming => eager(agg).getOrElse(agg)
    }

  /** The rewritten aggregate, or None when a gate fails. */
  private def eager(agg: Aggregate): Option[LogicalPlan] = agg.child match {
    case j: Join => eager(agg, j)
    case Project(list, j: Join) if list.forall(_.isInstanceOf[Attribute]) =>
      eager(agg, j)
    case _ => None
  }

  private def eager(agg: Aggregate, j: Join): Option[LogicalPlan] = j match {
    case Join(l, r, Inner, Some(cond), hint)
        if agg.groupingExpressions.forall(_.deterministic) =>
      val conjuncts = splitConjunctivePredicates(cond)
      def asFact(fact: LogicalPlan, dim: LogicalPlan, unhinted: Boolean)(
          put: LogicalPlan => Join): Option[LogicalPlan] =
        if (!unhinted) None
        else rewrite(agg, conjuncts, fact, dim).filter(_ => fits(dim, fact))
          .map { case (factAgg, aggs) =>
            agg.copy(aggregateExpressions = aggs, child = put(factAgg))
          }
      asFact(l, r, hint.leftHint.isEmpty)(p => j.copy(left = p))
        .orElse(asFact(r, l, hint.rightHint.isEmpty)(p => j.copy(right = p)))
    case _ => None
  }

  /** The size gates: `dim` is broadcastable and smaller than `fact`. */
  private def fits(dim: LogicalPlan, fact: LogicalPlan): Boolean = {
    val d = dim.stats.sizeInBytes
    d <= conf.autoBroadcastJoinThreshold && d < fact.stats.sizeInBytes
  }

  /** The per-key fact aggregate and the rewritten outputs, for the
    * roles `fact` / `dim`; None when the shape or an aggregate is not
    * one the rule rewrites. */
  private def rewrite(agg: Aggregate, conjuncts: Seq[Expression],
      fact: LogicalPlan, dim: LogicalPlan)
      : Option[(Aggregate, Seq[NamedExpression])] = {
    val (f, d) = (fact.outputSet, dim.outputSet)
    val keys = conjuncts.map {
      case EqualTo(a: Attribute, b: Attribute)
          if f.contains(a) && d.contains(b) => Some(a)
      case EqualTo(a: Attribute, b: Attribute)
          if f.contains(b) && d.contains(a) => Some(b)
      case _ => None
    }
    val aggExprs = agg.aggregateExpressions.flatMap(_.collect {
      case ae: AggregateExpression => ae
    }).distinctBy(_.canonicalized)
    val finals = aggExprs.map(ae => partial(ae, f))
    if (keys.contains(None) || finals.contains(None) ||
        !agg.groupingExpressions.forall(_.references.subsetOf(d)))
      None
    else {
      val fk = keys.flatten.distinct
      if (uniquePerKey(fact, AttributeSet(fk))) None
      else {
        val (partials, finalOf) = finals.flatten.unzip
        val byAgg = aggExprs.map(_.canonicalized).zip(finalOf).toMap
        val aggs = agg.aggregateExpressions.map(_.transformUp {
          case ae: AggregateExpression => byAgg(ae.canonicalized)
        }.asInstanceOf[NamedExpression])
        Some((Aggregate(fk, fk ++ partials, fact), aggs))
      }
    }
  }

  /** The partial `ae` computes per fact join key and the expression over
    * it that replaces `ae` above the join. */
  private def partial(ae: AggregateExpression, fact: AttributeSet)
      : Option[(NamedExpression, Expression)] = {
    def over(fn: AggregateFunction, name: String)(
        outer: Attribute => Expression) = {
      val p = Alias(fn.toAggregateExpression(), name)()
      val out = outer(p.toAttribute)
      // operators above keep reading the output through its old
      // attribute, so the type must match and a non-null output (COUNT)
      // must stay non-null
      if (out.dataType == ae.dataType && (ae.nullable || !out.nullable))
        Some((p, out))
      else None
    }
    if (ae.isDistinct || ae.filter.isDefined || ae.mode != Complete ||
        !ae.deterministic || !ae.references.subsetOf(fact)) None
    else ae.aggregateFunction match {
      case c: Count => over(c, "partial_count")(p =>
        Coalesce(Seq(Sum(p).toAggregateExpression(), Literal(0L))))
      case m: Min => over(m, "partial_min")(p => Min(p).toAggregateExpression())
      case m: Max => over(m, "partial_max")(p => Max(p).toAggregateExpression())
      case s: Sum if Seq(ByteType, ShortType, IntegerType, LongType)
          .contains(s.child.dataType) =>
        over(s, "partial_sum")(p => s.copy(child = p).toAggregateExpression())
      case _ => None
    }
  }

  /** `plan` already holds at most one row per value of `keys`: an
    * aggregate grouped by join-key attributes only (this rule's own
    * fact aggregate among them), under projections and filters, where a
    * second one would change nothing. */
  private def uniquePerKey(plan: LogicalPlan, keys: AttributeSet): Boolean =
    plan match {
      case Project(_, child) => uniquePerKey(child, keys)
      case Filter(_, child) => uniquePerKey(child, keys)
      case Aggregate(g, _, _, _) => g.forall {
        case a: Attribute => keys.contains(a)
        case _ => false
      }
      case _ => false
    }
}
