package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.{Cross, Inner, JoinType, LeftAnti, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Push a conditioned join below a condition-free cross join with a tiny
  * constant side (a "generator" cross join).
  *
  * Motivating shape: the TPC-H fixtures synthesize `partsupp` as
  * `part CROSS JOIN (4 literal slots) CROSS JOIN (1-row count)` — a
  * row-generator, like `generate_series` or an UNNEST of literals. A query
  * that joins the generated table on a key derived ONLY from the base table
  * (`ps_partkey = p_partkey`, q16/q20) pays the x4 expansion over ALL base
  * rows before the selective join, because Catalyst never reorders a
  * conditioned join below a cross join: the optimizer's join-reorder only
  * touches conditioned inner-join chains, and predicate pushdown cannot
  * move JOIN conditions into a child. The reference engine plans the same
  * queries as hash joins whose build side is filtered first
  * (`glaredb_core/src/logical/planner/plan_from.rs` binds the filter below
  * the join); this rule restores that ordering on the Spark side.
  *
  * The push recurses through a chain of output-preserving nodes until it
  * reaches the generator's base table:
  *   - `Project`: the condition's references are inlined through the
  *     projection (bail unless every inlined expression is deterministic
  *     and lands on the child's output);
  *   - condition-free Cross/Inner join with a TINY side (statically
  *     bounded maxRows — literal unions, global-aggregate singletons):
  *     descend into the unbounded side;
  *   - `LeftSemi`/`LeftAnti` join: a per-row filter on its left child —
  *     commutes with any join whose condition references only that child.
  *
  * Core rewrite (inner case; semi/anti analogous, minus probe columns):
  * {{{
  *   Join(Project(pl, Join(a, tiny, Cross)), probe, Inner, cond)
  * =>
  *   Project(pl ++ probe.output,
  *     Join(Join(a, probe, Inner, cond'), tiny, Cross))
  * }}}
  * Soundness: an inner/semi/anti join whose condition does not reference
  * the tiny side commutes with the cross join (both are filters/expansions
  * over the same product space), and commutes with a semi/anti join whose
  * left side carries all the referenced columns (the semi/anti keep-or-drop
  * decision per row is independent of the pushed join's matches). `cond'`
  * is `cond` with the projected aliases inlined, so values are unchanged.
  * A final top-level Project restores the original output order and attrs
  * (same exprIds), so parent plans are untouched.
  *
  * At scale this is the difference between expanding a 100 TB base table
  * k-fold before a selective join and expanding only the joined survivors:
  * the rewrite strictly shrinks the expansion input (the pushed join can
  * only drop or keep rows of the base, never touch tiny-side columns). The
  * rule bails unless EVERY conjunct of the condition is pushable —
  * splitting a semi/anti condition is unsound, and splitting an inner
  * condition can re-shape the join graph in ways whose cost we cannot
  * bound without stats. A rewrite is produced only when the recursion
  * actually reaches a tiny generator cross join (commuting with a
  * semi/anti alone would be cost-neutral at best).
  *
  * `spark.graft.pushJoinThroughTinyCross=false` disables the rule;
  * `.maxRows` tunes what counts as tiny (default 128 — literal slot lists
  * and global-aggregate singletons, never data tables).
  */
object PushJoinThroughTinyCross extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.pushJoinThroughTinyCross", "true").toBoolean

  private def maxTiny: Long =
    conf.getConfString("spark.graft.pushJoinThroughTinyCross.maxRows", "128").toLong

  /** Tiny = a statically-bounded row count (literal unions, global
    * aggregates, 1-row relations). Data tables have no maxRows bound. */
  private def isTiny(p: LogicalPlan): Boolean = p.maxRows.exists(_ <= maxTiny)

  private def isCondFreeCross(jt: JoinType): Boolean =
    jt == Cross || jt == Inner

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!enabled) return plan
    plan.transformDownWithSubqueries {
      case j @ Join(left, probe, jt, Some(cond), hint)
          if jt == Inner || jt == LeftSemi || jt == LeftAnti =>
        pushInto(left, probe, jt, cond, hint) match {
          case Some(pushed) =>
            // restore the original output (attr order changes when the
            // probe lands below a cross join without a Project above)
            if (jt == Inner) Project(j.output, pushed) else pushed
          case None => j
        }
    }
  }

  /** A plan equivalent to `Join(plan, probe, jt, cond, hint)` with the
    * conditioned join pushed to the generator base, or None when no tiny
    * generator cross join is reachable / the condition is not pushable.
    * Invariant: for Inner the result's output CONTAINS plan.output ++
    * probe.output (order may differ); for semi/anti it IS plan.output. */
  private def pushInto(plan: LogicalPlan, probe: LogicalPlan, jt: JoinType,
      cond: Expression, hint: JoinHint): Option[LogicalPlan] = plan match {

    case Project(pl, child) =>
      val aliasMap = AttributeMap(pl.collect {
        case al @ Alias(c, _) => (al.toAttribute, c)
        case ar: AttributeReference => (ar, ar: Expression)
      })
      val inlined = cond.transformUp {
        case ar: AttributeReference => aliasMap.getOrElse(ar, ar)
      }
      if (inlined.deterministic &&
        inlined.references.subsetOf(child.outputSet ++ probe.outputSet))
        pushInto(child, probe, jt, inlined, hint).map { newChild =>
          if (jt == Inner) Project(pl ++ probe.output, newChild)
          else Project(pl, newChild)
        }
      else None

    // the generator: condition-free cross join with a tiny constant side.
    // Reaching one is what makes the whole rewrite fire; land the probe
    // join directly on the unbounded side (or deeper, if it recurses).
    case Join(a, b, cjt, None, chint) if isCondFreeCross(cjt) &&
        isTiny(b) && cond.references.subsetOf(a.outputSet ++ probe.outputSet) =>
      val newA = pushInto(a, probe, jt, cond, hint)
        .getOrElse(Join(a, probe, jt, Some(cond), hint))
      Some(Join(newA, b, cjt, None, chint))

    case Join(a, b, cjt, None, chint) if isCondFreeCross(cjt) &&
        isTiny(a) && cond.references.subsetOf(b.outputSet ++ probe.outputSet) =>
      val newB = pushInto(b, probe, jt, cond, hint)
        .getOrElse(Join(b, probe, jt, Some(cond), hint))
      Some(Join(a, newB, cjt, None, chint))

    // a semi/anti join is a per-row filter on its left child: any join
    // whose condition lives on that child commutes with it. Only worth
    // doing when the recursion below actually reaches a generator (a bare
    // commute is cost-neutral at best), hence no getOrElse here.
    case Join(x, s, sjt, scond, chint) if (sjt == LeftSemi || sjt == LeftAnti) &&
        cond.references.subsetOf(x.outputSet ++ probe.outputSet) =>
      pushInto(x, probe, jt, cond, hint).map { newX =>
        Join(newX, s, sjt, scond, chint)
      }

    case _ => None
  }
}
