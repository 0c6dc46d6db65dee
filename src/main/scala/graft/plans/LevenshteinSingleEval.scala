package graft.plans

import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute,
  Expression, GreaterThanOrEqual, LessThan, LessThanOrEqual, Levenshtein,
  Literal, NamedExpression, PredicateHelper}
import org.apache.spark.sql.types.IntegerType
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Join, LogicalPlan,
  Project}
import org.apache.spark.sql.catalyst.rules.Rule

/** Optimizer rule: evaluate a filtered-AND-projected Levenshtein once.
  *
  * Catalyst has no cross-operator common-subexpression elimination, and
  * predicate pushdown actively re-creates the duplicate: a query that
  * projects `levenshtein(a, b) AS d` and filters `d <= k` gets the filter
  * pushed back through the projection with the alias substituted, so the
  * optimized plan evaluates the O(len_a x len_b) kernel once per candidate
  * pair in the Filter/Join condition and AGAIN per surviving pair in the
  * Project. This rule runs after the pushdown batches (registered via
  * `spark.experimental.extraOptimizations`, the optimizer's final batch)
  * and restores the single-evaluation shape:
  *
  * {{{
  * Project [.., levenshtein(a,b) AS d]          Project [.., _lev AS d]
  *   Filter/Join [.. && levenshtein(a,b) <= k]    Filter [_lev <= k]
  *                                                  Project [.., levenshtein(a,b) AS _lev]
  *                                                    Filter/Join [..]   // cheap conjuncts stay below
  * }}}
  *
  * Only conjuncts containing a Levenshtein that the enclosing Project ALSO
  * computes are hoisted; everything else (equi-join keys, the
  * LevenshteinLengthGuard bound) stays below the shared projection, so the
  * cheap length guard still short-circuits the kernel for length-mismatched
  * pairs. When the kernel's only hoisted use is a threshold comparison,
  * the shared evaluation upgrades to the 3-arg `levenshtein(a, b, k)` —
  * the banded O(len x k) DP that early-outs past the bound — and the
  * hoisted filter becomes `_lev_once >= 0`; at a fuzzy-join's 100 TB
  * candidate volume that bound, not the exact O(len^2) kernel, is the
  * dominant cost. Measured (interleaved in-JVM A/B in a30c6b1,
  * 100k same-length 400-char pairs at threshold 20 — the population the
  * length guard cannot prune): 13.8 s rule-off vs 0.35 s rule-on, ~40x. Join conditions are only rewritten for Inner/Cross joins (where
  * a post-join Filter is equivalent) and only when cheap conjuncts remain
  * to key the join. Because the extraOptimizations batch contains no
  * pushdown rule, the hoisted Filter-on-attribute is stable; the rule is
  * idempotent (the rewritten Project contains no Levenshtein, so it cannot
  * match again) and registered AFTER LevenshteinLengthGuard in
  * `GraftSession.tune` so the guard is already in place when hoisting
  * happens. Deliberately NOT injected via GraftExtensions'
  * `injectOptimizerRule`: that hook places rules inside the operator-
  * optimization batch, where PushDownPredicates would re-inline the alias
  * every iteration and the fixpoint batch would never converge.
  */
object LevenshteinSingleEval extends Rule[LogicalPlan] with PredicateHelper {

  /** Distinct (by canonical form) 2-arg Levenshteins appearing in `cond`
    * that the project `fields` also compute somewhere inside an alias.
    */
  private def sharedKernels(fields: Seq[NamedExpression],
                            cond: Expression): Seq[Levenshtein] = {
    val inCond = cond.collect { case l @ Levenshtein(_, _, None) => l }
    val shared = inCond.filter(l =>
      l.deterministic && fields.exists(_.exists(_.semanticEquals(l))))
    shared.foldLeft(Seq.empty[Levenshtein]) { (acc, l) =>
      if (acc.exists(_.semanticEquals(l))) acc else acc :+ l
    }
  }

  private def substitute(e: Expression,
                         mapping: Seq[(Levenshtein, Attribute)]): Expression =
    e.transformUp {
      case x if mapping.exists(_._1.semanticEquals(x)) =>
        mapping.find(_._1.semanticEquals(x)).get._2
    }

  /** Shared rewrite: hoist the kernel-bearing conjuncts of `cond` above a
    * projection that evaluates each shared kernel once; `rebuildChild`
    * re-wraps the non-kernel conjuncts around the original child (plain
    * Filter for a Filter parent, the join condition for a Join parent).
    */
  private def rewrite(fields: Seq[NamedExpression], cond: Expression,
                      child: LogicalPlan,
                      rebuildChild: Seq[Expression] => Option[LogicalPlan])
      : Option[LogicalPlan] = {
    val kernels = sharedKernels(fields, cond)
    if (kernels.isEmpty) return None
    val (hoisted, kept) = splitConjunctivePredicates(cond)
      .partition(c => kernels.exists(k => c.exists(_.semanticEquals(k))))
    if (hoisted.isEmpty) return None
    rebuildChild(kept).map { newChild =>
      // BANDED upgrade: when a kernel's ONLY hoisted use is a threshold
      // comparison `lev <= k` / `lev < k`, evaluate the 3-arg
      // `levenshtein(a, b, k)` instead — Spark's threshold kernel runs
      // the banded O(len x k) DP and returns -1 past the bound, so the
      // hoisted filter becomes `_lev_once >= 0` and survivors' exact
      // distances (<= k by construction) are bit-identical for the
      // projection. Any other shape keeps the exact 2-arg kernel.
      def bandOf(k: Levenshtein): Option[Int] = {
        val uses = hoisted.filter(_.exists(_.semanticEquals(k)))
        uses match {
          case Seq(LessThanOrEqual(l, lim: Literal))
              if l.semanticEquals(k) && lim.dataType == IntegerType &&
                lim.value.asInstanceOf[Int] >= 0 =>
            Some(lim.value.asInstanceOf[Int])
          case Seq(LessThan(l, lim: Literal))
              if l.semanticEquals(k) && lim.dataType == IntegerType &&
                lim.value.asInstanceOf[Int] > 0 =>
            Some(lim.value.asInstanceOf[Int] - 1)
          case _ => None
        }
      }
      val mapping = kernels.map { k =>
        val banded = bandOf(k)
        val expr = banded
          .map(b => Levenshtein(k.left, k.right, Some(Literal(b))))
          .getOrElse(k)
        (k, Alias(expr, "_lev_once")(), banded)
      }
      val attrs = mapping.map { case (k, a, _) => k -> a.toAttribute }
      val lower = Project(child.output ++ mapping.map(_._2), newChild)
      val upperCond = hoisted.map { c =>
        // a banded kernel's threshold conjunct is REPLACED (the bound now
        // lives inside the kernel), not alias-substituted
        mapping.collectFirst {
          case (k, a, Some(_)) if c.exists(_.semanticEquals(k)) =>
            GreaterThanOrEqual(a.toAttribute, Literal(0))
        }.getOrElse(substitute(c, attrs))
      }.reduce(And)
      val upperFields = fields
        .map(substitute(_, attrs).asInstanceOf[NamedExpression])
      Project(upperFields, Filter(upperCond, lower))
    }
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    val rewritten = plan.transformUp {
      case p @ Project(fields, Filter(cond, child))
          if fields.forall(_.deterministic) && cond.deterministic =>
        rewrite(fields, cond, child, kept =>
          Some(if (kept.isEmpty) child else Filter(kept.reduce(And), child)))
          .getOrElse(p)
      case p @ Project(fields, j @ Join(_, _, jt, Some(cond), _))
          if (jt == Inner || jt == Cross) &&
            fields.forall(_.deterministic) && cond.deterministic =>
        rewrite(fields, cond, j, kept =>
          // keep at least one conjunct on the join: hoisting ALL of them
          // would silently turn a keyed join into a cartesian product
          if (kept.isEmpty) None else Some(j.copy(condition = Some(kept.reduce(And)))))
          .getOrElse(p)
    }
    // Visibility escape hatch (ADVICE r10): the match above is deliberately
    // conservative — Project DIRECTLY over Filter/Inner-Join only. If a
    // kernel still appears in both a condition and a projection after the
    // pass (an intervening node, an outer join), Catalyst's double
    // evaluation survives SILENTLY and the banded ~40x never applies; a
    // trace line makes that shape regression observable instead of mute.
    // (The rewrite's own output never trips this: the upper Project
    // references the _lev_once attribute, not a raw kernel, and the lower
    // kernel-bearing Project sits above the remaining conjuncts.)
    if (log.isTraceEnabled) {
      val inConds = rewritten.collect {
        case Filter(c, _) => c
        case Join(_, _, _, Some(c), _) => c
      }.flatMap(_.collect { case l @ Levenshtein(_, _, None) => l })
      val unhoisted = inConds.filter(k => rewritten.exists {
        case Project(fs, _) => fs.exists(_.exists(_.semanticEquals(k)))
        case _ => false
      })
      if (unhoisted.nonEmpty) logTrace(
        s"LevenshteinSingleEval: ${unhoisted.size} kernel(s) remain in both " +
          "a condition and a projection (shape not matched — double " +
          s"evaluation persists): ${unhoisted.map(_.sql).mkString(", ")}")
    }
    rewritten
  }
}
