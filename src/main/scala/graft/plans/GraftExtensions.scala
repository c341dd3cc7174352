package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.Max
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Catalyst extension: rewrite `EXCEPT [DISTINCT]` chains into a SINGLE
  * grouped aggregation over all unioned branches with per-branch
  * presence markers.
  *
  * This is the strategy the reference engine compiles its q005 EXCEPT
  * chain into (reference: results/q005/workers-1/explain.txt:25-37 — one
  * Aggregate over all branches with `count_119 >= 1 AND count_120 = 0`
  * filters), where Catalyst's `ReplaceExceptWithAntiJoin` plans one
  * anti-join per EXCEPT. An N-branch chain costs ONE shuffle instead of
  * N-1 — the shape that wins at scale. Chains are collapsed through both
  * construction paths:
  *   - a chain parsed in one statement (`a EXCEPT b EXCEPT c` in SQL) is
  *     matched top-down at its topmost node and collapsed at once;
  *   - a chain built incrementally through the DataFrame API (each
  *     `.except` analyzed eagerly, so the inner chain is already
  *     rewritten) is matched structurally — an Except over an
  *     already-collapsed chain appends one more tagged branch to the
  *     existing Union instead of nesting a second aggregate.
  *
  * Example: `a EXCEPT b EXCEPT c` becomes
  * {{{
  *   Project a
  *     Filter (__in0 = 1 AND __in1 = 0)
  *       Aggregate [a] [a, max(if b=0) AS __in0, max(if b=1) AS __in1]
  *         Union
  *           Project [a, 0 AS __graft_b]  (a)
  *           Project [a, 1 AS __graft_b]  (b)
  *           Project [a, 1 AS __graft_b]  (c)
  * }}}
  * NULL grouping keys compare equal under GROUP BY, matching EXCEPT's
  * null-safe set semantics. The restoring Project re-asserts the original
  * Except output nullability (the Union's merged nullability is the OR of
  * all branches'): rows surviving `__in0 = 1` hold key values that
  * occurred in the positive branch, so its tighter nullability is sound.
  * Disable with `spark.sql.graft.rewriteExcept=false`.
  */
object RewriteExceptAsAggregate extends Rule[LogicalPlan] {

  private val marker = "__graft_b"

  /** Left-deep EXCEPT DISTINCT chain → (positive branch, negative branches
    * in order). `a EXCEPT b EXCEPT c` parses as `Except(Except(a,b),c)`. */
  private def collectChain(p: LogicalPlan): (LogicalPlan, Seq[LogicalPlan]) =
    p match {
      case Except(l, r, false) =>
        val (pos, negs) = collectChain(l)
        (pos, negs :+ r)
      case other => (other, Nil)
    }

  /** Matches the output shape this rule itself produces, yielding the
    * already-tagged union branches — detected by the reserved `__graft_b`
    * marker column every branch carries. */
  private object CollapsedChain {
    def unapply(p: LogicalPlan): Option[Seq[LogicalPlan]] = p match {
      case Project(_, Filter(_, Aggregate(_, _, u: Union, _)))
          if u.children.nonEmpty && u.children.forall {
            case Project(projList, _) => projList.lastOption.exists {
              case a: Alias => a.name == marker
              case _ => false
            }
            case _ => false
          } => Some(u.children)
      case _ => None
    }
  }

  /** Tag a negative branch: align its columns to the chain output's names
    * positionally (EXCEPT matches by position, not name). */
  private def tagNegative(n: LogicalPlan, shape: Seq[Attribute]): LogicalPlan =
    Project(
      n.output.zip(shape).map { case (r, l) => Alias(r, l.name)() } :+
        Alias(Literal(1), marker)(), n)

  /** union+aggregate+filter over tagged branches, restoring `out`'s
    * attribute ids and nullability. */
  private def assemble(out: Seq[Attribute], branches: Seq[LogicalPlan]): LogicalPlan = {
    val union = Union(branches)
    val keys = union.output.init
    val b = union.output.last
    def presence(tag: Int, name: String) = Alias(
      Max(CaseWhen(Seq((EqualTo(b, Literal(tag)), Literal(1))), Literal(0)))
        .toAggregateExpression(), name)()
    val in0 = presence(0, "__in0")
    val in1 = presence(1, "__in1")
    val agg = Aggregate(keys, (keys :+ in0 :+ in1).toSeq, union)
    val filtered = Filter(
      And(EqualTo(in0.toAttribute, Literal(1)), EqualTo(in1.toAttribute, Literal(0))),
      agg)
    Project(
      keys.zip(out).map { case (k, o) =>
        val narrowed = if (!o.nullable && k.nullable) KnownNotNull(k) else k
        Alias(narrowed, o.name)(exprId = o.exprId)
      }, filtered)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!conf.getConfString("spark.sql.graft.rewriteExcept", "true").toBoolean) return plan
    // top-down so the TOPMOST Except of a same-statement chain matches
    // first and the whole chain collapses into one aggregate
    plan.resolveOperatorsDown {
      case e @ Except(CollapsedChain(branches), r, false) if e.resolved =>
        // API-built chain: extend the collapsed plan with one more branch
        assemble(e.output, branches :+ tagNegative(r, e.output))
      case e @ Except(_, _, false) if e.resolved =>
        val (pos, negs) = collectChain(e)
        val posTag = Project(pos.output :+ Alias(Literal(0), marker)(), pos)
        assemble(e.output, posTag +: negs.map(tagNegative(_, pos.output)))
    }
  }
}

/** SparkSessionExtensions entry point (wired via
  * `spark.sql.extensions=graft.plans.GraftExtensions`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectResolutionRule(_ => RewriteExceptAsAggregate)
    // post-hoc: UPDATE/MERGE INTO arrive fully resolved, then route into
    // GraftMerge's copy-on-write paths before Spark rejects them as
    // unsupported for tables without SupportsRowLevelOperations
    e.injectPostHocResolutionRule(_ => GraftDmlStatements)
    // OPTIMIZE / VACUUM maintenance statements (delegating parser —
    // both keywords are invalid stock SQL, everything else passes
    // through verbatim)
    e.injectParser((_, delegate) => new GraftSqlParser(delegate))
    e.injectOptimizerRule(_ => PushPartialDistinctBelowJoin)
    e.injectPlannerStrategy(_ => GroupedTopKStrategy)
    e.injectPlannerStrategy(_ => PartialDistinctStrategy)
    // AQE re-optimization, once the input stages' sizes are known
    e.injectRuntimeOptimizerRule(GatherSmallSort)
  }
}
