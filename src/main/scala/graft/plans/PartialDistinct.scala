package graft.plans

import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Max, Min}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec

/** Partial (exchange-free) distinct: dedup rows per partition on `keys`,
  * with NO shuffle and NO guarantee of global uniqueness. This is the
  * Spark expression of the reference engine's `Aggregate[type = PARTIAL]`
  * below a join (reference: results/q005/workers-1/explain.txt:126 — a
  * partial distinct on [d_date_3, ss_customer_sk] under the customer
  * join): it shrinks the join input where duplication is high and costs
  * no exchange, only a per-partition hash table.
  *
  * Per-partition dedup is ADVISORY for correctness: any subset of the
  * duplicate elimination (including none, e.g. after a sort-based
  * fallback under memory pressure) leaves the downstream duplicate-
  * insensitive aggregate's result unchanged — which is what makes the
  * operator safe to place below a join that multiplies row counts.
  */
case class PartialDistinct(keys: Seq[Attribute], child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = keys
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): PartialDistinct =
    copy(child = newChild)
}

/** Push a partial distinct below an inner join when the aggregate above
  * the join is DUPLICATE-INSENSITIVE — a pure DISTINCT (grouping keys
  * only, no aggregate functions), or one whose every aggregate call
  * ignores input multiplicity: `min`, `max`, or any explicit
  * `DISTINCT` aggregate (`count(DISTINCT …)`, `sum(DISTINCT …)`) —
  * the reference's q005 pre-aggregation-through-join plan shape
  * (explain.txt:126, which pre-aggregates 137.8M rows below the
  * customer join). Each join side is reduced to its referenced
  * columns and deduped per-partition before being joined:
  *
  * {{{
  *   Aggregate [g...]                 Aggregate [g...]
  *     Join Inner (c)          →        Join Inner (c)
  *       left                             PartialDistinct [refs(left)]
  *       right                              left
  *                                        PartialDistinct [refs(right)]
  *                                          right
  * }}}
  *
  * Soundness: rows of one side identical on every column referenced
  * ABOVE the join — grouping keys, aggregate arguments (and aggregate
  * FILTER clauses; `NamedExpression.references` covers both), and the
  * join condition — are interchangeable: they produce identical join
  * matches and identical (group, agg-input) tuples, so dropping
  * duplicates changes only multiplicities, which distinct / min / max /
  * DISTINCT-aggregates ignore by definition. Duplicate-SENSITIVE calls
  * (sum, count, avg, percentile …) disqualify the whole aggregate.
  * Inner joins only (dedup of a preserved outer side would also be
  * sound, but the reference shape is inner and the narrow match keeps
  * the proof one line).
  *
  * With aggregate functions present the dedup keys widen to include
  * the aggregate argument columns, so the per-partition reduction is
  * smaller than in the pure-distinct case — but the insertion stays
  * advisory and exchange-free, so the worst case (keys nearly unique
  * per partition) costs one codegen'd hash probe per row while the
  * best case ships orders of magnitude fewer rows into the join
  * exchange, exactly the trade the reference engine makes in q005.
  *
  * Runs in the user-provided optimizer batch (post column-pruning, post
  * distinct→aggregate rewrite). The physical operator is an exchange-free
  * partial-mode HashAggregateExec (PartialDistinctStrategy), so unlike a
  * logical Distinct insertion this adds NO shuffle — at 1000 executors
  * the join exchange ships the deduped rows instead of raw scan output.
  * Switch it off with
  * `spark.sql.optimizer.excludedRules=graft.plans.PushPartialDistinctBelowJoin`.
  */
object PushPartialDistinctBelowJoin extends Rule[LogicalPlan] {

  /** Every aggregate call (possibly none — the pure-distinct case)
    * ignores input duplicates: min, max, or an explicit DISTINCT
    * aggregate. */
  private def duplicateInsensitive(aggs: Seq[NamedExpression]): Boolean =
    aggs.forall(_.collect { case ae: AggregateExpression => ae }.forall { ae =>
      ae.isDistinct || (ae.aggregateFunction match {
        case _: Min | _: Max => true
        case _ => false
      })
    })

  /** Already duplicate-free (or duplicate-reduced) modulo filters —
    * the guard that keeps the rule idempotent across the two operator-
    * optimization fixpoint batches it is spliced into (infer-filters
    * runs in between and lays `isnotnull` Filters on top of the first
    * pass's insertions). */
  private def alreadyDeduped(p: LogicalPlan): Boolean = p match {
    case _: PartialDistinct => true
    case _: Aggregate => true
    case _: Distinct => true
    case f: Filter => alreadyDeduped(f.child)
    case _ => false
  }

  /** A join whose inputs may take a partial distinct: inner, sides not
    * already distinct-ish, everything deterministic. */
  private def eligible(j: Join, above: Seq[Expression]): Boolean =
    j.joinType == Inner &&
      (above ++ j.condition.toSeq).forall(_.deterministic) &&
      !alreadyDeduped(j.left) && !alreadyDeduped(j.right)

  /** A side whose subtree scans a relation that dynamic filtering can
    * prune on a join-condition column — a PARTITIONED file relation
    * with a partition column among the references, or a DSv2 scan with
    * the [[org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering]]
    * seam (the mongo `$in` / elastic `terms` / jdbc `WHERE IN` wire
    * scans) whose filterAttributes cover a referenced column. Inserting
    * a PartialDistinct here would sit between the scan and the dynamic
    * filter PartitionPruning lays above the side: the rule's scan
    * traversal cannot see through a node it does not know, and the
    * side loses its pruning — a far bigger loss at scale than the
    * exchange-free dedup is worth (a runtime-filtered scan reads
    * O(matching rows) at the store; the dedup saves only join-input
    * width). Leave such sides untouched. */
  private def dppEligible(side: LogicalPlan, cond: Seq[Expression]): Boolean = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
    import org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    val condRefs = AttributeSet(cond.flatMap(_.references))
    side.exists {
      case lr: LogicalRelation => lr.relation match {
        case fs: HadoopFsRelation if fs.partitionSchema.nonEmpty =>
          val partCols = fs.partitionSchema.map(_.name).toSet
          lr.output.exists(a => partCols.contains(a.name) && condRefs.contains(a))
        case _ => false
      }
      // this rule runs BEFORE scan pushdown, so the wire connectors
      // still sit as pre-scan DataSourceV2Relations — their scans all
      // implement SupportsRuntimeV2Filtering over every scalar column,
      // so any join-key reference into one is a runtime-filter seam
      case r: DataSourceV2Relation => (r.table match {
        case _: graft.sources.GraftMongoTable => true
        case _: graft.sources.GraftElasticTable => true
        case _: graft.sources.GraftJdbcTable => true
        case _ => false
      }) && r.output.exists(condRefs.contains)
      // post-pushdown shape (defensive: a second fixpoint pass can see
      // the rewritten plan): ask the built scan directly
      case r: DataSourceV2ScanRelation => r.scan match {
        case f: SupportsRuntimeV2Filtering =>
          // name-matched case-insensitively: runtime refs carry the
          // query's spelling, scans report their schema's
          val filterable = f.filterAttributes()
            .flatMap(_.fieldNames().lastOption).map(_.toLowerCase).toSet
          r.output.exists(a =>
            filterable.contains(a.name.toLowerCase) && condRefs.contains(a))
        case _ => false
      }
      case _ => false
    }
  }

  /** Rebuild `j` with each side deduped per-partition on its columns
    * referenced by `above` (the expressions consumed over the join
    * output) and the join condition. */
  private def pushed(j: Join, above: Seq[Expression]): Join = {
    val refs = AttributeSet(
      above.flatMap(_.references) ++ j.condition.toSeq.flatMap(_.references))
    def push(side: LogicalPlan): LogicalPlan = {
      val keys = side.output.filter(refs.contains)
      if (keys.isEmpty || dppEligible(side, j.condition.toSeq)) side
      else PartialDistinct(keys, side)
    }
    j.copy(left = push(j.left), right = push(j.right))
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case agg @ Aggregate(groups, aggs, j: Join, _)
          if duplicateInsensitive(aggs) && eligible(j, groups ++ aggs) =>
        agg.copy(child = pushed(j, groups ++ aggs))
      // column pruning usually leaves a Project between the distinct's
      // Aggregate and the Join — dedup keys come from the projection's
      // input references then
      case agg @ Aggregate(groups, aggs, p @ Project(projList, j: Join), _)
          if duplicateInsensitive(aggs) && (groups ++ aggs).forall(_.deterministic) &&
            eligible(j, projList) =>
        agg.copy(child = p.copy(child = pushed(j, projList)))
      // filters land ABOVE an inserted partial distinct when the
      // infer-filters batch runs after the first insertion; commute
      // them below it — fewer rows enter the dedup hash table and its
      // output shrinks (sound: the dedup passes key columns through
      // unchanged)
      case f @ Filter(cond, pd: PartialDistinct) if cond.deterministic =>
        pd.copy(child = f.copy(child = pd.child))
    }
}

/** Plans PartialDistinct as a partial-mode (no required child
  * distribution → no exchange) keys-only HashAggregateExec — the same
  * physical operator Spark emits for the map side of a DISTINCT, here
  * placed below a join instead of below an exchange. Keys-only agg state
  * is an empty buffer, so this stays inside whole-stage codegen. */
object PartialDistinctStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PartialDistinct(keys, child) =>
      HashAggregateExec(
        requiredChildDistributionExpressions = None,
        isStreaming = false,
        numShufflePartitions = None,
        groupingExpressions = keys,
        aggregateExpressions = Nil,
        aggregateAttributes = Nil,
        initialInputBufferOffset = 0,
        resultExpressions = keys,
        child = planLater(child)) :: Nil
    case _ => Nil
  }
}
