package graft.plans

import scala.annotation.tailrec

import org.apache.spark.sql.{Column, GraftBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.{GraftMerge, GraftVersionedTable}

/** Native SQL `DELETE` / `UPDATE` / `MERGE INTO` statements for graft
  * versioned tables.
  *
  * The reference's only interface is a wire client issuing SQL text
  * (reference: data-loader/loader.py:25-39), so a DML verb that exists
  * only as a Scala API is incomplete. Spark parses the statements into
  * [[DeleteFromTable]]/[[UpdateTable]]/[[MergeIntoTable]] and resolves
  * every expression; for tables implementing the heavyweight
  * `SupportsRowLevelOperations` seam it would then re-plan them as
  * generic scan+replace jobs — this rule instead routes the RESOLVED
  * statements into [[GraftMerge]]'s copy-on-write implementations
  * (the Delta-style post-hoc command rewrite), keeping the exact cost
  * shape the Scala API already proved: one name-only metadata pass
  * finds touched files, only those rewrite, untouched files carry by
  * manifest reference, conflicts detected at the atomic publish.
  *
  * Statement shapes outside the implementations' semantics are
  * rejected LOUDLY at analysis (nested-field assignments, subquery
  * conditions, non-equality merge conditions, extra WHEN branches) —
  * never silently misapplied. */
object GraftDmlStatements extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case d @ DeleteFromTable(GraftTarget(path, _), condition) if d.resolved =>
      GraftDeleteCommand(path, condition)

    case u @ UpdateTable(GraftTarget(path, _), assignments, condition)
        if u.resolved =>
      GraftUpdateCommand(path, condition, assignments.map(toNamedAssignment))

    case m @ MergeIntoTable(GraftTarget(path, targetOut), source, cond,
        matched, notMatched, notMatchedBySource, withSchemaEvolution)
        if m.resolved =>
      translateMerge(path, targetOut, source, cond, matched, notMatched,
        notMatchedBySource, withSchemaEvolution)

    // maintenance statements (OPTIMIZE / VACUUM, GraftSqlParser): the
    // analyzer resolved the relation; bind the command to the table dir
    case GraftOptimizeStatement(child, zorder) if child.resolved =>
      child match {
        case GraftTarget(path, _) => GraftOptimizeCommand(path, zorder)
        case _ => throw new UnsupportedOperationException(
          "OPTIMIZE supports graft versioned tables only")
      }
    case GraftVacuumStatement(child, retain) if child.resolved =>
      child match {
        case GraftTarget(path, _) => GraftVacuumCommand(path, retain)
        case _ => throw new UnsupportedOperationException(
          "VACUUM supports graft versioned tables only")
      }
    case GraftDescribeHistoryStatement(child) if child.resolved =>
      child match {
        case GraftTarget(path, _) => GraftDescribeHistoryCommand(path)
        case _ => throw new UnsupportedOperationException(
          "DESCRIBE HISTORY supports graft versioned tables only")
      }
    case GraftDescribeDetailStatement(child) if child.resolved =>
      child match {
        case GraftTarget(path, _) => GraftDescribeDetailCommand(path)
        case _ => throw new UnsupportedOperationException(
          "DESCRIBE DETAIL supports graft versioned tables only")
      }
    case GraftAnalyzeStatement(child, forCols) if child.resolved =>
      child match {
        case GraftTarget(path, _) => GraftAnalyzeCommand(path, forCols)
        case _ => throw new UnsupportedOperationException(
          "ANALYZE TABLE supports graft versioned tables only " +
            "(source-root tables are read-only; stock Spark rejects " +
            "ANALYZE for all v2 tables)")
      }
  }

  /** A resolved graft versioned-table target (possibly aliased). */
  private object GraftTarget {
    def unapply(p: LogicalPlan): Option[(String, Seq[Attribute])] =
      unwrap(p) match {
        case r @ DataSourceV2Relation(t: GraftVersionedTable, _, _, _, _, _) =>
          Some((t.path, r.output))
        case _ => None
      }

    @tailrec private def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case SubqueryAlias(_, child) => unwrap(child)
      case other => other
    }
  }

  private def toNamedAssignment(a: Assignment): (String, Expression) =
    a.key match {
      case attr: Attribute => attr.name -> a.value
      case other => throw new UnsupportedOperationException(
        s"graft UPDATE supports only top-level column assignments, got: " +
          s"${other.sql} = ${a.value.sql}")
    }

  /** Supported MERGE subset — the upsert [[GraftMerge.mergeInto]]
    * implements: equality key condition, one unconditional
    * whole-row-replacing WHEN MATCHED UPDATE, one unconditional
    * whole-row WHEN NOT MATCHED INSERT (the `SET *` / `INSERT *`
    * expansion), no NOT MATCHED BY SOURCE branches. */
  private def translateMerge(path: String, targetOut: Seq[Attribute],
      source: LogicalPlan, cond: Expression, matched: Seq[MergeAction],
      notMatched: Seq[MergeAction], notMatchedBySource: Seq[MergeAction],
      withSchemaEvolution: Boolean): LogicalPlan = {
    def reject(why: String): Nothing = throw new UnsupportedOperationException(
      s"graft MERGE INTO supports the upsert shape (ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *); " +
        why)
    if (withSchemaEvolution) reject("WITH SCHEMA EVOLUTION is not supported")
    if (notMatchedBySource.nonEmpty)
      reject("WHEN NOT MATCHED BY SOURCE branches are not supported")
    val targetSet = AttributeSet(targetOut)
    val sourceSet = source.outputSet
    // type coercion wraps a narrower side in Cast (e.g. t.k = CAST(s.k
    // AS BIGINT)) — the join GraftMerge performs applies the same
    // widening, so seeing through VALUE-PRESERVING casts preserves
    // semantics. A NARROWING cast (user-written `CAST(s.k AS INT)` on
    // a bigint) truncates the compared value; stripping it would join
    // on different values than the statement compares — rejected
    // instead (ADVICE r13).
    @tailrec def stripCast(e: Expression): Expression = e match {
      case c: Cast if GraftMerge.widening(c.child.dataType, c.dataType) =>
        stripCast(c.child)
      case other => other
    }
    val (key, srcKey) = (cond match {
      case EqualTo(l, r) => Some((stripCast(l), stripCast(r)))
      case _ => None
    }) match {
      case Some((l: AttributeReference, r: AttributeReference))
          if targetSet.contains(l) && sourceSet.contains(r) => (l, r)
      case Some((l: AttributeReference, r: AttributeReference))
          if targetSet.contains(r) && sourceSet.contains(l) => (r, l)
      case _ => reject(
        s"the ON condition must be one target-key = source-key equality, " +
          s"got: ${cond.sql}")
    }
    val updateAssigns = matched match {
      case Seq(UpdateAction(None, assigns, _)) => assigns
      case _ => reject("exactly one unconditional WHEN MATCHED THEN UPDATE " +
        s"branch is required, got: $matched")
    }
    val insertAssigns = notMatched match {
      case Seq(InsertAction(None, assigns)) => assigns
      case _ => reject("exactly one unconditional WHEN NOT MATCHED THEN " +
        s"INSERT branch is required, got: $notMatched")
    }
    // both branches must write the SAME source expression to every
    // target column (whole-row replace ≡ whole-row insert) — that is
    // the semantics mergeInto implements
    def byColumn(assigns: Seq[Assignment], branch: String): Map[String, Expression] =
      assigns.map { a =>
        a.key match {
          case attr: Attribute => attr.name -> a.value
          case other => reject(s"$branch assigns a nested field: ${other.sql}")
        }
      }.toMap
    val up = byColumn(updateAssigns, "WHEN MATCHED")
    val ins = byColumn(insertAssigns, "WHEN NOT MATCHED")
    val missing = targetOut.map(_.name).filterNot(c => up.contains(c) && ins.contains(c))
    if (missing.nonEmpty)
      reject(s"both branches must assign every target column; missing: " +
        missing.mkString(", "))
    targetOut.map(_.name).foreach { c =>
      if (!up(c).semanticEquals(ins(c)))
        reject(s"UPDATE and INSERT assign different values to $c " +
          s"(${up(c).sql} vs ${ins(c).sql}) — whole-row upsert requires " +
          "identical assignments (use SET * / INSERT *)")
    }
    // the key column must be assigned the ON condition's OWN source
    // key (ADVICE r13): mergeInto joins target.key against the
    // projected source's key column, so `ON t.k = s.k … SET k =
    // s.other` (identical branches — passes every check above) would
    // silently join on s.other, different match semantics than the
    // statement declares. Coercion's widening cast around the
    // assignment value is seen through; anything else is rejected.
    if (!stripCast(up(key.name)).semanticEquals(srcKey))
      reject(s"the key column ${key.name} must be assigned the ON " +
        s"condition's source key ${srcKey.sql}, got: ${up(key.name).sql}")
    GraftMergeCommand(path, source, key.name, targetOut.map(_.name),
      targetOut.map(a => up(a.name)))
  }
}

/** Shared expression plumbing for the DML commands: the resolved
  * statement's expressions carry exprIds bound to the ORIGINAL
  * relation, but [[GraftMerge]] applies them to fresh per-file reads —
  * re-resolve by NAME (the schema is the same snapshot's). */
private object GraftDmlExpr {
  def toColumn(e: Expression): Column = {
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      throw new UnsupportedOperationException(
        s"graft DML does not support subqueries in: ${e.sql}")
    GraftBridge.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })
  }
}

/** `DELETE FROM t WHERE …` → [[GraftMerge.deleteFrom]] (copy-on-write,
  * O(touched files); a DELETE without WHERE arrives as `true`). */
private[graft] case class GraftDeleteCommand(path: String, condition: Expression)
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMerge.deleteFrom(spark, path, GraftDmlExpr.toColumn(condition))
    Seq.empty
  }
}

/** `UPDATE t SET … WHERE …` → [[GraftMerge.updateWhere]] (copy-on-write,
  * O(touched files); see GraftMerge.scala). */
private[graft] case class GraftUpdateCommand(path: String,
    condition: Option[Expression], assignments: Seq[(String, Expression)])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val cond = condition.map(GraftDmlExpr.toColumn)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    GraftMerge.updateWhere(spark, path, cond,
      assignments.map { case (c, e) => c -> GraftDmlExpr.toColumn(e) })
    Seq.empty
  }
}

/** `MERGE INTO t USING s ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
  * WHEN NOT MATCHED THEN INSERT *` → [[GraftMerge.mergeInto]]. The
  * source DataFrame is projected to the target's column names through
  * the statement's own (validated, identical) branch assignments. */
private[graft] case class GraftMergeCommand(path: String,
    source: LogicalPlan, keyCol: String, targetCols: Seq[String],
    sourceExprs: Seq[Expression])
  extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    val srcDf = GraftBridge.ofRows(spark, source).select(
      targetCols.zip(sourceExprs).map { case (c, e) =>
        GraftDmlExpr.toColumn(e).as(c)
      }: _*)
    GraftMerge.mergeInto(spark, path, srcDf, keyCol)
    Seq.empty
  }
}
