package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Bridge into `private[sql]` helpers so graft code can lift custom
  * Catalyst [[Expression]]s into user-facing [[Column]]s (the Spark 4.x
  * Column API is node-based; `classic.ExpressionUtils` does the lifting)
  * and read a Column back as Catalyst: [[resolveAgainst]] is the one
  * place a copy-on-write predicate, whichever way it was built, becomes
  * a resolved expression for file pruning. */
object GraftBridge {
  /** Per-statement session isolation for the statement protocol face:
    * a clone shares the SparkContext and SharedState (so registered
    * catalogs and temp state resolve identically) but carries its OWN
    * SessionState — conf, CatalogManager, current catalog/namespace —
    * so applying a statement's `X-Trino-Catalog`/`X-Trino-Schema`
    * defaults never races concurrent statements or direct users of
    * the shared session. `cloneSession` is `private[sql]`; this is
    * the sanctioned bridge. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Constructors for V2 connector literals/partitions that are
    * `private[sql]` in the Scala signature (public bytecode, pickled
    * visibility) — used by the PG-dialect pinning spec to hand-build
    * the pushdown shapes Spark itself would push. */
  def v2Literal(v: Any, dt: DataType)
      : org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(v, dt)
  /** Spark's own V2 → V1 predicate translation (literals converted to
    * external Scala values), so the mongodb and elastic scans render a
    * runtime filter with their compile-time V1 renderer. */
  def toV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[sources.Filter] = internal.connector.PredicateUtils.toV1(p)
  /** Render a DataFrame's rows to strings EXECUTOR-side through the
    * df's OWN QueryExecution (`toRdd`), so the SQL metrics of the
    * already-planned tree keep accumulating — `Dataset.rdd` would
    * build a SEPARATE deserialization QueryExecution whose metrics the
    * statement server's live `stats` walk cannot see. The deserializer
    * to external Rows is the row encoder Spark itself would bind. */
  def renderedRdd(df: DataFrame, render: Row => String)
      : org.apache.spark.rdd.RDD[String] = {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      df.schema)
    df.queryExecution.toRdd.mapPartitions { it =>
      val deser = enc.resolveAndBind().createDeserializer()
      it.map(ir => render(deser(ir)))
    }
  }

  def withPredicates(b: org.apache.spark.sql.jdbc.JdbcSQLQueryBuilder,
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : org.apache.spark.sql.jdbc.JdbcSQLQueryBuilder =
    b.withPredicates(predicates,
      org.apache.spark.sql.execution.datasources.jdbc.JDBCPartition(null, 0))

  /** The one materialization of an operator relation that is read more
    * than once. Without it every reference re-inlines the relation's
    * subtree: a training pass (IVF centroids, PQ codebooks), a corpus
    * explode (word/trigram/tf indexes), a signature aggregate, or the
    * previous round of an iterative loop (connected components, the MMR
    * selection), whose lazy plan grows 3^k with the rounds. One
    * materialization runs that subtree once and every consumer reads
    * its blocks.
    *
    * It is Spark's eager local Dataset checkpoint minus the step that
    * cuts lineage: under one SQL execution of `df`'s own QueryExecution
    * (so `observe()` metrics fill during it) the executed plan's rows
    * are persisted at MEMORY_AND_DISK, filled by one job, and wrapped
    * in a `LogicalRDD` that keeps the plan's partitioning, ordering and
    * statistics. A block lost with its executor is recomputed from
    * lineage, so task retry recovers it instead of failing the job. The
    * blocks stay until [[release]] (iterative loops drop each
    * superseded round), `Bench.cleanup`, or the RDD's GC. */
  def materialize(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rows = execution.SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      qe.executedPlan.resetMetrics()
      val r = qe.executedPlan.execute().map(_.copy())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }

  /** Drop the blocks behind a [[materialize]]d DataFrame now rather
    * than at the RDD's GC. No-op on any other plan. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); ()
    case _ =>
  }

  /** Materialized (RDD) blocks per live executor, from the block
    * manager master — zero for an executor that holds none. */
  def rddBlocksByExecutor(sc: org.apache.spark.SparkContext): Map[String, Int] =
    sc.env.blockManager.master.getStorageStatus
      .map(s => s.blockManagerId.executorId -> s.rddBlocks.size)
      .filter(_._1 != org.apache.spark.SparkContext.DRIVER_IDENTIFIER).toMap

  /** `df` as ONE streaming leaf, the form a V1 streaming `Source`
    * returns a micro-batch in: its whole plan (a join included) runs
    * as the batch's RDD, so Spark never plans it as a stream-stream
    * operator. */
  def streamingLeaf(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    ds.sparkSession.internalCreateDataFrame(ds.queryExecution.toRdd, ds.schema,
      isStreaming = true)
  }

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `pred` analysed by name against a relation of `schema`: the
    * resolved condition, or None when it does not resolve there. Its
    * columns carry the schema's spelling (a case-insensitive session
    * resolves `K` to column `k` but keeps the user's `K` on the
    * reference). The analysis runs on the driver and launches no job. */
  def resolveAgainst(spark: SparkSession, pred: Column, schema: StructType)
      : Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val session = spark.asInstanceOf[classic.SparkSession]
    val attrs = catalyst.types.DataTypeUtils.toAttributes(schema)
    val byId = attrs.map(a => a.exprId -> a).toMap
    scala.util.Try(session.sessionState.analyzer.executeAndCheck(
      Filter(session.expression(pred), LocalRelation(attrs)),
      new catalyst.QueryPlanningTracker)).toOption.collect {
      case Filter(cond, _) => cond.transform {
        case a: AttributeReference => byId.getOrElse(a.exprId, a)
      }
    }
  }
}
