package graft.sources

import org.apache.spark.sql.catalyst.expressions.{Expression, In, Literal}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Batch, Scan, Statistics, SupportsReportStatistics, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType

/** Delegating ScanBuilder that preserves every pushdown capability of
  * the native [[ParquetScanBuilder]] (Catalyst filter pushdown, column
  * pruning, aggregate pushdown, variant extraction) and wraps the built
  * scan with `wrap`: [[GraftDppScan]] by default, the ANALYZE-aware
  * [[GraftTableStats.scan]] for versioned tables. A plain subclass
  * can't do this: `ParquetScanBuilder.build()` covariantly returns
  * `ParquetScan`, so an override can't substitute the wrapper type. */
class GraftDppScanBuilder(
    delegate: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder,
    wrap: ParquetScan => Scan = new GraftDppScan(_))
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownVariantExtractions {

  override def pruneColumns(requiredSchema: StructType): Unit =
    delegate.pruneColumns(requiredSchema)
  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    delegate.pushFilters(filters)
  override def pushedFilters: Array[Predicate] = delegate.pushedFilters
  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    delegate.pushAggregation(agg)
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    delegate.supportCompletePushDown(agg)
  override def pushVariantExtractions(
      extractions: Array[org.apache.spark.sql.connector.read.VariantExtraction]): Array[Boolean] =
    delegate.pushVariantExtractions(extractions)
  override def build(): Scan = wrap(delegate.build())
}

/** Dynamic-partition-pruning adapter for DSv2 parquet scans.
  *
  * Spark's V1 file relations get DPP from the `PartitionPruning` rule,
  * but its own V2 [[ParquetScan]] implements no runtime-filtering
  * interface at all, so any fact served through a DSv2 catalog silently
  * loses partition pruning — at 100 TB that is the difference between
  * scanning one date partition and scanning the table. This wrapper
  * implements [[SupportsRuntimeV2Filtering]] over the native scan:
  * `filterAttributes` exposes the hive-layout partition columns (which
  * makes `PartitionPruning` inject the DPP subquery), and `filter`
  * folds the runtime `IN` predicate back into the scan's
  * `partitionFilters`, so the re-planned file listing skips pruned
  * partition directories entirely (`PartitioningAwareFileIndex` binds
  * partition predicates by column name).
  *
  * The reference relies on the same mechanism server-side — Trino's
  * dynamicFilterAssignments over the partitioned store
  * (reference: results/q003/workers-1/explain.txt:53-54). */
class GraftDppScan(protected var delegate: ParquetScan)
  extends Scan with Batch with SupportsRuntimeV2Filtering with SupportsReportStatistics {

  private def partitionSchema: StructType = delegate.fileIndex.partitionSchema

  override def readSchema(): StructType = delegate.readSchema()
  override def toBatch: Batch = this
  override def planInputPartitions(): Array[org.apache.spark.sql.connector.read.InputPartition] =
    delegate.toBatch.planInputPartitions()
  override def createReaderFactory(): org.apache.spark.sql.connector.read.PartitionReaderFactory =
    delegate.toBatch.createReaderFactory()
  override def estimateStatistics(): Statistics = delegate.estimateStatistics()
  override def description(): String = s"GraftDpp(${delegate.description()})"

  override def filterAttributes(): Array[NamedReference] =
    partitionSchema.fieldNames.map(
      org.apache.spark.sql.connector.expressions.Expressions.column)

  /** Runtime filters arrive as V2 `IN(col, v1..vn)` predicates (the
    * evaluated DPP subquery); fold each back into the delegate's
    * partitionFilters so the next planInputPartitions() lists only the
    * matching `col=value/` directories. Unknown predicate shapes are
    * ignored — runtime filtering is an optimization, never a
    * correctness gate. */
  override def filter(predicates: Array[Predicate]): Unit = {
    val partAttrs = DataTypeUtils.toAttributes(partitionSchema)
    val exprs: Seq[Expression] = predicates.toSeq.flatMap { p =>
      if (p.name() != "IN" || p.children().isEmpty) None
      else p.children().head match {
        case ref: NamedReference =>
          val colName = ref.fieldNames().mkString(".")
          partAttrs.find(_.name == colName).flatMap { attr =>
            val lits = p.children().tail.collect {
              case l: V2Literal[_] => Literal(l.value, l.dataType)
            }
            if (lits.length == p.children().length - 1) Some(In(attr, lits.toSeq))
            else None
          }
        case _ => None
      }
    }
    if (exprs.nonEmpty)
      delegate = delegate.copy(
        partitionFilters = delegate.partitionFilters ++ exprs)
  }
}
