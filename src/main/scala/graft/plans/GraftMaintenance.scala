package graft.plans

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.sources.{GraftMerge, GraftVersions}

/** Native SQL maintenance statements for graft versioned tables:
  *
  *   - `OPTIMIZE <table>` — small-file compaction
  *   - `OPTIMIZE <table> ZORDER BY (c1, c2, …)` — re-cluster the
  *     layout so manifest stats become selective on those columns
  *   - `VACUUM <table> [RETAIN <n> VERSIONS]` — expire old snapshots
  *     and reclaim their exclusive files
  *
  * The reference's only interface is SQL text over a wire protocol
  * (reference: data-loader/loader.py:25-39), and DML already routes as
  * statements — but an operator who can MERGE and DELETE over the wire
  * could not compact or expire without a Scala API. These verbs follow
  * the Delta Lake statement surface (the de-facto lakehouse idiom) via
  * an injected DELEGATING parser: the two keywords are not valid Spark
  * SQL, so anything that doesn't match the exact statement shapes
  * falls through to the stock parser untouched.
  *
  * The parser emits an UNRESOLVED statement node around the table
  * relation; the normal analyzer resolves the relation, and the same
  * post-hoc rule that routes DML ([[GraftDmlStatements]]) swaps the
  * statement for a runnable command bound to the table's directory —
  * resolution, catalog lookup, and temp-view/alias handling all come
  * from Spark, not from string parsing. Non-graft targets are rejected
  * loudly at analysis. */
case class GraftOptimizeStatement(child: LogicalPlan, zorder: Seq[String])
    extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftOptimizeStatement = copy(child = newChild)
}

case class GraftVacuumStatement(child: LogicalPlan, retain: Option[Int])
    extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftVacuumStatement = copy(child = newChild)
}

case class GraftDescribeHistoryStatement(child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftDescribeHistoryStatement =
    copy(child = newChild)
}

case class GraftDescribeDetailStatement(child: LogicalPlan)
    extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftDescribeDetailStatement =
    copy(child = newChild)
}

case class GraftAnalyzeStatement(child: LogicalPlan, forColumns: Boolean)
    extends UnaryNode {
  override def output: Seq[Attribute] = Nil
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftAnalyzeStatement = copy(child = newChild)
}

/** `ANALYZE TABLE t COMPUTE STATISTICS [FOR ALL COLUMNS]` execution:
  * ONE aggregate pass over the current snapshot collects row count
  * (+ per-column approx NDV, null count, numeric min/max with FOR ALL
  * COLUMNS); bytes come from the manifest's file lengths (driver
  * metadata). The record persists as `_stats.json` in the table dir —
  * a durable table property, like Trino's ANALYZE into the metastore —
  * and every subsequent scan reports selectivity-scaled statistics
  * from it (GraftStatsScan), which is what lets the planner pick
  * broadcast vs shuffle with no hint (VERDICT r13 #3). Versioned
  * graft tables only: source-root tables are read-only by contract. */
case class GraftAnalyzeCommand(path: String, forColumns: Boolean)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("value", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.functions._
    import graft.sources.GraftTableStats
    val snap = GraftVersions.Snapshot.current(path)
    require(snap.version >= 1, s"$path: ANALYZE needs at least one committed snapshot")
    val bytes = snap.files.map(f => new java.io.File(f).length()).sum
    val df = snap.read(spark)
    val fields = if (forColumns) df.schema.fields.toSeq else Seq.empty
    val isNum: org.apache.spark.sql.types.DataType => Boolean = {
      case _: org.apache.spark.sql.types.NumericType => true
      case _ => false
    }
    val aggs = Seq(count(lit(1)).as("__rows")) ++ fields.flatMap { f =>
      Seq(approx_count_distinct(col(f.name)).as(s"__ndv_${f.name}"),
        count(col(f.name)).as(s"__nn_${f.name}")) ++
        (if (isNum(f.dataType))
          Seq(min(col(f.name)).cast("double").as(s"__min_${f.name}"),
            max(col(f.name)).cast("double").as(s"__max_${f.name}"))
        else Seq.empty)
    }
    val r = df.agg(aggs.head, aggs.tail: _*).head()
    val rows = r.getAs[Long]("__rows")
    val cols = fields.map { f =>
      val numeric = isNum(f.dataType)
      f.name -> GraftTableStats.ColStat(
        ndv = r.getAs[Long](s"__ndv_${f.name}"),
        nulls = rows - r.getAs[Long](s"__nn_${f.name}"),
        min = if (numeric && !r.isNullAt(r.fieldIndex(s"__min_${f.name}")))
          Some(r.getAs[Double](s"__min_${f.name}")) else None,
        max = if (numeric && !r.isNullAt(r.fieldIndex(s"__max_${f.name}")))
          Some(r.getAs[Double](s"__max_${f.name}")) else None)
    }.toMap
    GraftTableStats.write(path,
      GraftTableStats.TableStats(rows, bytes, cols, version = snap.version))
    Seq(Row("rows", rows), Row("bytes", bytes),
      Row("columns_analyzed", cols.size.toLong))
  }
}

/** `DESCRIBE DETAIL` execution: one row summarizing the table's
  * CURRENT snapshot — location, version, live-version count, file
  * count and bytes, the bloom-indexed column list (from the persisted
  * `_blooms/_config` record), and the schema width. Driver-side
  * metadata reads only (manifest lines + file lengths). */
case class GraftDescribeDetailCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("location", StringType, nullable = false)(),
    AttributeReference("version", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("live_versions", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("n_files", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("size_bytes", LongType, nullable = false)(),
    AttributeReference("bloom_columns", StringType, nullable = false)(),
    AttributeReference("n_columns", org.apache.spark.sql.types.IntegerType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val snap = GraftVersions.Snapshot.current(path)
    val live = (1 to snap.version).count(GraftVersions.isLive(path, _))
    val bytes = snap.files.map(f => new java.io.File(f).length()).sum
    val cfg = new java.io.File(new java.io.File(path, "_blooms"), "_config")
    val blooms =
      if (cfg.isFile)
        new String(java.nio.file.Files.readAllBytes(cfg.toPath), "UTF-8")
      else ""
    val nCols = snap.schema.map(_.size).getOrElse(0)
    Seq(Row(path, snap.version, live, snap.files.size, bytes, blooms, nCols))
  }
}

/** `OPTIMIZE` execution: compaction (no ZORDER) or re-cluster. Sizing
  * comes from `spark.sql.graft.optimize.smallFileBytes` (default 128
  * MiB): compaction rewrites sub-threshold files into ceil(smallBytes
  * sum / threshold) bin-packed replacements, re-cluster targets
  * ceil(table bytes / threshold) range-partitioned files. Both commit
  * layout-only (`dataChange=false`) and rebase-retry on conflicts. */
case class GraftOptimizeCommand(path: String, zorder: Seq[String])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("value", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val smallBytes = spark.conf
      .get("spark.sql.graft.optimize.smallFileBytes", (128L << 20).toString)
      .toLong
    val files = GraftVersions.Snapshot.current(path).files
    def target(bytes: Long) =
      math.max(1L, (bytes + smallBytes - 1) / smallBytes).toInt
    if (zorder.isEmpty) {
      val smallSum = files.map(f => new java.io.File(f).length())
        .filter(_ < smallBytes).sum
      val (base, kept, compacted) =
        GraftMerge.compact(spark, path, smallBytes, target(smallSum),
          maxRetries = 3)
      Seq(Row("base_version", base.toLong), Row("files_kept", kept.toLong),
        Row("files_compacted", compacted.toLong))
    } else {
      val total = files.map(f => new java.io.File(f).length()).sum
      val (base, replaced) =
        GraftMerge.cluster(spark, path, zorder, target(total), maxRetries = 3)
      Seq(Row("base_version", base.toLong),
        Row("files_replaced", replaced.toLong))
    }
  }
}

/** `VACUUM` execution: snapshot retention. `RETAIN n VERSIONS` keeps
  * the newest n snapshots (default
  * `spark.sql.graft.vacuum.keepLast` = 2); expired snapshots tombstone
  * and their exclusively-owned files delete past the orphan grace
  * window — the two-phase protocol [[GraftVersions.expire]] proves. */
case class GraftVacuumCommand(path: String, retain: Option[Int])
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("metric", StringType, nullable = false)(),
    AttributeReference("value", LongType, nullable = false)())

  override def run(spark: SparkSession): Seq[Row] = {
    val keep = retain.getOrElse(
      spark.conf.get("spark.sql.graft.vacuum.keepLast", "2").toInt)
    val (expired, deleted) = GraftVersions.expire(path, keep)
    Seq(Row("versions_expired", expired.size.toLong),
      Row("files_deleted", deleted.size.toLong))
  }
}

/** `DESCRIBE HISTORY` execution: the table's commit log — one row per
  * version with its commit instant (µs; −1 if the instant ledger
  * predates the version), liveness, the layout-only flag, and the
  * manifest's file count. Driver-side metadata reads only. */
case class GraftDescribeHistoryCommand(path: String)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("version", org.apache.spark.sql.types.IntegerType,
      nullable = false)(),
    AttributeReference("committed_micros", LongType, nullable = false)(),
    AttributeReference("live", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("layout_only", org.apache.spark.sql.types.BooleanType,
      nullable = false)(),
    AttributeReference("n_files", org.apache.spark.sql.types.IntegerType,
      nullable = false)())

  override def run(spark: SparkSession): Seq[Row] =
    GraftVersions.history(path).map { case (v, t, live, layout, n) =>
      Row(v, t, live, layout, n)
    }
}

/** Delegating parser: intercepts exactly the two maintenance keywords
  * (not valid Spark SQL, so nothing legal can shadow them) and hands
  * every other string — and every non-plan parse — to the stock
  * parser. Identifiers inside the statements are parsed by the
  * DELEGATE's multipart-identifier grammar, so quoting/case semantics
  * match the rest of the dialect. */
class GraftSqlParser(delegate: ParserInterface) extends ParserInterface {

  private val optimizeRe =
    """(?is)^\s*OPTIMIZE\s+(.+?)(?:\s+ZORDER\s+BY\s*\(([^)]+)\))?\s*;?\s*$""".r
  private val vacuumRe =
    """(?is)^\s*VACUUM\s+(.+?)(?:\s+RETAIN\s+(\d+)\s+VERSIONS)?\s*;?\s*$""".r
  private val historyRe =
    """(?is)^\s*DESC(?:RIBE)?\s+HISTORY\s+(.+?)\s*;?\s*$""".r
  private val detailRe =
    """(?is)^\s*DESC(?:RIBE)?\s+DETAIL\s+(.+?)\s*;?\s*$""".r
  // ANALYZE TABLE is valid Spark SQL, but stock Spark rejects it for
  // every v2 table ("not supported for v2 tables") — intercepting it
  // costs nothing that worked before, and routes graft tables into the
  // stats command; non-graft targets are rejected loudly at analysis.
  private val analyzeRe =
    """(?is)^\s*ANALYZE\s+TABLE\s+(.+?)\s+COMPUTE\s+STATISTICS(\s+FOR\s+ALL\s+COLUMNS)?\s*;?\s*$""".r

  override def parsePlan(sqlText: String): LogicalPlan = sqlText match {
    case historyRe(ident) =>
      GraftDescribeHistoryStatement(
        UnresolvedRelation(delegate.parseMultipartIdentifier(ident.trim)))
    case detailRe(ident) =>
      GraftDescribeDetailStatement(
        UnresolvedRelation(delegate.parseMultipartIdentifier(ident.trim)))
    case optimizeRe(ident, zorder) =>
      val rel = UnresolvedRelation(delegate.parseMultipartIdentifier(ident.trim))
      val cols = Option(zorder).toSeq
        .flatMap(_.split(',').toSeq).map(_.trim).filter(_.nonEmpty)
        .map { c =>
          delegate.parseMultipartIdentifier(c) match {
            case Seq(one) => one
            case parts => throw new IllegalArgumentException(
              s"ZORDER BY supports top-level columns only, got: " +
                parts.mkString("."))
          }
        }
      GraftOptimizeStatement(rel, cols)
    case vacuumRe(ident, retain) =>
      GraftVacuumStatement(
        UnresolvedRelation(delegate.parseMultipartIdentifier(ident.trim)),
        Option(retain).map(_.toInt))
    case analyzeRe(ident, forCols) =>
      GraftAnalyzeStatement(
        UnresolvedRelation(delegate.parseMultipartIdentifier(ident.trim)),
        forCols != null)
    case _ => delegate.parsePlan(sqlText)
  }

  override def parseExpression(sqlText: String): Expression =
    delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan =
    delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
  override def parseDataType(sqlText: String): org.apache.spark.sql.types.DataType =
    delegate.parseDataType(sqlText)
  override def parseTableSchema(sqlText: String): StructType =
    delegate.parseTableSchema(sqlText)
}
