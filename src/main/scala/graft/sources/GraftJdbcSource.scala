package graft.sources

import java.sql.{Connection, DriverManager, ResultSet, Types}
import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The relational federation role (the reference's PostgreSQL
  * connector) as a DSv2 catalog WITH the runtime dynamic-filter seam —
  * the one behavior Spark's stock `JDBCTableCatalog` cannot express.
  *
  * The reference applies dynamic filters INSIDE its psql scans:
  * `results/q005/workers-1/explain.txt:129` shows
  * `dynamicFilters = {ss_customer_sk = #df_2066}` attached to the
  * pushed `psql:Query[…]` scan, so the relational store itself prunes
  * the fact read to the build side's keys. Spark's JDBC catalog plans
  * a `V1Scan`, which the `SupportsRuntimeV2Filtering` machinery never
  * reaches (it only fires on `BatchScanExec`) — so this catalog speaks
  * JDBC through a native DSv2 scan instead:
  *
  *  - PUSHDOWN: compile-time conjuncts are rendered into the generated
  *    WHERE via the session dialect's own `compileExpression` (the
  *    same public translation `JDBCScanBuilder` uses — no hand-rolled
  *    SQL rendering); unsupported conjuncts stay Spark-side residuals.
  *  - RUNTIME: the evaluated build-side IN-set arrives through
  *    [[SupportsRuntimeV2Filtering]] and folds into the WHERE as an
  *    `IN (…)` — admitted by the same [[GraftWireConf.admitRuntimeFilters]]
  *    rule as the mongo `$in` / elastic `terms` seams (an unselective
  *    set is dropped, never shipped; the join stays correct Spark-side).
  *    At 100 TB this is the difference between reading the store's
  *    whole fact selection and probing its key index.
  *  - PARALLELISM: optional `partitionColumn`+`numPartitions` options
  *    split the read into disjoint `MOD(col, n) = i` slices — hash
  *    splits balance surrogate keys without a min/max pre-query.
  *
  * Catalog options (`spark.sql.catalog.<name>.*`): `url` (required),
  * `partitionColumn`, `numPartitions`. Read-only: the write paths of
  * the relational role stay on the stock JDBC catalog (l11 export). */
class GraftJdbcCatalog extends TableCatalog {
  private var catalogName: String = _
  private var url: String = _
  private var partitionColumn: Option[String] = None
  private var numPartitions = 1

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    url = options.get("url")
    require(url != null, s"catalog $name: option url is required")
    partitionColumn = Option(options.get("partitionColumn"))
    numPartitions = options.getInt("numPartitions", 1)
    require(numPartitions >= 1, s"catalog $name: numPartitions >= 1")
  }

  override def name(): String = catalogName

  override def listTables(ns: Array[String]): Array[Identifier] = {
    val conn = DriverManager.getConnection(url)
    try {
      val rs = conn.getMetaData.getTables(null,
        if (ns.isEmpty) null else ns.head, "%", Array("TABLE"))
      val out = ArrayBuffer.empty[Identifier]
      while (rs.next()) {
        out += Identifier.of(Array(rs.getString("TABLE_SCHEM")),
          rs.getString("TABLE_NAME"))
      }
      out.toArray
    } finally conn.close()
  }

  override def loadTable(ident: Identifier): Table = {
    require(ident.namespace().length == 1,
      s"$catalogName expects schema.table identifiers, got $ident")
    val dialect = JdbcDialects.get(url)
    val fqn = dialect.quoteIdentifier(ident.namespace().head) + "." +
      dialect.quoteIdentifier(ident.name())
    val conn = DriverManager.getConnection(url)
    val schema =
      try {
        val st = conn.createStatement()
        // a zero-row probe carries the full ResultSetMetaData
        val rs = st.executeQuery(s"SELECT * FROM $fqn WHERE 1=0")
        val md = rs.getMetaData
        StructType((1 to md.getColumnCount).map { i =>
          StructField(md.getColumnName(i),
            sparkType(md.getColumnType(i), md.getPrecision(i),
              md.getScale(i), ident, md.getColumnName(i)),
            md.isNullable(i) != java.sql.ResultSetMetaData.columnNoNulls)
        })
      } catch {
        case e: java.sql.SQLException =>
          conn.close()
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchTableException(
              catalogName +: ident.namespace().toSeq :+ ident.name())
      } finally if (!conn.isClosed) conn.close()
    new GraftJdbcTable(url, fqn, s"$catalogName.$ident", schema,
      partitionColumn, numPartitions)
  }

  private def sparkType(jdbcType: Int, precision: Int, scale: Int,
      ident: Identifier, col: String): DataType = jdbcType match {
    case Types.BIGINT => LongType
    case Types.INTEGER | Types.SMALLINT | Types.TINYINT => IntegerType
    case Types.DOUBLE | Types.FLOAT => DoubleType
    case Types.REAL => FloatType
    case Types.VARCHAR | Types.CHAR | Types.LONGVARCHAR | Types.CLOB =>
      StringType
    case Types.DECIMAL | Types.NUMERIC =>
      DecimalType(math.max(precision, 1), scale)
    case Types.BOOLEAN | Types.BIT => BooleanType
    case Types.DATE => DateType
    case Types.TIMESTAMP => TimestampType
    case other => throw new UnsupportedOperationException(
      s"$catalogName: unmapped JDBC type $other on $ident.$col")
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only relational connector")
  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only relational connector")
  override def dropTable(ident: Identifier): Boolean = false
  override def renameTable(old: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName is a read-only relational connector")
}

/** Driver/executor-shared observability for the JDBC seam (spec use,
  * same pattern as the wire servers' request logs): the SQL actually
  * executed per table, and rows fetched through the connection. */
private[graft] object GraftJdbcSource {
  private val QueryLogCap = 256
  private val queries = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.List[String]]()
  private val rowsFetched = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.atomic.AtomicLong]()

  private[graft] def logQuery(table: String, sql: String): Unit = {
    val l = queries.computeIfAbsent(table,
      _ => java.util.Collections.synchronizedList(
        new java.util.ArrayList[String]()))
    l.synchronized {
      l.add(sql)
      while (l.size > QueryLogCap) l.remove(0)
    }
  }
  private[graft] def addRows(table: String, n: Long): Unit = {
    rowsFetched.computeIfAbsent(table,
      _ => new java.util.concurrent.atomic.AtomicLong()).addAndGet(n)
    ()
  }
  def lastQuery(table: String): Option[String] = {
    val l = queries.get(table)
    if (l == null) None
    else l.synchronized {
      if (l.isEmpty) None else Some(l.get(l.size - 1))
    }
  }
  def rowCount(table: String): Long = {
    val c = rowsFetched.get(table); if (c == null) 0L else c.get
  }
}

private[graft] class GraftJdbcTable(url: String, fqn: String,
    logName: String, tschema: StructType, partitionColumn: Option[String],
    numPartitions: Int) extends Table with SupportsRead {
  override def name(): String = s"jdbc $fqn"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftJdbcScanBuilder(url, fqn, logName, tschema, partitionColumn,
      numPartitions)
}

/** Predicate → WHERE-fragment rendering rides the session dialect's
  * `compileExpression` (public `JdbcDialect` API, the same translator
  * the stock JDBC scan uses) — a conjunct it cannot compile stays a
  * Spark-side residual, so the split is sound by construction. */
private[graft] class GraftJdbcScanBuilder(url: String, fqn: String,
    logName: String, full: StructType, partitionColumn: Option[String],
    numPartitions: Int)
  extends ScanBuilder with SupportsPushDownV2Filters
    with SupportsPushDownRequiredColumns {

  private val dialect = JdbcDialects.get(url)
  private var required: StructType = full
  private var pushed: Array[Predicate] = Array.empty
  private var pushedSql: Seq[String] = Seq.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty prune (count(*)) keeps one narrow column — the row
    // layout must match what Spark expects back
    required =
      if (requiredSchema.isEmpty) StructType(full.fields.take(1))
      else requiredSchema

  override def pushPredicates(predicates: Array[Predicate]): Array[Predicate] = {
    val compiled = predicates.map(p => p -> dialect.compileExpression(p))
    pushed = compiled.collect { case (p, Some(_)) => p }
    pushedSql = compiled.collect { case (_, Some(s)) => s }.toSeq
    compiled.collect { case (p, None) => p }
  }

  override def pushedPredicates(): Array[Predicate] = pushed

  override def build(): Scan = new Scan with Batch
      with SupportsRuntimeV2Filtering {

    // WHERE fragments added at runtime (evaluated dynamic-filter
    // IN-sets); folded into the generated SQL before partitions plan
    @volatile private var runtimeSql: Seq[String] = Seq.empty

    // Scoped to the PRUNED read schema (PartitionPruning resolves
    // these against the scan output); any dialect-compilable column
    // type is eligible — the store applies its own SQL semantics.
    override def filterAttributes(): Array[NamedReference] =
      required.fields.map(f => Expressions.column(f.name))

    /** Runtime filters arrive as evaluated V2 `IN(col, …)` predicates;
      * [[GraftWireConf.admitRuntimeFilters]] (the rule the mongodb and
      * elastic scans share) admits the IN-sets within
      * [[GraftWireConf.runtimeFilterMaxKeys]] keys with the column in
      * the store's spelling, and each one the dialect compiles folds
      * into the WHERE. Unknown shapes are ignored: runtime filtering is
      * an optimization, never a correctness gate. */
    override def filter(predicates: Array[Predicate]): Unit = {
      val accepted = GraftWireConf.admitRuntimeFilters(predicates, full)
        .flatMap(dialect.compileExpression(_))
      if (accepted.nonEmpty) runtimeSql = runtimeSql ++ accepted
    }

    override def readSchema(): StructType = required
    override def description(): String =
      s"GraftJdbcScan $fqn PushedPredicates=[" +
        pushedSql.mkString(", ") + "]"
    override def toBatch: Batch = this

    private def whereClauses: Seq[String] = pushedSql ++ runtimeSql

    override def planInputPartitions(): Array[InputPartition] = {
      val cols = required.fieldNames.toSeq
      val base = whereClauses
      (0 until numPartitions).map { i =>
        val slice = partitionColumn.filter(_ => numPartitions > 1).map { c =>
          // double-MOD keeps the residue in [0, n): SQL MOD takes the
          // DIVIDEND's sign, so a bare `MOD(col, n) = i` would silently
          // drop every negative-key row from all slices
          val q = dialect.quoteIdentifier(c)
          s"MOD(MOD($q, $numPartitions) + $numPartitions, $numPartitions) = $i"
        }
        val where = base ++ slice.toSeq
        val sql = s"SELECT ${cols.map(dialect.quoteIdentifier).mkString(", ")} " +
          s"FROM $fqn" +
          (if (where.isEmpty) ""
           else where.mkString(" WHERE (", ") AND (", ")"))
        GraftJdbcPartition(url, logName, sql): InputPartition
      }.toArray
    }

    override def createReaderFactory(): PartitionReaderFactory =
      new GraftJdbcReaderFactory(required)
  }
}

private[graft] case class GraftJdbcPartition(url: String, logName: String,
    sql: String) extends InputPartition

/** Executor-side reader: one statement per partition, streamed through
  * the driver's default fetch size — memory is O(fetch batch), the
  * store does the filtering. */
private[graft] class GraftJdbcReaderFactory(schema: StructType)
  extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftJdbcPartition]
    GraftJdbcSource.logQuery(p.logName, p.sql)
    new PartitionReader[InternalRow] {
      private var conn: Connection = _
      private var rs: ResultSet = _

      override def next(): Boolean = {
        if (conn == null) {
          conn = DriverManager.getConnection(p.url)
          rs = conn.createStatement().executeQuery(p.sql)
        }
        val has = rs.next()
        if (has) GraftJdbcSource.addRows(p.logName, 1L)
        has
      }

      override def get(): InternalRow = {
        val values = new Array[Any](schema.length)
        var i = 0
        while (i < schema.length) {
          val f = schema.fields(i)
          val v: Any = f.dataType match {
            case LongType => rs.getLong(i + 1)
            case IntegerType => rs.getInt(i + 1)
            case DoubleType => rs.getDouble(i + 1)
            case FloatType => rs.getFloat(i + 1)
            case BooleanType => rs.getBoolean(i + 1)
            case StringType => UTF8String.fromString(rs.getString(i + 1))
            case d: DecimalType =>
              val bd = rs.getBigDecimal(i + 1)
              if (bd == null) null
              else org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale)
            case DateType =>
              val dt = rs.getDate(i + 1)
              if (dt == null) null
              else org.apache.spark.sql.catalyst.util.DateTimeUtils
                .fromJavaDate(dt)
            case TimestampType =>
              val ts = rs.getTimestamp(i + 1)
              if (ts == null) null
              else org.apache.spark.sql.catalyst.util.DateTimeUtils
                .fromJavaTimestamp(ts)
            case other => throw new UnsupportedOperationException(
              s"jdbc: unsupported read type $other")
          }
          values(i) = if (rs.wasNull()) null else v
          i += 1
        }
        new GenericInternalRow(values)
      }

      override def close(): Unit = if (conn != null) conn.close()
    }
  }
}
