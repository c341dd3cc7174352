package graft.sources

import java.io.{DataInputStream, DataOutputStream}
import java.net.Socket
import java.util
import java.util.OptionalLong
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** The `mongodb` federation catalog as a REAL wire connector: a DSv2
  * read-only catalog whose scans speak the MongoDB OP_MSG command
  * protocol against [[GraftMongoServer]] — the last federation role
  * that was a parquet rename, now a protocol peer like the Derby JDBC
  * (psql) and HTTP-scroll (elastic) roles.
  *
  * Contract, mirrored from Trino's mongodb connector against the
  * reference deployment (reference: ansible/roles/trino/templates/
  * values.yml.j2:59-62):
  *
  *  - SCHEMA from the `_schema` collection
  *    (`mongodb.schema-collection=_schema`, values.yml.j2:62): one
  *    `{table, fields: [{name, type, hidden}]}` document per table
  *    with Trino type names; hidden fields (`_id`) stay out of the
  *    relational schema but drive partition splits.
  *  - PARALLELISM = `_id`-range splits: the driver asks the store for
  *    min/max `_id` (one `find` each way, sorted, limit 1) and carves
  *    N disjoint ranges; each Spark partition's `find` conjoins its
  *    range with the pushed filter — at 100 TB parallelism follows
  *    chunk/shard boundaries the same way, never one giant cursor.
  *  - PUSHDOWN: supported catalyst filters render into the `find`
  *    filter document (implicit-$eq / `$in $gt $gte $lt $lte $ne`);
  *    unsupported or cross-typed conjuncts stay Spark-side residuals
  *    (sound split, never dropped). Column pruning rides the
  *    projection document; LIMIT pushes per-cursor (partial — Spark
  *    still applies the global limit).
  *  - PAGING: each partition reader holds ONE cursor batch
  *    (`batchSize` rows) in memory and follows `getMore` — bounded
  *    executor memory regardless of collection size; the cursor is
  *    killed on close.
  *  - STATS: scans report a filtered `count` + estimated byte size so
  *    the planner's join-distribution choice sees the store's
  *    cardinality (Trino's mongodb connector reports the same).
  *
  * Timestamp encodings (BSON datetimes are ms-precision):
  * `timestamp(3)` columns are BSON datetimes; `timestamp(6)` columns
  * are int64 epoch-micros, converted at the reader — both surface as
  * session-TZ TIMESTAMP, lossless either way. */
class GraftMongoCatalog extends TableCatalog {
  private var catalogName: String = _
  private var batchSize = 1000
  private var partitions = 4

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    batchSize = options.getInt("batchSize", 1000)
    partitions = options.getInt("partitions", 4)
  }

  override def name(): String = catalogName

  private val namespace = Array("tpcds")

  private def connect(): (String, Int, String) = {
    val spark = SparkSession.active
    val dir = spark.conf.get("spark.sql.graft.root")
    // seed-on-first-use fixture; in production the replica set is live
    val db = GraftMongoServer.database(spark, dir)
    val (host, port) = GraftMongoServer.address
    (host, port, db)
  }

  override def listTables(ns: Array[String]): Array[Identifier] =
    if (ns.sameElements(namespace)) {
      val (host, port, db) = connect()
      GraftMongoSchema.listTables(host, port, db)
        .map(Identifier.of(namespace, _)).toArray
    } else Array.empty

  override def loadTable(ident: Identifier): Table = {
    def missing = new org.apache.spark.sql.catalyst.analysis
      .NoSuchTableException(
        catalogName +: ident.namespace().toSeq :+ ident.name())
    if (!ident.namespace().sameElements(namespace)) throw missing
    val (host, port, db) = connect()
    val cols = GraftMongoSchema.fetch(host, port, db, ident.name())
      .getOrElse(throw missing)
    new GraftMongoTable(host, port, db, ident.name(), cols, batchSize,
      partitions)
  }

  /** CTAS target: register the `_schema` document and create the
    * collection over the wire — the reference loads the second store
    * exactly this way (loader.py:322 CTAS of the mongo facts; Trino's
    * connector maintains `_schema` on CREATE). Non-atomic like the
    * real store: on a failed write Spark drops the half-written
    * table (CreateTableAsSelectExec's error path). */
  override def createTable(ident: Identifier, schema: StructType,
      parts: Array[Transform],
      properties: util.Map[String, String]): Table = {
    if (!ident.namespace().sameElements(namespace))
      throw new UnsupportedOperationException(
        s"$catalogName serves only the ${namespace.mkString(".")} namespace")
    require(parts.isEmpty,
      s"$catalogName: partitioned collections are not supported")
    val (host, port, db) = connect()
    val cols = schema.fields.toSeq.map { f =>
      MongoCol(f.name, f.dataType, GraftMongoSchema.encOf(f.dataType))
    }
    val wire = new GraftMongoWire(host, port)
    try {
      try wire.command(db, BDoc("create" -> ident.name()))
      catch {
        case e: java.io.IOException if e.getMessage.contains("already exists") =>
          throw new org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException(
              catalogName +: ident.namespace().toSeq :+ ident.name())
      }
      wire.command(db, BDoc("insert" -> "_schema",
        "documents" -> (Seq(GraftMongoSchema.schemaDoc(ident.name(), cols))
          : Seq[Any])))
    } finally wire.close()
    new GraftMongoTable(host, port, db, ident.name(), cols, batchSize,
      partitions)
  }

  override def alterTable(ident: Identifier, changes: TableChange*): Table =
    throw new UnsupportedOperationException(
      s"$catalogName: ALTER is not supported over the wire")

  override def dropTable(ident: Identifier): Boolean = {
    if (!ident.namespace().sameElements(namespace)) return false
    val (host, port, db) = connect()
    val wire = new GraftMongoWire(host, port)
    try { wire.command(db, BDoc("drop" -> ident.name())); true }
    catch { case _: java.io.IOException => false }
    finally wire.close()
  }

  override def renameTable(old: Identifier, to: Identifier): Unit =
    throw new UnsupportedOperationException(
      s"$catalogName: RENAME is not supported over the wire")
}

/** One relational column of a mongo collection: its Spark type plus
  * the BSON storage encoding `_schema` declared for it. */
private[graft] case class MongoCol(name: String, sparkType: DataType,
    enc: String) // enc ∈ long,int,double,string,bool,date_ms,epoch_us,farr,darr

private[graft] object GraftMongoSchema {

  /** Trino type name (from `_schema`) → (spark type, storage enc). */
  def ofTrinoType(t: String): (DataType, String) = t match {
    case "bigint" => (LongType, "long")
    case "integer" => (IntegerType, "int")
    case "double" => (DoubleType, "double")
    case "varchar" => (StringType, "string")
    case "boolean" => (BooleanType, "bool")
    case "timestamp(3) with time zone" => (TimestampType, "date_ms")
    case "timestamp(6) with time zone" => (TimestampType, "epoch_us")
    case "timestamp(3)" => (TimestampNTZType, "date_ms")
    case "timestamp(6)" => (TimestampNTZType, "epoch_us")
    case "array(real)" => (ArrayType(FloatType), "farr")
    case "array(double)" => (ArrayType(DoubleType), "darr")
    case other => throw new UnsupportedOperationException(
      s"mongodb: unmapped _schema type $other")
  }

  /** Spark type → storage encoding for a CTAS-created collection.
    * Timestamps always store int64 epoch-micros (`timestamp(6)` /
    * `… with time zone`): lossless regardless of the data's precision
    * (BSON datetimes are ms-only). */
  def encOf(dt: DataType): String = dt match {
    case LongType => "long"
    case IntegerType => "int"
    case DoubleType => "double"
    case StringType => "string"
    case BooleanType => "bool"
    case TimestampType | TimestampNTZType => "epoch_us"
    case ArrayType(FloatType, _) => "farr"
    case ArrayType(DoubleType, _) => "darr"
    case other => throw new UnsupportedOperationException(
      s"mongodb: unwritable column type $other")
  }

  private def trinoTypeOf(c: MongoCol): String = (c.sparkType, c.enc) match {
    case (LongType, _) => "bigint"
    case (IntegerType, _) => "integer"
    case (DoubleType, _) => "double"
    case (StringType, _) => "varchar"
    case (BooleanType, _) => "boolean"
    case (TimestampType, _) => "timestamp(6) with time zone"
    case (TimestampNTZType, _) => "timestamp(6)"
    case (ArrayType(FloatType, _), _) => "array(real)"
    case (ArrayType(DoubleType, _), _) => "array(double)"
    case (other, _) => throw new UnsupportedOperationException(
      s"mongodb: unwritable column type $other")
  }

  /** The `_schema` document for a created table (Trino's layout,
    * `_id` hidden). */
  def schemaDoc(table: String, cols: Seq[MongoCol]): BDoc =
    BDoc("table" -> table,
      "fields" -> ((BDoc("name" -> "_id", "type" -> "bigint",
        "hidden" -> true): Any) +: cols.toVector.map { c =>
        BDoc("name" -> c.name, "type" -> trinoTypeOf(c),
          "hidden" -> false): Any
      }))

  def listTables(host: String, port: Int, db: String): Seq[String] = {
    val wire = new GraftMongoWire(host, port)
    try {
      val reply = wire.command(db, BDoc("find" -> "_schema",
        "projection" -> BDoc("table" -> 1, "_id" -> 0),
        "batchSize" -> 10000, "singleBatch" -> true))
      reply.getDoc("cursor").get.get("firstBatch").get
        .asInstanceOf[Seq[Any]]
        .map(_.asInstanceOf[BDoc].getString("table").get)
    } finally wire.close()
  }

  /** Read the table's `_schema` document over the wire; None = no
    * such table. */
  def fetch(host: String, port: Int, db: String,
      table: String): Option[Seq[MongoCol]] = {
    val wire = new GraftMongoWire(host, port)
    try {
      val reply = wire.command(db, BDoc("find" -> "_schema",
        "filter" -> BDoc("table" -> table),
        "batchSize" -> 2, "singleBatch" -> true))
      val batch = reply.getDoc("cursor").get.get("firstBatch").get
        .asInstanceOf[Seq[Any]]
      require(batch.size <= 1, s"_schema has ${batch.size} docs for $table")
      batch.headOption.map(_.asInstanceOf[BDoc].get("fields").get
        .asInstanceOf[Seq[Any]].map(_.asInstanceOf[BDoc])
        .filterNot(_.get("hidden").contains(true))
        .map { f =>
          val (dt, enc) = ofTrinoType(f.getString("type").get)
          MongoCol(f.getString("name").get, dt, enc)
        })
    } finally wire.close()
  }
}

/** Minimal OP_MSG client: one command request/reply per call over a
  * persistent socket (the same framing both the driver helpers and the
  * executor readers use). */
private[graft] class GraftMongoWire(host: String, port: Int) {
  private val socket = new Socket(host, port)
  socket.setTcpNoDelay(true)
  private val in = new DataInputStream(socket.getInputStream)
  private val out = new DataOutputStream(
    new java.io.BufferedOutputStream(socket.getOutputStream))
  private val ids = new AtomicInteger(1)

  def command(db: String, body: BDoc): BDoc = {
    val doc = GraftBson.encode(BDoc(body.fields :+ ("$db" -> (db: Any))))
    val len = 16 + 4 + 1 + doc.length
    def i32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    i32(len); i32(ids.incrementAndGet()); i32(0); i32(2013)
    i32(0); out.write(0); out.write(doc)
    out.flush()
    def r32(): Int = {
      val b = new Array[Byte](4)
      in.readFully(b)
      (b(0) & 0xFF) | ((b(1) & 0xFF) << 8) | ((b(2) & 0xFF) << 16) |
        ((b(3) & 0xFF) << 24)
    }
    val rlen = r32(); r32(); r32()
    val opCode = r32()
    require(opCode == 2013, s"mongodb: unexpected reply opcode $opCode")
    val rest = new Array[Byte](rlen - 16)
    in.readFully(rest)
    require((rest(4) & 0xFF) == 0, "mongodb: unexpected reply section")
    val reply = GraftBson.decode(rest, 5)
    if (!reply.get("ok").contains(1.0))
      throw new java.io.IOException("mongodb wire error: " +
        reply.getString("errmsg").getOrElse(reply.render))
    reply
  }

  def close(): Unit = socket.close()
}

private[graft] class GraftMongoTable(host: String, port: Int, db: String,
    coll: String, cols: Seq[MongoCol], batchSize: Int, partitions: Int)
  extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private val tschema =
    StructType(cols.map(c => StructField(c.name, c.sparkType)))
  override def name(): String = s"mongodb `$db`.`$coll`"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftMongoScanBuilder(host, port, db, coll, cols, batchSize,
      partitions)

  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new GraftMongoWrite(host, port, db, coll, cols, batchSize)
    }
}

/** Batched `insert` write (the CTAS data path): each task buffers
  * `batchSize` rows, ships them as one insert command, and flushes the
  * tail on commit — the loader's own batched bulk shape
  * (loader.py:306 `--batch-rows`).
  *
  * IDEMPOTENT under task retry: the job reserves a monotonic id block
  * once (driver-side, via the canonical `findAndModify` `$inc` counter
  * pattern on `_graft_counters`) and every row gets a deterministic
  * `_id = block<<40 | partition<<24 | rowIndex`. A retried or
  * speculative attempt re-produces the SAME ids; inserts go over the
  * wire `ordered:false`, so the store skips the already-present docs
  * with per-doc E11000 writeErrors instead of duplicating rows — the
  * standard at-least-once → effectively-once recipe on a store without
  * multi-document transactions.
  *
  * POSITION-stable under retry (r15 ADVICE): a positional `_id` is
  * only idempotent if row index i holds the SAME row on every attempt.
  * Spark guarantees each task re-reads the same partition MULTISET,
  * but not the same intra-partition ORDER when the upstream contains a
  * shuffle — so this write declares a required per-partition ordering
  * over ALL written columns ([[RequiresDistributionAndOrdering]];
  * Spark plans the local sort before the writer). Identical rows are
  * interchangeable, so the `_id → row content` mapping is then a pure
  * function of the partition multiset: a retry (or a concurrent
  * speculative attempt) re-produces byte-identical documents and the
  * E11000 skip can never trade one row's content for another's.
  * Job-level visibility is unchanged: CTAS drops the half-written
  * table on failure; a failed INSERT INTO leaves the rows its
  * committed tasks wrote, like the real store. */
private[graft] class GraftMongoWrite(host: String, port: Int, db: String,
    coll: String, cols: Seq[MongoCol], insertBatch: Int)
  extends org.apache.spark.sql.connector.write.Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.write._
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  // any distribution is fine — only the intra-partition order matters
  // for `_id` stability (see the class doc)
  override def requiredDistribution(): Distribution =
    Distributions.unspecified()
  override def requiredOrdering(): Array[SortOrder] =
    cols.map(c => Expressions.sort(
      Expressions.column(c.name), SortDirection.ASCENDING)).toArray

  override def toBatch: BatchWrite = new BatchWrite {
    private val idBlock: Long = {
      val wire = new GraftMongoWire(host, port)
      try {
        val reply = wire.command(db, BDoc(
          "findAndModify" -> "_graft_counters",
          "query" -> BDoc("_id" -> s"$db.$coll"),
          "update" -> BDoc("$inc" -> BDoc("seq" -> 1L)),
          "upsert" -> true, "new" -> true))
        val seq = reply.getDoc("value").get.getNum("seq").get
        require(seq < (1L << 22), s"id-block counter exhausted: $seq")
        seq
      } finally wire.close()
    }
    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      GraftMongoWriterFactory(host, port, db, coll, cols, insertBatch,
        idBlock)
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }
}

private[graft] case class GraftMongoWriterFactory(host: String, port: Int,
    db: String, coll: String, cols: Seq[MongoCol], insertBatch: Int,
    idBlock: Long)
  extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new GraftMongoDataWriter(host, port, db, coll, cols, insertBatch,
      idBlock, partitionId)
}

private[graft] class GraftMongoDataWriter(host: String, port: Int,
    db: String, coll: String, cols: Seq[MongoCol], insertBatch: Int,
    idBlock: Long, partitionId: Int)
  extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {
  import org.apache.spark.sql.connector.write.WriterCommitMessage

  private var wire: GraftMongoWire = _
  private val buffer = Vector.newBuilder[Any]
  private var buffered = 0
  private var rowIndex = 0L

  override def write(row: InternalRow): Unit = {
    require(rowIndex < (1L << 24),
      s"mongodb write: partition $partitionId exceeds 2^24 rows — " +
        "repartition the input")
    require(partitionId < (1 << 16),
      s"mongodb write: partition id $partitionId exceeds 2^16")
    val fields = Vector.newBuilder[(String, Any)]
    fields += "_id" ->
      ((idBlock << 40) | (partitionId.toLong << 24) | rowIndex)
    rowIndex += 1
    var i = 0
    while (i < cols.length) {
      val c = cols(i)
      val v: Any =
        if (row.isNullAt(i)) null
        else c.enc match {
          case "long" => row.getLong(i)
          case "int" => row.getInt(i)
          case "double" => row.getDouble(i)
          case "string" => row.getUTF8String(i).toString
          case "bool" => row.getBoolean(i)
          case "epoch_us" => row.getLong(i) // Catalyst micros, both TZ kinds
          case "farr" => row.getArray(i).toFloatArray()
            .map(_.toDouble).toSeq: Seq[Any]
          case "darr" => row.getArray(i).toDoubleArray().toSeq: Seq[Any]
          case other => throw new UnsupportedOperationException(
            s"mongodb: unwritable encoding $other")
        }
      fields += c.name -> v
      i += 1
    }
    buffer += BDoc(fields.result())
    buffered += 1
    if (buffered >= insertBatch) flush()
  }

  private def flush(): Unit = if (buffered > 0) {
    if (wire == null) wire = new GraftMongoWire(host, port)
    // unordered: a retried attempt's duplicate _ids come back as
    // per-doc E11000 writeErrors (ok:1) and are skipped by the store —
    // exactly the idempotent-retry contract; any NON-duplicate write
    // error still fails the task loudly
    val reply = wire.command(db, BDoc("insert" -> coll,
      "documents" -> (buffer.result(): Seq[Any]), "ordered" -> false))
    reply.get("writeErrors").foreach {
      case errs: Seq[_] => errs.foreach {
        case e: BDoc if e.getNum("code").contains(11000L) => ()
        case e => throw new java.io.IOException(
          s"mongodb insert failed: $e")
      }
      case other => throw new java.io.IOException(
        s"mongodb insert failed: $other")
    }
    buffer.clear()
    buffered = 0
  }

  override def commit(): WriterCommitMessage = {
    flush()
    new WriterCommitMessage {}
  }

  // a failed attempt's flushed batches stay, but the deterministic
  // _ids make the successful retry overwrite-free (duplicates are
  // skipped store-side); CTAS additionally drops the table on job abort
  override def abort(): Unit = ()
  override def close(): Unit = if (wire != null) wire.close()
}

/** Filter → find-filter-document rendering, split sound: accepted
  * conjuncts are EXACT under the server's type-bracketed evaluation
  * (same-typed literals over top-level columns), everything else stays
  * a Spark-side residual. */
private[graft] class GraftMongoScanBuilder(host: String, port: Int,
    db: String, coll: String, cols: Seq[MongoCol], batchSize: Int,
    partitions: Int)
  extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownLimit {

  private val byName = cols.map(c => c.name -> c).toMap
  private val full = StructType(cols.map(c => StructField(c.name, c.sparkType)))
  private var required: StructType = full
  private var pushed: Array[Filter] = Array.empty
  private var limit: Option[Int] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    // an empty prune (count(*)) keeps one narrow column
    required =
      if (requiredSchema.isEmpty) StructType(full.fields.take(1))
      else requiredSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(render(_).isDefined)
    pushed = ok
    rest
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pushLimit(n: Int): Boolean = { limit = Some(n); true }
  // partial: each partition's cursor is limited, Spark re-applies the
  // global limit (default isPartiallyPushed = true)

  /** Typed literal per the column's storage encoding; None keeps the
    * conjunct Spark-side (the wire has no cast semantics — a
    * cross-type literal must never probe the store). */
  private def lit(colName: String, v: Any): Option[Any] =
    byName.get(colName).flatMap { c =>
      (c.enc, v) match {
        case (_, null) => None // IsNull/IsNotNull handled separately
        case ("long", n: Long) => Some(n)
        case ("long", n: Int) => Some(n.toLong)
        case ("int", n: Int) => Some(n)
        case ("double", d: Double) => Some(d)
        case ("string", s: String) => Some(s)
        case ("bool", b: Boolean) => Some(b)
        case ("date_ms", t) => toMicros(t).filter(_ % 1000 == 0)
          .map(us => BsonDate(us / 1000))
        case ("epoch_us", t) => toMicros(t)
        case _ => None
      }
    }

  private def toMicros(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp =>
      val i = t.toInstant
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case i: java.time.Instant =>
      Some(i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime => // NTZ literal, micros-local
      Some(l.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
        l.getNano / 1000)
    case _ => None
  }

  private def op(colName: String, o: String, v: Any): BDoc =
    BDoc(colName -> BDoc(o -> v))

  private def render(f: Filter): Option[BDoc] = f match {
    case EqualTo(c, v) => lit(c, v).map(tv => BDoc(c -> tv))
    case In(c, vs) if vs.nonEmpty =>
      val typed = vs.toSeq.map(lit(c, _))
      if (typed.forall(_.isDefined))
        Some(op(c, "$in", typed.flatten: Seq[Any]))
      else None
    case GreaterThan(c, v) => lit(c, v).map(op(c, "$gt", _))
    case GreaterThanOrEqual(c, v) => lit(c, v).map(op(c, "$gte", _))
    case LessThan(c, v) => lit(c, v).map(op(c, "$lt", _))
    case LessThanOrEqual(c, v) => lit(c, v).map(op(c, "$lte", _))
    case IsNotNull(c) if byName.contains(c) => Some(op(c, "$ne", null))
    case IsNull(c) if byName.contains(c) => Some(op(c, "$eq", null))
    case And(l, r) =>
      for { ln <- render(l); rn <- render(r) }
        yield BDoc("$and" -> (Seq(ln, rn): Seq[Any]))
    case _ => None
  }

  /** The find command's filter document: accepted pushed conjuncts
    * plus any runtime (dynamic-filtering) conjuncts. */
  private def filterDoc(runtime: Seq[BDoc]): Option[BDoc] = {
    val rendered = pushed.flatMap(render).toSeq ++ runtime
    if (rendered.isEmpty) None
    else if (rendered.size == 1) Some(rendered.head)
    else Some(BDoc("$and" -> (rendered: Seq[Any])))
  }

  override def build(): Scan = new Scan with Batch
      with SupportsReportStatistics
      with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {
    private val requiredCols =
      required.fields.map(f => byName(f.name)).toSeq

    // Runtime dynamic-filtering conjuncts — the reference's q003
    // mongo scan carries exactly this shape (`ScanFilter[table =
    // mongodb:tpcds.catalog_sales constraint on [cs_sold_date_sk]]`,
    // Trino's dynamicFilterAssignments): the evaluated DPP subquery's
    // IN-set folds into the find document, so pruned rows never cross
    // the wire. Arrival invalidates the memoized partition plan.
    @volatile private var runtime: Seq[BDoc] = Seq.empty
    @volatile private var planned: Array[InputPartition] = _

    // Scoped to the PRUNED read schema, never the full table: Spark's
    // PartitionPruning resolves these refs against the scan's output
    // (V2ExpressionUtils.resolveRefs), so advertising a column the
    // projection dropped fails analysis. Mirrors GraftDppScan, which
    // scopes to the partition schema for the same reason.
    override def filterAttributes()
        : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
      requiredCols.filter(c => c.enc != "farr" && c.enc != "darr")
        .map(c => org.apache.spark.sql.connector.expressions
          .Expressions.column(c.name)).toArray

    /** Runtime filters arrive as V2 `IN(col, v1..vn)` predicates (the
      * evaluated DPP subquery). [[GraftWireConf.admitRuntimeFilters]]
      * — the rule the jdbc and elastic scans share — admits IN-sets
      * within [[GraftWireConf.runtimeFilterMaxKeys]] keys (past that
      * the IN-set stops being selective enough to pay its wire bytes
      * and the store's per-doc membership work; Trino sizes its
      * dynamic filters the same way). Each admitted predicate goes
      * through Spark's V2 → V1 translation into the compile-time
      * `render`, so only typed-exact IN-sets fold into the find
      * document. Unknown shapes are ignored — runtime filtering is an
      * optimization, never a correctness gate. */
    override def filter(predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
      val rendered = GraftWireConf.admitRuntimeFilters(predicates, full)
        .flatMap(org.apache.spark.sql.GraftBridge.toV1).flatMap(render)
      if (rendered.nonEmpty) {
        runtime = runtime ++ rendered
        planned = null // re-plan with the narrowed filter
      }
    }

    override def readSchema(): StructType = required
    override def description(): String =
      s"GraftMongoScan coll=$coll PushedFilters=[" +
        pushed.mkString(", ") + "] filter=" +
        filterDoc(Seq.empty).map(_.render).getOrElse("{}") +
        limit.map(n => s" limit=$n").getOrElse("")
    override def toBatch: Batch = this

    // memoized: Spark calls planInputPartitions more than once per
    // query (planning + execution) and the _id-edge probes must not
    // re-dial the store each time; a runtime filter resets the memo
    private def replan(): Array[InputPartition] = {
      // _id-range splits: min/max over the wire, N disjoint ranges
      val wire = new GraftMongoWire(host, port)
      val bounds =
        try {
          def edge(dir: Int): Option[Long] = {
            val reply = wire.command(db, BDoc("find" -> coll,
              "projection" -> BDoc("_id" -> 1),
              "sort" -> BDoc("_id" -> dir), "limit" -> 1,
              "batchSize" -> 1, "singleBatch" -> true))
            reply.getDoc("cursor").get.get("firstBatch").get
              .asInstanceOf[Seq[Any]].headOption
              .map(_.asInstanceOf[BDoc].getNum("_id").get)
          }
          for { lo <- edge(1); hi <- edge(-1) } yield (lo, hi)
        } finally wire.close()
      bounds match {
        case None => Array.empty
        case Some((lo, hi)) =>
          val n = math.min(partitions.toLong, hi - lo + 1).toInt
          val width = (hi - lo + 1 + n - 1) / n
          (0 until n).map { i =>
            GraftMongoPartition(host, port, db, coll,
              lo + i * width, math.min(lo + (i + 1) * width, hi + 1),
              filterDoc(runtime), requiredCols, batchSize, limit)
              : InputPartition
          }.toArray
      }
    }

    override def planInputPartitions(): Array[InputPartition] =
      synchronized {
        if (planned == null) planned = replan()
        planned
      }

    override def createReaderFactory(): PartitionReaderFactory =
      new GraftMongoReaderFactory()

    private lazy val stats: Statistics = {
      val wire = new GraftMongoWire(host, port)
      try {
        val cmd = BDoc(Vector[(String, Any)]("count" -> coll) ++
          filterDoc(runtime).map(fd => "query" -> (fd: Any)).toVector)
        val n = wire.command(db, cmd).getNum("n").get
        val rowBytes = requiredCols.map(c => c.sparkType.defaultSize + 8).sum
        new Statistics {
          override def sizeInBytes(): OptionalLong =
            OptionalLong.of(math.max(1L, n * rowBytes))
          override def numRows(): OptionalLong = OptionalLong.of(n)
        }
      } finally wire.close()
    }
    override def estimateStatistics(): Statistics = stats
  }
}

private[graft] case class GraftMongoPartition(host: String, port: Int,
    db: String, coll: String, idLo: Long, idHi: Long,
    filter: Option[BDoc], cols: Seq[MongoCol], batchSize: Int,
    limit: Option[Int]) extends InputPartition

/** Executor-side cursor reader: opens one `find` over its `_id` range,
  * holds ONE batch, follows `getMore` until cursor id 0, kills the
  * cursor on early close. Memory is O(batchSize). */
private[graft] class GraftMongoReaderFactory extends PartitionReaderFactory {

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftMongoPartition]
    new PartitionReader[InternalRow] {
      private var wire: GraftMongoWire = _
      private var cursorId = 0L
      private var batch: Iterator[BDoc] = Iterator.empty
      private var started = false

      private def takeCursor(reply: BDoc, key: String): Unit = {
        val cursor = reply.getDoc("cursor").get
        cursorId = cursor.getNum("id").get
        batch = cursor.get(key).get.asInstanceOf[Seq[Any]]
          .iterator.map(_.asInstanceOf[BDoc])
      }

      override def next(): Boolean = {
        while (!batch.hasNext && (!started || cursorId != 0L)) {
          if (!started) {
            wire = new GraftMongoWire(p.host, p.port)
            val range = BDoc("_id" ->
              BDoc("$gte" -> p.idLo, "$lt" -> p.idHi))
            val filter = p.filter match {
              case Some(fd) => BDoc("$and" -> (Seq(fd, range): Seq[Any]))
              case None => range
            }
            val projection = BDoc(("_id" -> (0: Any)) +:
              p.cols.toVector.map(c => c.name -> (1: Any)))
            val find = BDoc(Vector[(String, Any)](
              "find" -> p.coll, "filter" -> filter,
              "projection" -> projection, "batchSize" -> p.batchSize) ++
              p.limit.map(n => "limit" -> (n: Any)).toVector)
            takeCursor(wire.command(p.db, find), "firstBatch")
            started = true
          } else {
            takeCursor(wire.command(p.db, BDoc("getMore" -> cursorId,
              "collection" -> p.coll, "batchSize" -> p.batchSize)),
              "nextBatch")
          }
        }
        batch.hasNext
      }

      // column name → output slot (the projection returns exactly the
      // requested fields, usually in order — one pass per doc instead
      // of a per-column linear scan)
      private val slotOf: Map[String, Int] =
        p.cols.zipWithIndex.map { case (c, i) => c.name -> i }.toMap

      override def get(): InternalRow = {
        val doc = batch.next()
        val raw = new Array[Any](p.cols.length)
        doc.fields.foreach { case (name, v) =>
          slotOf.get(name).foreach(i => raw(i) = v)
        }
        val values = new Array[Any](p.cols.length)
        var i = 0
        while (i < p.cols.length) {
          val c = p.cols(i)
          val v = raw(i)
          values(i) =
            if (v == null) null
            else c.enc match {
              case "long" => v.asInstanceOf[Long]
              case "int" => v.asInstanceOf[Int]
              case "double" => v.asInstanceOf[Double]
              case "string" => UTF8String.fromString(v.asInstanceOf[String])
              case "bool" => v.asInstanceOf[Boolean]
              case "date_ms" => v.asInstanceOf[BsonDate].millis * 1000L
              case "epoch_us" => v.asInstanceOf[Long]
              case "farr" => new GenericArrayData(
                v.asInstanceOf[Seq[Any]]
                  .map(x => x.asInstanceOf[Double].toFloat).toArray)
              case "darr" => new GenericArrayData(
                v.asInstanceOf[Seq[Any]]
                  .map(_.asInstanceOf[Double]).toArray)
              case other => throw new UnsupportedOperationException(
                s"mongodb: unsupported read encoding $other")
            }
          i += 1
        }
        new GenericInternalRow(values)
      }

      override def close(): Unit = if (wire != null) {
        try {
          if (cursorId != 0L)
            wire.command(p.db, BDoc("killCursors" -> p.coll,
              "cursors" -> (Seq(cursorId): Seq[Any])))
        } catch { case scala.util.control.NonFatal(_) => () }
        finally wire.close()
      }
    }
  }
}
