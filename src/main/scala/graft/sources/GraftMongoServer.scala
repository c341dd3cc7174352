package graft.sources

import java.io.{DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** In-process MongoDB-wire stand-in: a real TCP server speaking the
  * OP_MSG command protocol, so the `mongodb` federation role is
  * exercised over an actual wire — BSON framing, command dispatch,
  * cursor batching — instead of a renamed parquet read (the last
  * federation role that was a rename; psql and elastic already speak
  * real protocols). The reference deploys the real store behind
  * Trino's mongodb connector with `mongodb.schema-collection=_schema`
  * (reference: ansible/roles/trino/templates/values.yml.j2:59-62) and
  * bulk-loads it via CTAS (reference: data-loader/loader.py:322 — the
  * second store holds fact tables); [[GraftMongoSource]] dials THIS
  * server with the same contract.
  *
  * Served command surface (the subset a read-only connector drives):
  *
  *  - `hello` / `isMaster` / `ping` / `buildInfo` — handshake
  *  - `listCollections` — names only (schemas live in `_schema`)
  *  - `find` — `filter` / `projection` / `sort` / `limit` /
  *    `batchSize` / `singleBatch`; filter operators honored:
  *    implicit-$eq, `$eq $ne $gt $gte $lt $lte $in $exists $and`.
  *    Anything else fails LOUDLY — a fixture that silently match-alls
  *    would hide a broken pushdown as a correct result.
  *  - `getMore` / `killCursors` — cursor paging, `batchSize` rows per
  *    reply, cursor id 0 on the final batch
  *  - `count` — filtered row count (the connector's stats probe)
  *
  * Schema contract: each database carries a `_schema` collection with
  * one document per table — `{table, fields: [{name, type, hidden}]}`,
  * Trino type names — exactly the mongodb connector's
  * `schema-collection` layout, including `_id` marked `hidden: true`.
  * BSON datetimes are millisecond-precision, so the loader stores the
  * microsecond `events.ts` as int64 epoch-micros declared
  * `timestamp(6)`; `orders.o_orderdate` (midnight dates) is a real
  * BSON datetime declared `timestamp(3)`.
  *
  * Corpus: one database per (sf dir), collections seeded from the
  * parquet tables on first use — a driver-side seed of the FIXTURE,
  * not a data path (at 100 TB the store is a live replica set fed by
  * its own ingest; the Spark-side contract — pushdown, _id-range
  * partition splits, bounded cursor batches — is what carries). */
private[graft] object GraftMongoServer {

  /** One collection. `rows` is copy-on-write (reads snapshot the
    * reference; inserts swap it under the lock) so long-lived cursors
    * never see a torn batch. */
  private final class MCollection(val name: String,
      @volatile var rows: IndexedSeq[BDoc]) {
    val nextId = new AtomicLong(rows.size.toLong)
    /** `_id` uniqueness index — O(1) duplicate-key detection, the
      * property idempotent client retries (unordered insert + E11000
      * skip) rely on. */
    val ids: java.util.Set[Any] =
      java.util.concurrent.ConcurrentHashMap.newKeySet[Any]()
    rows.foreach(d => d.get("_id").foreach(ids.add))
  }

  private final class MCursor(val ns: String, val coll: String,
      val rows: Iterator[BDoc], val batchSize: Int, val cols: Option[Seq[String]])

  private val dbs =
    new ConcurrentHashMap[String, ConcurrentHashMap[String, MCollection]]()
  /** Open `getMore` cursors; ids count up from 1001. */
  private val cursors = new CursorTable[Long, MCursor](firstId = 1001)

  /** Per-collection requests and counters (spec observability). */
  private val ledger = new RequestLedger
  def lastFind(coll: String): Option[String] = ledger.lastRequest(coll)
  def findCount(coll: String): Int = ledger.count("finds", coll)
  def batchCount(coll: String): Int = ledger.count("batches", coll)
  /** Documents that actually crossed the wire for `coll` — the number
    * the runtime-filter specs watch shrink. */
  def docCount(coll: String): Int = ledger.count("docs", coll)
  def insertCount(coll: String): Int = ledger.count("inserts", coll)

  @volatile private var server: ServerSocket = _

  /** Host:port, starting the accept loop on first use (ephemeral
    * port; all threads daemon so the JVM exits after main returns). */
  def address: (String, Int) = {
    if (server == null) synchronized {
      if (server == null) {
        val s = new ServerSocket(0, 64, InetAddress.getLoopbackAddress)
        val acceptor = new Thread(() => acceptLoop(s), "graft-mongo-accept")
        acceptor.setDaemon(true)
        acceptor.start()
        server = s
      }
    }
    ("127.0.0.1", server.getLocalPort)
  }

  /** The per-dir database name, seeding its collections on first use
    * (orders / events / embeddings — the loader placement that puts
    * the second store's facts in mongo, loader.py:313-322). */
  def database(spark: SparkSession, dir: String): String = {
    val db = "tpcds_" + dir.replaceAll("[^a-zA-Z0-9]", "_").toLowerCase
    if (!dbs.containsKey(db)) synchronized {
      if (!dbs.containsKey(db)) dbs.put(db, seed(spark, dir))
    }
    address // make sure the wire is up before anyone dials the db
    db
  }

  // ---------------------------------------------------------------- //
  //  fixture seed                                                     //
  // ---------------------------------------------------------------- //

  /** Trino type names per table column — the `_schema` contract. */
  private def trinoType(dt: org.apache.spark.sql.types.DataType,
      micros: Boolean): String = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => "bigint"
      case IntegerType => "integer"
      case DoubleType => "double"
      case StringType => "varchar"
      case BooleanType => "boolean"
      // Trino's `timestamp(p)` is timezone-less; the instant type is
      // `timestamp(p) with time zone` — keep the distinction so the
      // relational surface matches the parquet-side type exactly
      case TimestampType =>
        if (micros) "timestamp(6) with time zone"
        else "timestamp(3) with time zone"
      case TimestampNTZType => if (micros) "timestamp(6)" else "timestamp(3)"
      case ArrayType(FloatType, _) => "array(real)"
      case ArrayType(DoubleType, _) => "array(double)"
      case other => throw new IllegalArgumentException(
        s"mongo seed: unmapped type $other")
    }
  }

  private def seed(spark: SparkSession,
      dir: String): ConcurrentHashMap[String, MCollection] = {
    import org.apache.spark.sql.types._

    def load(name: String,
        df: org.apache.spark.sql.DataFrame): (MCollection, BDoc) = {
      val schema = df.schema
      // micros-long storage for any timestamp column with sub-ms
      // components in this dir (BSON datetimes are ms-precision)
      val tsCols = schema.fields.zipWithIndex.collect {
        case (f, i) if f.dataType == TimestampType ||
          f.dataType == TimestampNTZType => i
      }
      val collected = df.collect()
      def microsOf(r: org.apache.spark.sql.Row, i: Int): Long =
        r.get(i) match {
          case t: java.sql.Timestamp =>
            val inst = t.toInstant
            inst.getEpochSecond * 1000000L + inst.getNano / 1000
          case ldt: java.time.LocalDateTime =>
            ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L +
              ldt.getNano / 1000
          case other => throw new IllegalArgumentException(
            s"mongo seed: unexpected timestamp value $other")
        }
      val microsCols: Set[Int] = tsCols.filter { i =>
        collected.exists(r => !r.isNullAt(i) && microsOf(r, i) % 1000 != 0)
      }.toSet
      val rows: IndexedSeq[BDoc] = collected.toIndexedSeq.zipWithIndex
        .map { case (r, rid) =>
          val fields = Vector.newBuilder[(String, Any)]
          fields += "_id" -> rid.toLong
          schema.fields.zipWithIndex.foreach { case (f, i) =>
            val v: Any =
              if (r.isNullAt(i)) null
              else f.dataType match {
                case LongType => r.getLong(i)
                case IntegerType => r.getInt(i)
                case DoubleType => r.getDouble(i)
                case StringType => r.getString(i)
                case BooleanType => r.getBoolean(i)
                case TimestampType | TimestampNTZType =>
                  val us = microsOf(r, i)
                  if (microsCols(i)) us
                  else BsonDate(Math.floorDiv(us, 1000L))
                case ArrayType(FloatType, _) =>
                  r.getSeq[Float](i).map(_.toDouble): Seq[Any]
                case ArrayType(DoubleType, _) =>
                  r.getSeq[Double](i): Seq[Any]
                case other => throw new IllegalArgumentException(
                  s"mongo seed: unstorable type $other at ${f.name}")
              }
            fields += f.name -> v
          }
          BDoc(fields.result())
        }
      val schemaDoc = BDoc(
        "table" -> name,
        "fields" -> (BDoc("name" -> "_id", "type" -> "bigint",
          "hidden" -> true) +: schema.fields.toVector.zipWithIndex.map {
          case (f, i) => BDoc("name" -> f.name,
            "type" -> trinoType(f.dataType, microsCols(i)),
            "hidden" -> false): Any
        }))
      (new MCollection(name, rows), schemaDoc)
    }

    // the store holds what the loader loaded: a root without a
    // table's parquet simply has no such collection (CatalogSpec
    // probes tableExists against roots holding other tables — that
    // must answer "no", not fail the seed)
    def has(t: String) = new java.io.File(dir, s"$t.parquet").exists()
    val seeded = Seq(
      "orders" -> (() => graft.Tables.orders(spark, dir)),
      "events" -> (() => graft.Tables.events(spark, dir)),
      "embeddings" -> (() => graft.Tables.embeddings(spark, dir)))
      .collect { case (n, df) if has(n) => load(n, df()) }
    val schemaColl =
      new MCollection("_schema", seeded.map(_._2).toIndexedSeq)
    val m = new ConcurrentHashMap[String, MCollection]()
    seeded.foreach { case (c, _) => m.put(c.name, c) }
    m.put("_schema", schemaColl)
    m
  }

  // ---------------------------------------------------------------- //
  //  wire loop                                                        //
  // ---------------------------------------------------------------- //

  private def acceptLoop(s: ServerSocket): Unit =
    while (!s.isClosed) {
      val sock = try s.accept() catch { case _: Exception => return }
      val t = new Thread(() => serve(sock), "graft-mongo-conn")
      t.setDaemon(true)
      t.start()
    }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(
      new java.io.BufferedOutputStream(sock.getOutputStream))
    try {
      while (true) {
        val msg = readMessage(in)
        val (requestId, body) = msg
        val reply =
          try dispatch(body)
          catch {
            case e: IllegalArgumentException =>
              BDoc("ok" -> 0.0, "errmsg" -> e.getMessage, "code" -> 2)
            case scala.util.control.NonFatal(e) =>
              BDoc("ok" -> 0.0, "errmsg" -> e.toString, "code" -> 8)
          }
        writeMessage(out, requestId, reply)
      }
    } catch {
      case _: EOFException => ()
      case _: java.net.SocketException => ()
    } finally sock.close()
  }

  /** Read one OP_MSG; returns (requestID, body section). */
  private def readMessage(in: DataInputStream): (Int, BDoc) = {
    def i32(): Int = {
      val b = new Array[Byte](4)
      in.readFully(b)
      (b(0) & 0xFF) | ((b(1) & 0xFF) << 8) | ((b(2) & 0xFF) << 16) |
        ((b(3) & 0xFF) << 24)
    }
    val len = i32()
    val requestId = i32()
    i32() // responseTo
    val opCode = i32()
    val rest = new Array[Byte](len - 16)
    in.readFully(rest)
    require(opCode == 2013, s"mongo wire: unsupported opcode $opCode")
    val flags = (rest(0) & 0xFF) | ((rest(1) & 0xFF) << 8) |
      ((rest(2) & 0xFF) << 16) | ((rest(3) & 0xFF) << 24)
    require((flags & ~0x2) == 0, s"mongo wire: unsupported flags $flags")
    val kind = rest(4) & 0xFF
    require(kind == 0, s"mongo wire: unsupported section kind $kind")
    (requestId, GraftBson.decode(rest, 5))
  }

  private val replyIds = new AtomicInteger(1)

  private def writeMessage(out: DataOutputStream, responseTo: Int,
      body: BDoc): Unit = {
    val doc = GraftBson.encode(body)
    val len = 16 + 4 + 1 + doc.length
    def i32(v: Int): Unit = {
      out.write(v & 0xFF); out.write((v >>> 8) & 0xFF)
      out.write((v >>> 16) & 0xFF); out.write((v >>> 24) & 0xFF)
    }
    i32(len)
    i32(replyIds.incrementAndGet())
    i32(responseTo)
    i32(2013) // OP_MSG
    i32(0) // flagBits
    out.write(0) // section kind 0
    out.write(doc)
    out.flush()
  }

  // ---------------------------------------------------------------- //
  //  command dispatch                                                 //
  // ---------------------------------------------------------------- //

  private def dispatch(cmd: BDoc): BDoc = cmd.firstKey match {
    case "hello" | "isMaster" | "ismaster" => BDoc(
      "isWritablePrimary" -> true, "maxWireVersion" -> 17,
      "minWireVersion" -> 0, "maxBsonObjectSize" -> 16777216,
      "maxMessageSizeBytes" -> 48000000, "readOnly" -> true,
      "localTime" -> BsonDate(0L), "ok" -> 1.0)
    case "ping" => BDoc("ok" -> 1.0)
    case "buildInfo" | "buildinfo" =>
      BDoc("version" -> "7.0.0", "ok" -> 1.0)
    case "listCollections" =>
      val db = dbName(cmd)
      val colls = collections(db).keySet().asScala.toSeq.sorted.map { n =>
        BDoc("name" -> n, "type" -> "collection",
          "options" -> BDoc(), "info" -> BDoc("readOnly" -> false)): Any
      }
      BDoc("cursor" -> BDoc("id" -> 0L,
        "ns" -> s"$db.$$cmd.listCollections", "firstBatch" -> colls),
        "ok" -> 1.0)
    case "find" => find(cmd)
    case "create" =>
      val db = dbName(cmd)
      val name = cmd.getString("create").get
      val prev = collections(db)
        .putIfAbsent(name, new MCollection(name, Vector.empty))
      require(prev == null, s"Collection already exists: $db.$name")
      BDoc("ok" -> 1.0)
    case "insert" => insert(cmd)
    case "findAndModify" | "findandmodify" => findAndModify(cmd)
    case "drop" =>
      val db = dbName(cmd)
      val name = cmd.getString("drop").get
      require(name != "_schema", "cannot drop the schema collection")
      val removed = collections(db).remove(name)
      require(removed != null, s"ns not found: $db.$name")
      // Trino's connector deletes the table's _schema document too
      val sc = collections(db).get("_schema")
      if (sc != null) sc.synchronized {
        sc.rows = sc.rows.filterNot(_.getString("table").contains(name))
      }
      BDoc("ns" -> s"$db.$name", "ok" -> 1.0)
    case "getMore" => getMore(cmd)
    case "killCursors" =>
      val ids = cmd.get("cursors") match {
        case Some(s: Seq[_]) => s.collect { case l: Long => l }
        case _ => Seq.empty
      }
      ids.foreach(cursors.release)
      BDoc("cursorsKilled" -> (ids: Seq[Any]), "ok" -> 1.0)
    case "count" =>
      val db = dbName(cmd)
      val coll = lookup(db, cmd.getString("count").get)
      val pred = cmd.getDoc("query").map(filterPred)
        .getOrElse((_: BDoc) => true)
      BDoc("n" -> coll.rows.count(pred), "ok" -> 1.0)
    case other =>
      throw new IllegalArgumentException(s"no such command: '$other'")
  }

  private def dbName(cmd: BDoc): String =
    cmd.getString("$db").getOrElse(
      throw new IllegalArgumentException("missing $db"))

  private def collections(db: String): ConcurrentHashMap[String, MCollection] = {
    val m = dbs.get(db)
    require(m != null, s"no such database: $db")
    m
  }

  private def lookup(db: String, name: String): MCollection = {
    val c = collections(db).get(name)
    if (c == null)
      throw new IllegalArgumentException(s"ns not found: $db.$name")
    c
  }

  // ---------------------------------------------------------------- //
  //  find / cursors                                                   //
  // ---------------------------------------------------------------- //

  private def find(cmd: BDoc): BDoc = {
    val db = dbName(cmd)
    val collName = cmd.getString("find").get
    val coll = lookup(db, collName)
    ledger.request("finds", collName, cmd.render)
    val pred = cmd.getDoc("filter").map(filterPred)
      .getOrElse((_: BDoc) => true)
    var matched: Iterator[BDoc] = coll.rows.iterator.filter(pred)
    cmd.getDoc("sort").foreach { s =>
      require(s.fields.nonEmpty, "empty sort")
      val ordered = matched.toIndexedSeq.sortWith { (a, b) =>
        s.fields.iterator.map { case (k, dirAny) =>
          val dir = dirAny match {
            case i: Int => i; case l: Long => l.toInt
            case d: Double => d.toInt
            case _ => throw new IllegalArgumentException(s"bad sort $dirAny")
          }
          cmpAny(a.get(k).orNull, b.get(k).orNull) * dir
        }.find(_ != 0).getOrElse(0) < 0
      }
      matched = ordered.iterator
    }
    cmd.getNum("limit").filter(_ > 0)
      .foreach(n => matched = matched.take(n.toInt))
    val batchSize = cmd.getNum("batchSize").map(_.toInt).getOrElse(101)
    require(batchSize > 0, "batchSize must be positive")
    val cols: Option[Seq[String]] = cmd.getDoc("projection").map { p =>
      // {_id: 0|1, col: 1, ...} — inclusion projection only
      val incl = p.fields.collect {
        case (k, v) if numOf(v) != 0 => k
      }
      require(incl.nonEmpty || p.fields.forall(_._1 == "_id"),
        s"unsupported projection: ${p.render}")
      if (incl.isEmpty) Seq("_id") else incl
    }
    val singleBatch = cmd.get("singleBatch").contains(true)
    val ns = s"$db.$collName"
    val cursor = new MCursor(ns, collName, matched, batchSize, cols)
    val batch = takeBatch(cursor)
    val id =
      if (!singleBatch && cursor.rows.hasNext) {
        val cid = cursors.nextId()
        cursors.open(cid, cursor)
        cid
      } else 0L
    BDoc("cursor" -> BDoc("firstBatch" -> batch, "id" -> id, "ns" -> ns),
      "ok" -> 1.0)
  }

  private def getMore(cmd: BDoc): BDoc = {
    val id = cmd.getNum("getMore").getOrElse(
      throw new IllegalArgumentException("getMore: missing cursor id"))
    val cursor = cursors.get(id).orNull
    require(cursor != null, s"cursor id $id not found")
    val batch = takeBatch(cursor)
    val more = cursor.rows.hasNext
    if (!more) cursors.release(id)
    BDoc("cursor" -> BDoc("nextBatch" -> batch, "id" -> (if (more) id else 0L),
      "ns" -> cursor.ns), "ok" -> 1.0)
  }

  /** `insert`: append a batch of documents, assigning `_id` where the
    * client omitted it (monotonic per collection — the property the
    * connector's `_id`-range partition splits rely on). */
  private def insert(cmd: BDoc): BDoc = {
    val db = dbName(cmd)
    val collName = cmd.getString("insert").get
    val coll = lookup(db, collName)
    val docs = cmd.get("documents") match {
      case Some(s: Seq[_]) => s.map {
        case d: BDoc => d
        case other => throw new IllegalArgumentException(
          s"insert: document expected, got $other")
      }
      case _ => throw new IllegalArgumentException(
        "insert: documents array required")
    }
    val ordered = !cmd.get("ordered").contains(false)
    val reply = coll.synchronized {
      val accepted = Vector.newBuilder[BDoc]
      val writeErrors = Vector.newBuilder[Any]
      docs.zipWithIndex.foreach { case (d, i) =>
        val doc =
          if (d.has("_id")) d
          else BDoc(("_id" -> (coll.nextId.getAndIncrement(): Any)) +: d.fields)
        val id = doc.get("_id").get
        if (!coll.ids.add(id)) {
          // duplicate key (E11000): an ordered insert aborts the batch
          // like the real store; an unordered one skips the doc and
          // reports it — the contract idempotent retries ride on
          if (ordered) throw new IllegalArgumentException(
            s"E11000 duplicate key error: _id $id")
          writeErrors += (BDoc("index" -> i, "code" -> 11000,
            "errmsg" -> s"E11000 duplicate key error: _id $id"): Any)
        } else accepted += doc
      }
      val acc = accepted.result()
      coll.rows = coll.rows ++ acc
      val errs = writeErrors.result()
      if (errs.isEmpty) BDoc("n" -> acc.size, "ok" -> 1.0)
      else BDoc("n" -> acc.size, "writeErrors" -> (errs: Seq[Any]),
        "ok" -> 1.0)
    }
    ledger.add("inserts", collName)
    reply
  }

  /** `findAndModify` with `$inc` + upsert — the canonical Mongo
    * counter-block pattern (clients reserve monotonic id blocks with
    * exactly this command); only that shape is implemented, anything
    * else fails loudly. */
  private def findAndModify(cmd: BDoc): BDoc = {
    val db = dbName(cmd)
    val name = cmd.getString("findAndModify").get
    val coll = collections(db)
      .computeIfAbsent(name, n => new MCollection(n, Vector.empty))
    val query = cmd.getDoc("query").getOrElse(
      throw new IllegalArgumentException("findAndModify: query required"))
    val upsert = cmd.get("upsert").contains(true)
    val returnNew = cmd.get("new").contains(true)
    val inc = cmd.getDoc("update")
      .flatMap(_.getDoc("$inc"))
      .getOrElse(throw new IllegalArgumentException(
        "findAndModify: only {$inc: {...}} updates are supported"))
    coll.synchronized {
      val pred = filterPred(query)
      val idx = coll.rows.indexWhere(pred)
      if (idx >= 0) {
        val old = coll.rows(idx)
        val updated = BDoc(old.fields.map {
          case (k, v) if inc.has(k) => k -> (numOf(v) + numOf(inc.get(k).get))
          case kv => kv
        })
        coll.rows = coll.rows.updated(idx, updated)
        BDoc("value" -> (if (returnNew) updated else old), "ok" -> 1.0)
      } else if (upsert) {
        val fresh = BDoc(query.fields ++
          inc.fields.map { case (k, v) => k -> (numOf(v): Any) })
        fresh.get("_id").foreach(coll.ids.add)
        coll.rows = coll.rows :+ fresh
        BDoc("value" -> (if (returnNew) fresh else (null: Any)), "ok" -> 1.0)
      } else BDoc("value" -> (null: Any), "ok" -> 1.0)
    }
  }

  private def takeBatch(c: MCursor): Seq[Any] = {
    val out = Vector.newBuilder[Any]
    var n = 0
    c.synchronized {
      while (n < c.batchSize && c.rows.hasNext) {
        val row = c.rows.next()
        out += (c.cols match {
          case Some(cols) => BDoc(cols.toVector.map(k =>
            k -> row.get(k).getOrElse(null: Any)))
          case None => row
        })
        n += 1
      }
    }
    ledger.add("batches", c.coll)
    ledger.add("docs", c.coll, n)
    out.result()
  }

  // ---------------------------------------------------------------- //
  //  filter evaluation                                                //
  // ---------------------------------------------------------------- //

  private def numOf(v: Any): Long = v match {
    case i: Int => i.toLong; case l: Long => l; case d: Double => d.toLong
    case b: Boolean => if (b) 1 else 0
    case _ => throw new IllegalArgumentException(s"expected number, got $v")
  }

  /** Compile a filter document to a row predicate. Unknown operators
    * throw (an error reply to the client). Comparison semantics follow
    * Mongo's type bracketing: cross-type comparisons never match. */
  private def filterPred(filter: BDoc): BDoc => Boolean = {
    val clauses: Seq[BDoc => Boolean] = filter.fields.map {
      case ("$and", sub: Seq[_]) =>
        val ps = sub.map {
          case d: BDoc => filterPred(d)
          case other => throw new IllegalArgumentException(
            s"$$and operand must be a document: $other")
        }
        (row: BDoc) => ps.forall(_(row))
      case (dollar, _) if dollar.startsWith("$") =>
        throw new IllegalArgumentException(s"unsupported operator $dollar")
      case (field, spec: BDoc)
          if spec.fields.nonEmpty && spec.fields.forall(_._1.startsWith("$")) =>
        val ops = spec.fields.map { case (op, lit) => fieldOp(field, op, lit) }
        (row: BDoc) => ops.forall(_(row))
      case (field, lit) => fieldOp(field, "$eq", lit)
    }
    row => clauses.forall(_(row))
  }

  private def fieldOp(field: String, op: String,
      lit: Any): BDoc => Boolean = {
    def v(row: BDoc): Any = row.get(field).orNull
    op match {
      case "$eq" =>
        if (lit == null) row => v(row) == null
        else row => { val a = v(row); a != null && cmpOpt(a, lit).contains(0) }
      case "$ne" =>
        if (lit == null) row => v(row) != null
        else row => { val a = v(row)
          a == null || !cmpOpt(a, lit).contains(0) }
      case "$gt" => row => { val a = v(row)
        a != null && cmpOpt(a, lit).exists(_ > 0) }
      case "$gte" => row => { val a = v(row)
        a != null && cmpOpt(a, lit).exists(_ >= 0) }
      case "$lt" => row => { val a = v(row)
        a != null && cmpOpt(a, lit).exists(_ < 0) }
      case "$lte" => row => { val a = v(row)
        a != null && cmpOpt(a, lit).exists(_ <= 0) }
      case "$in" => lit match {
        case vs: Seq[_] =>
          // HASH-SET membership, not a linear exists(): a real store
          // answers $in via its index, and a runtime dynamic filter
          // can carry tens of thousands of keys — linear scan made
          // that O(rows × keys) (q82: 14 s at sf0.1). The typed sets
          // reproduce cmpOpt's bracketing exactly: integral values
          // match across Int/Long/integral-Double, fractional only
          // within Double, everything else within its own type.
          val hasNull = vs.contains(null)
          val longs = new java.util.HashSet[java.lang.Long]()
          val doubles = new java.util.HashSet[java.lang.Double]()
          val strings = new java.util.HashSet[String]()
          val bools = new java.util.HashSet[java.lang.Boolean]()
          val dates = new java.util.HashSet[java.lang.Long]()
          vs.foreach {
            case null => ()
            case i: Int => longs.add(i.toLong); doubles.add(i.toDouble)
            case l: Long => longs.add(l); doubles.add(l.toDouble)
            case d: Double =>
              doubles.add(d)
              if (!d.isNaN && !d.isInfinite && d == Math.rint(d) &&
                math.abs(d) < 9.223372036854776e18) longs.add(d.toLong)
            case s: String => strings.add(s)
            case b: Boolean => bools.add(b)
            case BsonDate(ms) => dates.add(ms)
            case other => throw new IllegalArgumentException(
              s"$$in: unsupported literal $other")
          }
          row => v(row) match {
            case null => hasNull
            case i: Int => longs.contains(i.toLong)
            case l: Long => longs.contains(l)
            case d: Double => doubles.contains(d)
            case s: String => strings.contains(s)
            case b: Boolean => bools.contains(b)
            case BsonDate(ms) => dates.contains(ms)
            case _ => false // cross-type bracketing: never matches
          }
        case other => throw new IllegalArgumentException(
          s"$$in needs an array, got $other")
      }
      case "$exists" => lit match {
        case want: Boolean => row => row.has(field) == want
        case other => throw new IllegalArgumentException(
          s"$$exists needs a boolean, got $other")
      }
      case other =>
        throw new IllegalArgumentException(s"unsupported operator $other")
    }
  }

  /** Typed comparison; None = type-bracketing mismatch (never matches). */
  private def cmpOpt(a: Any, b: Any): Option[Int] = (a, b) match {
    case (x: String, y: String) => Some(x.compareTo(y))
    case (x: Boolean, y: Boolean) => Some(java.lang.Boolean.compare(x, y))
    case (BsonDate(x), BsonDate(y)) => Some(java.lang.Long.compare(x, y))
    case (x: Long, y: Long) => Some(java.lang.Long.compare(x, y))
    case (x: Int, y: Int) => Some(java.lang.Integer.compare(x, y))
    case (x: Long, y: Int) => Some(java.lang.Long.compare(x, y.toLong))
    case (x: Int, y: Long) => Some(java.lang.Long.compare(x.toLong, y))
    case (x: Double, y: Double) => Some(java.lang.Double.compare(x, y))
    case (x: Double, y: Long) => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Long, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
    case (x: Double, y: Int) => Some(java.lang.Double.compare(x, y.toDouble))
    case (x: Int, y: Double) => Some(java.lang.Double.compare(x.toDouble, y))
    case _ => None
  }

  /** Total order for sort (nulls first, like Mongo's BSON order). */
  private def cmpAny(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _) => -1
    case (_, null) => 1
    case _ => cmpOpt(a, b).getOrElse(
      throw new IllegalArgumentException(s"unsortable pair ($a, $b)"))
  }
}
