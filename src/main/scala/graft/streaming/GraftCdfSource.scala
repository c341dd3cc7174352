package graft.streaming

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.GraftVersions

/** Change-data-feed over a graft versioned table as a FIRST-CLASS DSv2
  * streaming source (the r12 cdfStream promoted from a
  * readStream.text-over-manifests composition):
  *
  * {{{
  *   spark.readStream.format("graft.streaming.GraftCdfProvider")
  *     .option("path", tableDir)
  *     .option("maxVersionsPerTrigger", "1")   // rate limit
  *     .option("startingVersion", "0")         // replay point
  *     .load()
  * }}}
  *
  * OFFSETS ARE SNAPSHOT VERSIONS: micro-batch (start, end] carries
  * exactly the rows of the files ADDED by versions start+1..end
  * (manifest set-difference against each predecessor — the added-set
  * rule the batch snapshot diff uses, which StreamingSpec equates; a
  * RESTORE's re-added files flow through like any other add, which
  * the filename-prefix rule this replaced silently dropped).
  * Offsets checkpoint like any DSv2 source, so
  * a restarted query resumes MID-LEDGER from its stored version —
  * no manifest replay bookkeeping in user code. Tombstoned (expired)
  * and metadata-only snapshots contribute empty deltas; versions still
  * advance, so retention never stalls the stream.
  *
  * Scale shape: per micro-batch the driver reads O(changed-file NAMES)
  * of manifest lines and plans one partition per added file; executors
  * read only those files. A 100 TB table streams at the cost of its
  * commit rate, never a rescan, and `maxVersionsPerTrigger` bounds a
  * catch-up burst (a restart 10 000 commits behind drains in paced
  * batches instead of one giant one).
  *
  * The per-file reader decodes parquet through the parquet-mr Group
  * API (executors have no SparkSession to lean on): flat atomic
  * columns + arrays of atomics — the shapes versioned tables here
  * carry. An unsupported column type fails LOUDLY at stream start,
  * never silently misreads. Each output row is the data row plus a
  * trailing `_cdf_version INT`. */
class GraftCdfProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftCdfSource.fullSchema(options.get("path"),
      Option(options.get("includeRemoved")).exists(_.toBoolean) ||
        Option(options.get("rowLevel")).exists(_.toBoolean))
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftCdfTable(schema, properties.get("path"))
  override def supportsExternalMetadata(): Boolean = true
}

private[graft] object GraftCdfSource {
  val versionCol = "_cdf_version"
  val changeCol = "_change_type"

  /** Snapshot data schema (authoritative record if the table evolved,
    * else one data-file footer) + the trailing version column — plus a
    * `_change_type` column (`insert`/`delete`) when the removed-rows
    * channel is on. */
  def fullSchema(dir: String, includeRemoved: Boolean): StructType = {
    require(dir != null, "graft-cdf requires .option(\"path\", <tableDir>)")
    val cur = GraftVersions.current(dir)
    require(cur >= 1, s"graft-cdf: $dir has no committed snapshot")
    val schema = GraftVersions.snapshotSchema(dir, cur, GraftVersions.manifest(dir, cur))
    require(schema.isDefined, s"graft-cdf: $dir snapshot $cur lists no files")
    val data = schema.get
    data.fields.foreach(f => checkSupported(f.dataType, f.name))
    val meta = StructField(versionCol, IntegerType, nullable = false) +:
      (if (includeRemoved)
        Seq(StructField(changeCol, StringType, nullable = false))
      else Seq.empty)
    StructType(data.fields ++ meta)
  }

  private def checkSupported(dt: DataType, name: String): Unit = dt match {
    case IntegerType | LongType | DoubleType | FloatType | BooleanType |
         StringType | BinaryType => ()
    case ArrayType(et, _) => checkSupported(et, s"$name.element")
    case other => throw new UnsupportedOperationException(
      s"graft-cdf: column $name has unsupported type $other " +
        "(flat atomics and arrays of atomics only)")
  }

  /** Files ADDED by version `v`: manifest set-difference against the
    * predecessor — the SAME rule the batch snapshot diff and
    * [[removedFiles]] use, NOT the `v<N>-` filename-prefix heuristic
    * (ADVICE r13): a rollback/RESTORE publishes restored files under
    * their ORIGINAL prefixes, so the prefix rule emitted their removal
    * (set-diff) but never their re-addition, and every downstream
    * incremental consumer silently diverged from the table.
    * LAYOUT-ONLY versions (compaction/re-clustering, `#layout` header)
    * contribute NOTHING: their row set equals the predecessor's, and
    * without the skip a 100 TB compaction would replay the whole table
    * into every incremental consumer. */
  def addedFiles(dir: String, v: Int): Seq[String] =
    if (!GraftVersions.isLive(dir, v) ||
      GraftVersions.isLayoutOnly(dir, v)) Seq.empty
    else {
      val prev = GraftVersions.manifest(dir, v - 1)
        .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
      GraftVersions.manifest(dir, v).filterNot { p =>
        prev.contains(p.substring(p.lastIndexOf('/') + 1))
      }
    }

  /** Files REMOVED by version `v`: the predecessor manifest's files the
    * new manifest no longer lists. File granularity, like the batch
    * snapshot diff: a copy-on-write rewrite reports its surviving rows
    * as removed-then-re-added (exactly what the files say). Removed
    * files stay readable on disk until retention expires them — a
    * consumer more than one retention window behind has lost its delta
    * feed by contract. */
  def removedFiles(dir: String, v: Int): Seq[String] = {
    // a TOMBSTONED (expired) version reads as an empty manifest —
    // retention is not a data change, so it must not read as a
    // whole-table delete (its adds are equally gone; the documented
    // fell-behind-retention contract)
    if (!GraftVersions.isLive(dir, v)) return Seq.empty
    // layout-only versions replace files without changing rows — no
    // delete delta, matching addedFiles' skip
    if (GraftVersions.isLayoutOnly(dir, v)) return Seq.empty
    val now = GraftVersions.manifest(dir, v)
      .map(p => p.substring(p.lastIndexOf('/') + 1)).toSet
    GraftVersions.manifest(dir, v - 1).filterNot { p =>
      now.contains(p.substring(p.lastIndexOf('/') + 1))
    }
  }
}

private class GraftCdfTable(tschema: StructType, path: String)
  extends Table with SupportsRead {
  override def name(): String = s"graft-cdf `$path`"
  override def schema(): StructType = tschema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = tschema
      override def toMicroBatchStream(checkpointLocation: String)
          : MicroBatchStream = {
        val byVersion = Option(options.get("startingVersion")).map(_.toInt)
        // epoch MICROS, the `TIMESTAMP AS OF` ledger's unit: replay
        // begins at the first version committed AFTER the instant
        val byTime = Option(options.get("startingTimestampMicros"))
          .map(t => GraftVersions.versionAt(path, t.toLong).getOrElse(0))
        require(byVersion.isEmpty || byTime.isEmpty,
          "graft-cdf: startingVersion and startingTimestampMicros are " +
            "mutually exclusive")
        val rowLevel = Option(options.get("rowLevel")).exists(_.toBoolean)
        val mergeKey = Option(options.get("mergeKey"))
        require(!rowLevel || mergeKey.exists(k =>
          tschema.fieldNames.contains(k)),
          "graft-cdf: rowLevel=true requires .option(\"mergeKey\", <col>) " +
            s"naming a data column; schema: ${tschema.fieldNames.mkString(", ")}")
        new GraftCdfStream(path, tschema,
          Option(options.get("maxVersionsPerTrigger")).map(_.toInt),
          byVersion.orElse(byTime).getOrElse(0),
          Option(options.get("includeRemoved")).exists(_.toBoolean),
          rowLevel, mergeKey.getOrElse(""))
      }
    }
}

private case class GraftCdfOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

private case class GraftCdfPartition(version: Int, file: String,
    change: String) extends InputPartition

/** One REWRITE version in row-level mode: the added and removed file
  * sets of the version, diffed per row inside the reader (the join
  * needs both sides, so the version is the partition unit — memory is
  * O(the commit's changed rows), which IS the CDC bound; insert-only
  * versions keep the per-file parallel path). */
private case class GraftCdfRowDiffPartition(version: Int,
    added: Seq[String], removed: Seq[String], mergeKey: String)
  extends InputPartition

private class GraftCdfStream(dir: String, schema: StructType,
    maxVersionsPerTrigger: Option[Int], startingVersion: Int,
    includeRemoved: Boolean, rowLevel: Boolean = false,
    mergeKey: String = "")
  extends MicroBatchStream with SupportsAdmissionControl {

  override def initialOffset(): Offset = GraftCdfOffset(startingVersion)

  override def deserializeOffset(json: String): Offset =
    GraftCdfOffset("\"version\"\\s*:\\s*(\\d+)".r
      .findFirstMatchIn(json)
      .getOrElse(throw new IllegalArgumentException(s"bad CDF offset: $json"))
      .group(1).toInt)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Admission control: advance at most `maxVersionsPerTrigger`
    * snapshots per micro-batch (catch-up pacing); unbounded otherwise. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[GraftCdfOffset].version
    val cur = GraftVersions.current(dir)
    GraftCdfOffset(maxVersionsPerTrigger match {
      case Some(k) => math.min(cur, s + k)
      case None => cur
    })
  }

  override def reportLatestOffset(): Offset =
    GraftCdfOffset(GraftVersions.current(dir))

  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is the admission-controlled entry")

  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val s = start.asInstanceOf[GraftCdfOffset].version
    val e = end.asInstanceOf[GraftCdfOffset].version
    ((s + 1) to e).flatMap { v =>
      val added = GraftCdfSource.addedFiles(dir, v)
      if (rowLevel) {
        val removed = GraftCdfSource.removedFiles(dir, v)
        if (removed.isEmpty)
          // pure append: the per-file parallel path, no join needed
          added.map(f => GraftCdfPartition(v, f, "insert"))
        else Seq(GraftCdfRowDiffPartition(v, added, removed, mergeKey))
      } else {
        added.map(f => GraftCdfPartition(v, f, "insert")) ++
          (if (includeRemoved)
            GraftCdfSource.removedFiles(dir, v)
              .map(f => GraftCdfPartition(v, f, "delete"))
          else Seq.empty)
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftCdfReaderFactory(schema, includeRemoved || rowLevel)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Executor-side parquet decode through the parquet-mr Group API (no
  * SparkSession exists on an executor): columns resolve BY NAME against
  * the stream schema, so pre-evolution files read evolved columns back
  * as null — the same semantics the batch reader has. */
private class GraftCdfReaderFactory(schema: StructType,
    includeRemoved: Boolean) extends PartitionReaderFactory {

  private def metaCols = if (includeRemoved) 2 else 1
  private def dataFields = schema.fields.dropRight(metaCols)

  /** All data-column value arrays of one parquet file (parquet-mr
    * decode through [[convert]]) — the shared row source for both the
    * per-file readers and the row-diff join. */
  private def fileValues(file: String): Iterator[Array[Any]] = {
    val fields = dataFields
    val reader = org.apache.parquet.hadoop.ParquetReader
      .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
        new org.apache.hadoop.fs.Path(file))
      .build()
    new Iterator[Array[Any]] {
      private var cur = reader.read()
      override def hasNext: Boolean = {
        if (cur == null) reader.close()
        cur != null
      }
      override def next(): Array[Any] = {
        val values = new Array[Any](fields.length)
        var i = 0
        while (i < fields.length) {
          values(i) = convert(cur, fields(i).name, fields(i).dataType)
          i += 1
        }
        cur = reader.read()
        values
      }
    }
  }

  override def createReader(partition: InputPartition)
      : PartitionReader[InternalRow] = partition match {
    case rd: GraftCdfRowDiffPartition => createRowDiffReader(rd)
    case p: GraftCdfPartition => createFileReader(p)
  }

  /** Row-level diff of one rewrite version: removed rows load into a
    * key-indexed map (O(the commit's rewritten rows) — the CDC bound),
    * added files stream against it. Matching keys with identical
    * content are CARRIED rows (no change emitted); changed content
    * emits the preimage/postimage pair; unmatched added rows are
    * inserts and unmatched removed rows drain as deletes at the end. */
  private def createRowDiffReader(p: GraftCdfRowDiffPartition)
      : PartitionReader[InternalRow] = {
    val fields = dataFields
    val keyIdx = fields.indexWhere(_.name == p.mergeKey)
    require(keyIdx >= 0, s"graft-cdf: mergeKey ${p.mergeKey} not in schema")

    def mk(values: Array[Any], change: String): InternalRow = {
      val out = new Array[Any](fields.length + 2)
      System.arraycopy(values, 0, out, 0, fields.length)
      out(fields.length) = p.version
      out(fields.length + 1) = UTF8String.fromString(change)
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
    }
    def valEq(a: Any, b: Any): Boolean = (a, b) match {
      case (null, null) => true
      case (null, _) | (_, null) => false
      case (x: Array[Byte], y: Array[Byte]) => java.util.Arrays.equals(x, y)
      case (x: GenericArrayData, y: GenericArrayData) =>
        x.numElements() == y.numElements() &&
          x.array.zip(y.array).forall { case (u, v) => valEq(u, v) }
      case (x, y) => x == y
    }
    def rowsEqual(a: Array[Any], b: Array[Any]): Boolean = {
      var i = 0
      while (i < a.length) { if (!valEq(a(i), b(i))) return false; i += 1 }
      true
    }

    // The key-join reconstruction is only sound when the merge key is
    // UNIQUE within the rewrite commit: a duplicate would silently
    // last-win in the removed map (losing a delete) or re-match one
    // preimage twice on the added side (mislabeling an insert as an
    // update). Fail loudly instead of emitting a wrong change feed.
    def dupKey(k: Any): Nothing = throw new IllegalStateException(
      s"graft-cdf: mergeKey ${p.mergeKey} is not unique within rewrite " +
        s"commit v${p.version} (duplicate value $k); row-level CDF " +
        "requires a unique key — consume the file-level feed instead")
    val removedByKey = new java.util.LinkedHashMap[Any, Array[Any]]()
    val nullKeyRemoved = scala.collection.mutable.ArrayBuffer[Array[Any]]()
    p.removed.foreach(f => fileValues(f).foreach { vals =>
      val k = vals(keyIdx)
      if (k == null) nullKeyRemoved += vals
      else if (removedByKey.put(k, vals) != null) dupKey(k)
    })
    val touched = new java.util.HashSet[Any]()

    val head: Iterator[InternalRow] =
      p.added.iterator.flatMap(fileValues).flatMap { vals =>
        val k = vals(keyIdx)
        val old = if (k == null) null else removedByKey.get(k)
        // ANY duplicate non-null added-side key is rejected — the same
        // contract as the batch gate (GraftMerge.rowLevelDiff), so batch
        // and stream feeds agree on every commit
        if (k != null && !touched.add(k)) dupKey(k)
        if (old == null) Iterator.single(mk(vals, "insert"))
        else {
          if (rowsEqual(old, vals)) Iterator.empty // carried: no change
          else Iterator(mk(old, "update_preimage"), mk(vals, "update_postimage"))
        }
      }
    // Iterator#++ takes its argument by name: the delete drain only
    // materializes after the added side ran and `touched` is complete
    def deletes: Iterator[InternalRow] =
      (nullKeyRemoved.iterator ++
        removedByKey.entrySet().iterator().asScala
          .filterNot(e => touched.contains(e.getKey)).map(_.getValue))
        .map(mk(_, "delete"))
    val out = head ++ deletes

    new PartitionReader[InternalRow] {
      private var cur: InternalRow = _
      override def next(): Boolean = {
        if (out.hasNext) { cur = out.next(); true } else false
      }
      override def get(): InternalRow = cur
      override def close(): Unit = ()
    }
  }

  private def createFileReader(p: GraftCdfPartition)
      : PartitionReader[InternalRow] = {
    val dataFields = schema.fields.dropRight(metaCols)
    new PartitionReader[InternalRow] {
      private val reader = org.apache.parquet.hadoop.ParquetReader
        .builder(new org.apache.parquet.hadoop.example.GroupReadSupport(),
          new org.apache.hadoop.fs.Path(p.file))
        .build()
      private var cur: org.apache.parquet.example.data.Group = _

      override def next(): Boolean = { cur = reader.read(); cur != null }

      override def get(): InternalRow = {
        val values = new Array[Any](dataFields.length + metaCols)
        var i = 0
        while (i < dataFields.length) {
          values(i) = convert(cur, dataFields(i).name, dataFields(i).dataType)
          i += 1
        }
        values(dataFields.length) = p.version
        if (includeRemoved)
          values(dataFields.length + 1) = UTF8String.fromString(p.change)
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(values)
      }

      override def close(): Unit = reader.close()
    }
  }

  private def convert(g: org.apache.parquet.example.data.Group,
      field: String, dt: DataType): Any = {
    val gt = g.getType
    if (!gt.containsField(field)) return null // pre-evolution file
    val i = gt.getFieldIndex(field)
    if (g.getFieldRepetitionCount(i) == 0) return null
    dt match {
      case IntegerType => g.getInteger(i, 0)
      case LongType => g.getLong(i, 0)
      case DoubleType => g.getDouble(i, 0)
      case FloatType => g.getFloat(i, 0)
      case BooleanType => g.getBoolean(i, 0)
      case StringType => UTF8String.fromBytes(g.getBinary(i, 0).getBytes)
      case BinaryType => g.getBinary(i, 0).getBytes
      case ArrayType(et, _) =>
        // standard 3-level LIST: group f { repeated group list { element } }
        val lst = g.getGroup(i, 0)
        val n = lst.getFieldRepetitionCount(0)
        new GenericArrayData((0 until n).map { j =>
          val entry = lst.getGroup(0, j)
          if (entry.getFieldRepetitionCount(0) == 0) null
          else et match {
            case IntegerType => entry.getInteger(0, 0)
            case LongType => entry.getLong(0, 0)
            case DoubleType => entry.getDouble(0, 0)
            case FloatType => entry.getFloat(0, 0)
            case BooleanType => entry.getBoolean(0, 0)
            case StringType =>
              UTF8String.fromBytes(entry.getBinary(0, 0).getBytes)
            case other => throw new UnsupportedOperationException(
              s"graft-cdf: array element type $other")
          }
        }.toArray)
      case other => throw new UnsupportedOperationException(
        s"graft-cdf: column $field has unsupported type $other")
    }
  }
}
