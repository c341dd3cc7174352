package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, GraftBridge, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types._

import graft.sources.{GraftMerge, GraftVersions}

/** Change-data-feed over a graft versioned table as a streaming source:
  *
  * {{{
  *   spark.readStream.format("graft.streaming.GraftCdfProvider")
  *     .option("path", tableDir)
  *     .option("maxVersionsPerTrigger", "1")   // rate limit
  *     .option("startingVersion", "0")         // replay point
  *     .load()
  * }}}
  *
  * OFFSETS ARE SNAPSHOT VERSIONS (`{"version":N}`): micro-batch
  * (start, end] is the batch snapshot diff run one version at a time
  * over versions start+1..end — the rows of the files each version
  * ADDED (manifest set-difference against its predecessor, so a
  * RESTORE's re-added files flow through like any other add, once per
  * version that adds them), plus with `includeRemoved` the rows of the
  * files it removed, and with `rowLevel` + `mergeKey` the key-join of
  * [[GraftMerge.rowChanges]], the body `GraftMerge.rowLevelDiff` runs.
  * Every row carries its `_cdf_version` (and `_change_type`).
  * Tombstoned (expired) and layout-only versions contribute nothing;
  * versions still advance, so retention never stalls the stream.
  * Offsets checkpoint like any source, so a restarted query resumes
  * mid-ledger from its stored version.
  *
  * A micro-batch is an ordinary DataFrame: Spark's own parquet reader
  * reads the changed files with the schema fixed at stream start,
  * columns matched by name (a pre-evolution file reads an evolved
  * column as null), and the whole batch is wrapped as ONE streaming
  * leaf, so the row-level join plans as a batch join. Per micro-batch
  * the driver reads the changed versions' manifests and executors read
  * only the changed files — a 100 TB table streams at the cost of its
  * commit rate, and `maxVersionsPerTrigger` paces a catch-up burst. */
class GraftCdfProvider extends StreamSourceProvider {
  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
      providerName: String, parameters: Map[String, String]): (String, StructType) =
    ("graft-cdf", schema.getOrElse(GraftCdfSource.fullSchema(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source =
    new GraftCdfSource(sqlContext.sparkSession, parameters,
      schema.getOrElse(GraftCdfSource.fullSchema(parameters)))
}

private[graft] object GraftCdfSource {
  val versionCol = "_cdf_version"
  val changeCol = "_change_type"

  private def flag(options: Map[String, String], key: String): Boolean =
    options.get(key).exists(_.toBoolean)

  /** Snapshot data schema (authoritative record if the table evolved,
    * else one data-file footer; every column nullable, since an older
    * file may lack it) + the trailing version column — plus a
    * `_change_type` column when the removed or row-level channel is
    * on. */
  def fullSchema(options: Map[String, String]): StructType = {
    val dir = options.getOrElse("path",
      throw new IllegalArgumentException("graft-cdf requires .option(\"path\", <tableDir>)"))
    val snap = GraftVersions.Snapshot.current(dir)
    require(snap.version >= 1, s"graft-cdf: $dir has no committed snapshot")
    require(snap.schema.isDefined,
      s"graft-cdf: $dir snapshot ${snap.version} lists no files")
    val meta = StructField(versionCol, IntegerType, nullable = false) +:
      (if (flag(options, "includeRemoved") || flag(options, "rowLevel"))
        Seq(StructField(changeCol, StringType, nullable = false))
      else Seq.empty)
    StructType(snap.schema.get.fields.map(_.copy(nullable = true)) ++ meta)
  }

  /** (added, removed) files of version `v`: manifest set-difference
    * against the predecessor, one read of each manifest — the rule the
    * batch snapshot diff uses, NOT a `v<N>-` filename prefix (a
    * RESTORE publishes restored files under their ORIGINAL prefixes).
    * File granularity: a copy-on-write rewrite reports its surviving
    * rows as removed-then-re-added. Removed files stay readable until
    * retention expires them — a consumer more than one retention
    * window behind has lost its delta feed by contract.
    *
    * Empty on both sides for a TOMBSTONED (expired) version —
    * retention is not a data change — and for a LAYOUT-ONLY version
    * (compaction/re-clustering, `#layout` header), whose row set equals
    * the predecessor's: without the skip a 100 TB compaction would
    * replay the whole table into every incremental consumer. */
  def changedFiles(dir: String, v: Int): (Seq[String], Seq[String]) = {
    val now = GraftVersions.Snapshot(dir, v)
    if (!now.live || now.layoutOnly) (Seq.empty, Seq.empty)
    else {
      val prev = GraftVersions.Snapshot(dir, v - 1)
      (now.filesNotIn(prev), prev.filesNotIn(now))
    }
  }

  /** The change rows of version `v`, read with `data` (the stream's
    * data schema) and tagged with the version and, when a removed or
    * row-level channel is on, the change type. With `mergeKey`, a
    * version that removed files is diffed per row; a pure append is all
    * inserts. */
  def versionChanges(spark: SparkSession, dir: String, v: Int,
      data: StructType, includeRemoved: Boolean,
      mergeKey: Option[String]): Seq[DataFrame] = {
    val (added, removed) = changedFiles(dir, v)
    val typed = includeRemoved || mergeKey.isDefined
    def read(files: Seq[String]) = spark.read.schema(data).parquet(files: _*)
    def tag(df: DataFrame, change: Column) =
      df.select(data.fieldNames.toIndexedSeq.map(col) ++ Seq(lit(v).as(versionCol)) ++
        Seq(change.as(changeCol)).filter(_ => typed): _*)
    mergeKey match {
      case Some(k) if removed.nonEmpty =>
        Seq(tag(GraftMerge.rowChanges(read(added), read(removed), k, s"$dir v$v"),
          col(changeCol)))
      case _ =>
        val deletes = if (includeRemoved && mergeKey.isEmpty) removed else Seq.empty
        Seq(added -> "insert", deletes -> "delete").collect {
          case (files, change) if files.nonEmpty => tag(read(files), lit(change))
        }
    }
  }
}

private case class GraftCdfOffset(version: Int) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Admission-controlled V1 source (the API Spark's `FileStreamSource`
  * uses): `latestOffset` advances at most `maxVersionsPerTrigger`
  * versions per micro-batch, and `getBatch` unions
  * [[GraftCdfSource.versionChanges]] over the batch's versions. */
private class GraftCdfSource(spark: SparkSession, options: Map[String, String],
    override val schema: StructType)
  extends Source with SupportsAdmissionControl {
  import GraftCdfSource._

  private val dir = options("path")
  private val includeRemoved = flag(options, "includeRemoved")
  private val mergeKey =
    if (flag(options, "rowLevel")) Some(options.getOrElse("mergeKey", "")) else None
  private val data =
    StructType(schema.filterNot(f => f.name == versionCol || f.name == changeCol))
  require(mergeKey.forall(data.fieldNames.contains),
    "graft-cdf: rowLevel=true requires .option(\"mergeKey\", <col>) " +
      s"naming a data column; schema: ${data.fieldNames.mkString(", ")}")
  private val maxVersionsPerTrigger = options.get("maxVersionsPerTrigger").map(_.toInt)
  private val startingVersion = {
    val byVersion = options.get("startingVersion").map(_.toInt)
    // epoch MICROS, the `TIMESTAMP AS OF` ledger's unit: replay
    // begins at the first version committed AFTER the instant
    val byTime = options.get("startingTimestampMicros")
      .map(t => GraftVersions.versionAt(dir, t.toLong).getOrElse(0))
    require(byVersion.isEmpty || byTime.isEmpty,
      "graft-cdf: startingVersion and startingTimestampMicros are " +
        "mutually exclusive")
    byVersion.orElse(byTime).getOrElse(0)
  }

  /** The version an offset names: ours, or one read back from a
    * checkpoint; none yet is the starting version. */
  private def version(o: StreamOffset): Int =
    if (o == null) startingVersion
    else "\"version\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(o.json())
      .getOrElse(throw new IllegalArgumentException(s"bad CDF offset: ${o.json()}"))
      .group(1).toInt

  override def latestOffset(start: StreamOffset,
      limit: ReadLimit): StreamOffset = {
    val cur = GraftVersions.current(dir)
    GraftCdfOffset(maxVersionsPerTrigger.fold(cur)(k => math.min(cur, version(start) + k)))
  }

  override def reportLatestOffset(): StreamOffset =
    GraftCdfOffset(GraftVersions.current(dir))

  override def getOffset: Option[Offset] = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) is the admission-controlled entry")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val parts = (version(start.orNull) + 1 to version(end)).flatMap(v =>
      versionChanges(spark, dir, v, data, includeRemoved, mergeKey))
    GraftBridge.streamingLeaf(parts.reduceOption(_ union _).getOrElse(
      spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)))
  }

  override def stop(): Unit = ()
}
