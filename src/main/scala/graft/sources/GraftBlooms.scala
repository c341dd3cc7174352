package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.input_file_name
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.BloomFilter

import scala.jdk.CollectionConverters._

/** Per-file BLOOM sidecars for point-predicate file skipping — the
  * membership index min/max manifest stats cannot be.
  *
  * Manifest min/max prunes a takedown `DELETE WHERE doc_id = x` only
  * when the table is CLUSTERED on `doc_id`; on any other layout the id
  * spans every file's range and discovery degrades to the O(table)
  * scan SCALEPROOF.md's caveat row measures at 35.7× (the reference's
  * lakehouse peers solve this the same way — Delta's bloom-filter
  * index, Iceberg puffin blobs). These sidecars close exactly that
  * case: at commit time, each NEW data file gets one bloom per
  * configured column (`spark.sql.graft.bloom.columns`), built in ONE
  * Spark job over the just-committed files — grouped by
  * `input_file_name`, aggregated with Spark's own codegen'd
  * [[BloomFilterAggregate]] over `xxhash64` of the value, O(new files
  * × bloom bytes) on the driver, never O(rows). The copy-on-write
  * verbs then drop any file whose bloom proves it holds NO candidate
  * value of an equality/IN conjunct ([[graft.sources.GraftMerge]]'s
  * `pruneByStats` → [[prune]]) — a point delete on a 100 TB table
  * reads the manifest plus the handful of files that actually contain
  * the id, independent of the clustering layout.
  *
  * Soundness: a bloom has NO false negatives, so "no candidate value
  * might be contained" is a proof of absence. A missing sidecar (table
  * predates the conf, bloom-less column, crash between publish and
  * sidecar write) keeps the file a candidate — pre-bloom tables and
  * partial writes degrade to the discovery scan, never to a wrong
  * answer. Hash channels match by construction: integral columns are
  * cast to LONG before hashing and probed with the long literal;
  * strings hash their UTF8 bytes and are probed with the string
  * literal — both through Spark's `xxhash64` (seed 42) on write and
  * [[XxHash64Function]] on probe. */
private[graft] object GraftBlooms {

  private val Seed = 42L

  private def bloomsDir(dir: String) = new java.io.File(dir, "_blooms")

  private def sidecar(dir: String, file: String, col: String) =
    new java.io.File(bloomsDir(dir), s"$file.$col.bloom")

  private def configFile(dir: String) = new java.io.File(bloomsDir(dir), "_config")

  /** The table's PERSISTED bloom column list: written the first time a
    * session with `spark.sql.graft.bloom.columns` set commits, read by
    * every later commit — so a writer whose session never set the conf
    * keeps producing sidecars instead of silently letting the index
    * decay (missing sidecars are sound, but a table whose point-skip
    * erodes one rewrite at a time is an operational trap). The session
    * conf, when set, always wins and refreshes the record. */
  private def configuredColumns(spark: SparkSession, dir: String): Set[String] = {
    val conf = spark.conf.get("spark.sql.graft.bloom.columns", "")
      .split(",").map(_.trim).filter(_.nonEmpty).toSet
    if (conf.nonEmpty) {
      val f = configFile(dir)
      val payload = conf.toSeq.sorted.mkString(",")
      val stale = !f.isFile ||
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8") != payload
      if (stale) {
        bloomsDir(dir).mkdirs()
        java.nio.file.Files.write(f.toPath, payload.getBytes("UTF-8"))
      }
      conf
    } else {
      val f = configFile(dir)
      if (f.isFile)
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .split(",").map(_.trim).filter(_.nonEmpty).toSet
      else Set.empty
    }
  }

  /** Configured bloom columns resolved against `schema`, split by hash
    * channel: (integral → long, string). Unknown names and unsupported
    * types are ignored — the conf is a hint, not a contract. */
  private def channels(spark: SparkSession, dir: String,
      schema: StructType): (Seq[String], Seq[String]) = {
    val want = configuredColumns(spark, dir)
    if (want.isEmpty) return (Nil, Nil)
    val fields = schema.fields.filter(f => want.contains(f.name))
    (fields.collect {
      case f if Seq(ByteType, ShortType, IntegerType, LongType)
        .contains(f.dataType) => f.name
    }.toSeq,
      fields.collect { case f if f.dataType == StringType => f.name }.toSeq)
  }

  /** Build and persist the sidecars for freshly committed files. ONE
    * job over exactly those files; the driver receives (file, bloom
    * bytes per column) — O(files), each bloom ~100 KiB at the default
    * sizing. Runs AFTER the manifest publish: a crash in between
    * leaves files without sidecars, which is the sound fallback. */
  def write(spark: SparkSession, dir: String, names: Seq[String],
      schema: StructType): Unit =
    // never throw: the snapshot is ALREADY published when this runs —
    // surfacing a sidecar failure as a commit failure would invite the
    // caller to retry an append that succeeded (double-apply); missing
    // sidecars merely degrade those files to the discovery scan
    try writeOrThrow(spark, dir, names, schema)
    catch {
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"bloom sidecar build failed for $dir (files degrade to " +
            s"discovery-scan candidates): $e")
    }

  private def writeOrThrow(spark: SparkSession, dir: String,
      names: Seq[String], schema: StructType): Unit = {
    val (longCols, strCols) = channels(spark, dir, schema)
    if ((longCols.isEmpty && strCols.isEmpty) || names.isEmpty) return
    // size filters for the LARGEST committed file's row count (from
    // the parquet footers already on the driver's metadata path — no
    // data pass): one shared size keeps the build a single aggregate,
    // right-sizes sidecars (a 100k-item bloom for a 200-row file would
    // make probing O(files × 100 KiB)), and only ever errs toward a
    // LOWER false-positive rate for smaller files. Explicit conf wins.
    val items = spark.conf.getOption("spark.sql.graft.bloom.expectedItems")
      .map(_.toLong)
      .getOrElse(math.max(1L, names.map(n =>
        GraftVersions.footer(new java.io.File(GraftVersions.dataDir(dir), n))
          .getBlocks.asScala.map(_.getRowCount).sum).max))
    val fpp = spark.conf.get("spark.sql.graft.bloom.fpp", "0.01").toDouble
    val numBits = BloomFilter.optimalNumOfBits(items, fpp)
    def agg(hashed: org.apache.spark.sql.catalyst.expressions.Expression) =
      org.apache.spark.sql.GraftBridge.column(
        new BloomFilterAggregate(hashed, Literal(items), Literal(numBits))
          .toAggregateExpression())
    val cols: Seq[(String, Column)] =
      longCols.map(c => c -> agg(
        new XxHash64(Seq(Cast(UnresolvedAttribute.quoted(c), LongType)), Seed))) ++
        strCols.map(c => c -> agg(
          new XxHash64(Seq(UnresolvedAttribute.quoted(c)), Seed)))
    val paths = names.map(n =>
      new java.io.File(GraftVersions.dataDir(dir), n).getAbsolutePath)
    val aggCols = cols.map { case (c, a) => a.as(c) }
    val rows = spark.read.schema(schema).parquet(paths: _*)
      .groupBy(input_file_name().as("_graft_file"))
      .agg(aggCols.head, aggCols.tail: _*)
      .collect()
    bloomsDir(dir).mkdirs()
    val seen = scala.collection.mutable.Set[String]()
    rows.foreach { r =>
      val file = r.getString(0).substring(r.getString(0).lastIndexOf('/') + 1)
      seen += file
      cols.map(_._1).zipWithIndex.foreach { case (c, i) =>
        val bytes = r.get(i + 1)
        if (bytes != null)
          java.nio.file.Files.write(sidecar(dir, file, c).toPath,
            bytes.asInstanceOf[Array[Byte]])
      }
    }
    // a committed file with ZERO rows yields no aggregation group; an
    // EMPTY bloom is its exact membership index (proves absence of
    // every value), so point predicates always prune it
    names.filterNot(seen).foreach { file =>
      val out = new java.io.ByteArrayOutputStream()
      BloomFilter.create(items, fpp).writeTo(out)
      cols.map(_._1).foreach { c =>
        java.nio.file.Files.write(sidecar(dir, file, c).toPath,
          out.toByteArray)
      }
    }
  }

  /** Drop the files whose blooms PROVE they hold no candidate value —
    * the point-skipping half of touched-file discovery. `files` are
    * full paths; point sets come from
    * [[org.apache.spark.sql.GraftBridge.conjunctLongPoints]] /
    * `conjunctStrPoints`. An EMPTY point set means the predicate's
    * recognized conjuncts are jointly unsatisfiable — no file can
    * match. Missing sidecars keep the file (sound).
    *
    * CHANNEL SOUNDNESS (ADVICE r13): a constraint is honored only when
    * its literal channel matches the column's declared type in
    * `schema` — `col("strCol") === 5` (valid via Spark's implicit
    * casts) extracts a LONG point on a STRING column, and probing the
    * string-channel sidecar with the long hash would ALWAYS miss,
    * unsoundly pruning files that hold matching rows. Sidecars are
    * built from the same schema split ([[channels]]), so type match ⇒
    * channel match. The same guard gates the empty-set
    * unsatisfiability shortcut: `intCol === "7" AND intCol === "07"`
    * intersects to an empty STRING set, yet both conjuncts cast to
    * intCol = 7 — only a type-matched empty set (where equality against
    * two distinct literals really is vacuous) proves no file matches.
    * Mismatched constraints are dropped, leaving files candidates. */
  def prune(dir: String, files: Seq[String],
      longPtsRaw: Map[String, Set[Long]],
      strPtsRaw: Map[String, Set[String]],
      schema: => StructType): Seq[String] = {
    if (longPtsRaw.isEmpty && strPtsRaw.isEmpty) return files
    if (files.isEmpty) return files
    // no sidecars AND no unsat candidate ⇒ nothing this channel can
    // prune — skip the schema read entirely (the common bloom-less
    // table pays zero here)
    if (!bloomsDir(dir).isDirectory &&
      !(longPtsRaw.values ++ strPtsRaw.values).exists(_.isEmpty))
      return files
    val s = schema
    def typeOf(c: String) = s.fields.find(_.name == c).map(_.dataType)
    val longPts = longPtsRaw.filter { case (c, _) =>
      typeOf(c).exists(Seq(ByteType, ShortType, IntegerType, LongType).contains)
    }
    val strPts = strPtsRaw.filter { case (c, _) =>
      typeOf(c).contains(StringType)
    }
    if (longPts.isEmpty && strPts.isEmpty) return files
    if ((longPts.values ++ strPts.values).exists(_.isEmpty)) return Seq.empty
    if (!bloomsDir(dir).isDirectory) return files
    val cache = scala.collection.mutable.Map[String, Option[BloomFilter]]()
    def bloom(file: String, col: String): Option[BloomFilter] =
      cache.getOrElseUpdate(s"$file $col", {
        val f = sidecar(dir, file, col)
        if (f.isFile)
          Some(BloomFilter.readFrom(java.nio.file.Files.readAllBytes(f.toPath)))
        else None
      })
    files.filter { p =>
      val n = p.substring(p.lastIndexOf('/') + 1)
      longPts.forall { case (c, vs) =>
        bloom(n, c).forall(b => vs.exists(v =>
          b.mightContainLong(XxHash64Function.hash(v, LongType, Seed))))
      } && strPts.forall { case (c, vs) =>
        bloom(n, c).forall(b => vs.exists(v =>
          b.mightContainLong(
            XxHash64Function.hash(UTF8String.fromString(v), StringType, Seed))))
      }
    }
  }

  /** Remove every sidecar of a vacuumed data file — called from
    * [[GraftVersions.expire]] next to the data-file delete, so the
    * sidecar store never outgrows the live file set. */
  def dropSidecars(dir: String, dataFile: String): Unit = {
    val bdir = bloomsDir(dir)
    if (bdir.isDirectory) {
      Option(bdir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith(dataFile + "."))
        .foreach(_.delete())
    }
  }

  /** Sweep sidecars whose data file is GONE — a crash between a
    * vacuum's data-file delete and its sidecar delete strands them
    * (harmless to reads, but the store would grow monotonically).
    * Called at the end of expire; one directory listing each side. */
  def sweepOrphans(dir: String): Unit = {
    val bdir = bloomsDir(dir)
    if (!bdir.isDirectory) return
    val live = Option(GraftVersions.dataDir(dir).listFiles())
      .getOrElse(Array.empty).map(_.getName).toSet
    Option(bdir.listFiles()).getOrElse(Array.empty)
      .filter { f =>
        val n = f.getName
        // <dataFile>.<col>.bloom — strip the two suffix segments
        n.endsWith(".bloom") && {
          val base = n.dropRight(".bloom".length)
          val cut = base.lastIndexOf('.')
          cut > 0 && !live.contains(base.substring(0, cut))
        }
      }
      .foreach(_.delete())
  }
}
