package graft.sources

import java.util.OptionalLong

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.connector.read.{Batch, Scan, Statistics, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.StructType

/** Table-level CBO statistics for graft versioned tables — the seam
  * behind `ANALYZE TABLE … COMPUTE STATISTICS` (VERDICT r13 #3):
  * Trino annotates every plan node with `Estimates:{rows, cpu,
  * memory, network}` and picks REPLICATED vs PARTITIONED join
  * distribution from them (reference: results/q003/workers-1/
  * explain.txt:7); Spark's DSv2 equivalent is the scan reporting
  * [[Statistics]] through [[SupportsReportStatistics]], which the
  * planner compares against `autoBroadcastJoinThreshold` with no hint.
  *
  * The ANALYZE command persists `{rows, bytes, cols:{name:{ndv,
  * nulls, min?, max?}}}` as `_stats.json` in the table directory (one
  * aggregate pass at ANALYZE time — stats are a durable property of
  * the table, like Trino's ANALYZE into the metastore). At scan time
  * [[GraftStatsScan]] multiplies the stored totals by the PUSHED
  * conjuncts' estimated selectivity (equality → 1/ndv, IN → n/ndv,
  * ranges → min/max interpolation, IS NOT NULL → null fraction) — so
  * a 50 MB dimension filtered to 1/ndv of its rows reports kilobytes
  * and BROADCASTS, while the same join without the ANALYZE record
  * falls back to the file-size estimate and shuffles: the stored
  * stats, not a hint, flip the distribution choice (plan-gated in
  * CboStatsSpec at two SFs). Absent or stale-schema records degrade
  * to the delegate's file-size estimate — stats are advisory, never
  * correctness-bearing. */
private[graft] object GraftTableStats {

  final case class ColStat(ndv: Long, nulls: Long,
      min: Option[Double], max: Option[Double])
  /** `version` = the snapshot ANALYZE ran against: a record from an
    * older snapshot is STALE and must not drive planning (a dimension
    * analyzed small then grown 1000× would otherwise keep
    * broadcasting — the one direction a wrong estimate is dangerous). */
  final case class TableStats(rows: Long, bytes: Long,
      cols: Map[String, ColStat], version: Long)

  private val mapper = new ObjectMapper()

  private def statsFile(dir: String) = new java.io.File(dir, "_stats.json")

  def write(dir: String, st: TableStats): Unit = {
    val root = mapper.createObjectNode()
    root.put("rows", st.rows)
    root.put("bytes", st.bytes)
    root.put("version", st.version)
    val cols = mapper.createObjectNode()
    st.cols.foreach { case (c, cs) =>
      val n = mapper.createObjectNode()
      n.put("ndv", cs.ndv); n.put("nulls", cs.nulls)
      cs.min.foreach(v => n.put("min", v))
      cs.max.foreach(v => n.put("max", v))
      cols.set[ObjectNode](c, n)
    }
    root.set[ObjectNode]("cols", cols)
    java.nio.file.Files.write(statsFile(dir).toPath,
      mapper.writeValueAsBytes(root))
  }

  /** The scan a versioned table's [[GraftDppScanBuilder]] builds over
    * snapshot `version`: with an ANALYZE record of that snapshot, its
    * reported statistics are the stored totals scaled by the pushed
    * filters' selectivity. A record measures one snapshot only: a read
    * of any other — a later commit (append/merge/compact/restore) or an
    * earlier one (`VERSION AS OF`) — falls back to the file-size
    * estimate. Either way the scan keeps runtime filtering — a
    * versioned fact must not lose DPP just because it is versioned. */
  def scan(dir: String, version: Int)(parquet: ParquetScan): Scan = read(dir) match {
    case Some(st) if st.version == version =>
      new GraftStatsScan(parquet, st)
    case _ => new GraftDppScan(parquet)
  }

  def read(dir: String): Option[TableStats] = {
    val f = statsFile(dir)
    if (!f.isFile) return None
    try {
      val root = mapper.readTree(java.nio.file.Files.readAllBytes(f.toPath))
      val cols = Option(root.get("cols")).map { cn =>
        cn.fieldNames().asScala.map { c =>
          val n = cn.get(c)
          c -> ColStat(n.get("ndv").asLong, n.get("nulls").asLong,
            Option(n.get("min")).map(_.asDouble),
            Option(n.get("max")).map(_.asDouble))
        }.toMap
      }.getOrElse(Map.empty)
      Some(TableStats(root.get("rows").asLong, root.get("bytes").asLong,
        cols, Option(root.get("version")).map(_.asLong).getOrElse(-1L)))
    } catch { case scala.util.control.NonFatal(_) => None } // stats advisory
  }

  def drop(dir: String): Unit = { statsFile(dir).delete(); () }

  /** Estimated fraction of rows surviving the conjuncts — the same
    * independence-assumption arithmetic Trino's and Spark's CBO both
    * apply. Unknown shapes contribute 1.0 (no reduction — an estimate
    * may only be wrong toward LARGER, which costs a missed broadcast,
    * never a blown-up one). */
  def selectivity(st: TableStats, conjuncts: Seq[Expression]): Double = {
    def litD(v: Any): Option[Double] = v match {
      case n: Number => Some(n.doubleValue())
      case d: org.apache.spark.sql.types.Decimal => Some(d.toDouble)
      case _ => None
    }
    def eq(name: String): Double =
      st.cols.get(name).map(c => 1.0 / math.max(1L, c.ndv)).getOrElse(1.0)
    def range(name: String, v: Double, above: Boolean): Double =
      st.cols.get(name) match {
        case Some(ColStat(_, _, Some(lo), Some(hi))) if hi > lo =>
          val frac = if (above) (hi - v) / (hi - lo) else (v - lo) / (hi - lo)
          math.min(1.0, math.max(0.0, frac))
        case _ => 1.0
      }
    def one(e: Expression): Double = e match {
      case EqualTo(a: AttributeReference, _: Literal) => eq(a.name)
      case EqualTo(_: Literal, a: AttributeReference) => eq(a.name)
      case In(a: AttributeReference, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        math.min(1.0, vs.size * eq(a.name))
      case GreaterThan(a: AttributeReference, Literal(v, _)) =>
        litD(v).map(range(a.name, _, above = true)).getOrElse(1.0)
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        litD(v).map(range(a.name, _, above = true)).getOrElse(1.0)
      case LessThan(a: AttributeReference, Literal(v, _)) =>
        litD(v).map(range(a.name, _, above = false)).getOrElse(1.0)
      case LessThanOrEqual(a: AttributeReference, Literal(v, _)) =>
        litD(v).map(range(a.name, _, above = false)).getOrElse(1.0)
      case GreaterThan(Literal(v, _), a: AttributeReference) =>
        litD(v).map(range(a.name, _, above = false)).getOrElse(1.0)
      case LessThan(Literal(v, _), a: AttributeReference) =>
        litD(v).map(range(a.name, _, above = true)).getOrElse(1.0)
      case IsNotNull(a: AttributeReference) =>
        st.cols.get(a.name).map(c =>
          if (st.rows == 0) 1.0
          else (st.rows - c.nulls).toDouble / st.rows).getOrElse(1.0)
      case And(l, r) => one(l) * one(r)
      case Or(l, r) => math.min(1.0, one(l) + one(r))
      case _ => 1.0
    }
    math.min(1.0, math.max(1e-9, conjuncts.map(one).product))
  }
}

/** Scan wrapper reporting ANALYZE-derived, selectivity-scaled
  * statistics; execution AND runtime filtering (DPP) delegate to the
  * [[GraftDppScan]] machinery — a stats record must never cost the
  * scan its dynamic pruning. */
private[graft] class GraftStatsScan(scan: ParquetScan,
    st: GraftTableStats.TableStats)
  extends GraftDppScan(scan) {

  override def description(): String =
    s"GraftStats(rows=${st.rows},bytes=${st.bytes})(${super.description()})"

  override def estimateStatistics(): Statistics = {
    val sel = GraftTableStats.selectivity(st, delegate.dataFilters)
    val rows = math.max(1L, math.round(st.rows * sel))
    val bytes = math.max(1L, math.round(st.bytes * sel))
    new Statistics {
      override def sizeInBytes(): OptionalLong = OptionalLong.of(bytes)
      override def numRows(): OptionalLong = OptionalLong.of(rows)
    }
  }
}
