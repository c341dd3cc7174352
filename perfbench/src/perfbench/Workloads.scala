package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{QueryEntry, SparkEntry}

/** One benchmark operation. A face operation sends SQL text over the
  * statement face; a frame operation calls a builder that returns a
  * DataFrame (running any DDL and DML on the way) and then drains it. */
sealed trait Op { def name: String }
final case class FaceOp(name: String, sql: String) extends Op
final case class FrameOp(name: String, build: (SparkSession, String) => DataFrame,
    writes: Boolean = false) extends Op

/** The operations of each workload, and the per-session preparation they
  * need. Roots for everything the engine writes are given by the caller,
  * so a run touches only its own work directory. */
final class Workloads(dataDir: String, workDir: String) {
  val lakeRoot = s"$workDir/lake"
  val indexRoot = s"$workDir/index"
  val spoolRoot = s"$workDir/spool"

  private def entry(name: String): QueryEntry =
    SparkEntry.allEntries.find(_.name == name)
      .getOrElse(sys.error(s"no entry named $name"))

  /** Canonical rows of an entry's own builder, run directly. */
  def entryRows(spark: SparkSession, name: String): Seq[String] =
    entry(name).build(spark, dataDir).collect().toSeq.map(Canon.rowText)

  /** The loader's catalog placement: relational tables in the parquet
    * catalog `psql`, the second store's facts behind the mongodb wire
    * catalog, the corpus behind the elastic wire catalog. */
  val placement: Seq[(String, String)] = Seq(
    "region" -> "psql.tpcds.region", "nation" -> "psql.tpcds.nation",
    "customer" -> "psql.tpcds.customer", "supplier" -> "psql.tpcds.supplier",
    "part" -> "psql.tpcds.part", "lineitem" -> "psql.tpcds.lineitem",
    "orders" -> "mongodb.tpcds.orders", "events" -> "mongodb.tpcds.events",
    "embeddings" -> "mongodb.tpcds.embeddings",
    "documents" -> "elastic.default.documents")

  /** Session confs that keep every engine-written file under the work
    * directory, plus the writable `lake` catalog. */
  def configure(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.graft.root", dataDir)
    spark.conf.set("graft.index.root", indexRoot)
    spark.conf.set("spark.sql.graft.statement.spoolDir", spoolRoot)
    spark.conf.set("spark.sql.catalog.lake", "graft.sources.GraftParquetCatalog")
    spark.conf.set("spark.sql.catalog.lake.pinnedRoot", lakeRoot)
    Seq(lakeRoot, indexRoot, spoolRoot).foreach(d => new java.io.File(d).mkdirs())
  }

  /** Bind the bare table names of the oracle SQL texts to the catalog
    * placement, resolving (and so seeding) each wire catalog once. */
  def bindPlacement(spark: SparkSession): Unit =
    placement.foreach { case (name, table) =>
      spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS SELECT * FROM $table")
      spark.table(name).schema
    }

  def ops(workload: String): Seq[Op] = workload match {
    case "federated-sql" =>
      Workloads.federated.map(n => FaceOp(n, entry(n).oracle.get))
    case "llm-pipeline" =>
      Workloads.pipeline.map(n => FrameOp(n, entry(n).build)) :+ deleteUpdate
    case other => sys.error(s"unknown workload $other")
  }

  // ---- lakehouse verbs over the `lake` catalog ----------------------- //

  /** Versioned-table source: `orders` reshaped to (k, name, grp). */
  private def src(s: SparkSession, d: String): Unit =
    s.read.parquet(s"$d/orders.parquet")
      .select(col("o_orderkey").as("k"), col("o_orderpriority").as("name"),
        (col("o_custkey") % 5).cast("int").as("grp"))
      .createOrReplaceTempView("lake_src")

  private def ctas(s: SparkSession, t: String, files: Int): Unit = {
    s.sql(s"DROP TABLE IF EXISTS lake.tpcds.$t")
    s.sql(s"""CREATE TABLE lake.tpcds.$t TBLPROPERTIES('versioned'='true')
             |AS SELECT /*+ REPARTITION($files, k) */ * FROM lake_src""".stripMargin)
  }

  private def version(s: SparkSession, t: String, v: Option[Int], label: Int): DataFrame =
    s.sql(s"""SELECT $label AS version, COUNT(*) AS n_rows,
             |CAST(SUM(k) AS BIGINT) AS key_sum,
             |SUM(CASE WHEN name LIKE '%\\_u' THEN 1 ELSE 0 END) AS n_updated
             |FROM lake.tpcds.$t ${v.map(x => s"VERSION AS OF $x").getOrElse("")}""".stripMargin)

  private def lake(name: String)(body: (SparkSession, String) => DataFrame): FrameOp =
    FrameOp(name, (s, d) => { src(s, d); body(s, d) }, writes = true)

  /** The pipeline's output stage: copy-on-write DELETE and UPDATE on a
    * versioned table, every snapshot read back by time travel. */
  val deleteUpdate: FrameOp = lake("lw_delete_update") { (s, _) =>
    ctas(s, "du", 4)
    s.sql("DELETE FROM lake.tpcds.du WHERE grp = 2")
    s.sql("UPDATE lake.tpcds.du SET name = name || '_u' WHERE grp = 1")
    (1 to 3).map(v => version(s, "du", Some(v), v)).reduce(_ unionAll _)
  }
}

object Workloads {
  /** q-family oracle texts sent over the statement face: the relational
    * tables in psql, `orders` and `events` over the mongodb wire,
    * `documents` over the elastic wire. */
  val federated: Seq[String] = Seq(
    "q02_scan_group_agg", "q04_left_join_case_agg", "q44_tpch_q18",
    "q84_mongo_events_range", "q85_elastic_runtime_filter")

  /** Read-only DataFrame entries of the dedup, similarity and pipeline
    * families, chosen so that their latencies are well apart (the pooled
    * percentiles then sit inside one operation's samples). */
  val pipeline: Seq[String] = Seq(
    "d04_simhash", "d13_winnowing", "s02_ann_lsh", "p09_bpe_encode")

}
