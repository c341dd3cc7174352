package graft

import org.apache.spark.sql.execution.{FileSourceScanLike, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.col

/** s11 persisted-index gates: the stored index must answer exactly
  * like the freshly-built one (same quantizer, probe rule, rerank),
  * and the probe plan must actually PRUNE — a dynamic partition
  * pruning filter on the cell-partitioned index scan, so unprobed
  * cells' files are skipped at any scale. */
class PersistedAnnSpec extends SparkSpec {

  test("s11 returns exactly s03's results (stored index answers like fresh)") {
    val fresh = SparkEntry.queries("s03_ann_ivf")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val stored = SparkEntry.queries("s11_ann_persisted")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(stored == fresh,
      s"diverging rows: ${stored.zip(fresh).filter(p => p._1 != p._2).take(3)}")
  }

  private def scans(p: SparkPlan): Seq[FileSourceScanLike] = p match {
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case f: FileSourceScanLike => f +: f.children.flatMap(scans)
    case other => other.children.flatMap(scans) ++
      other.subqueries.flatMap(scans)
  }

  private def assertPruned(name: String, marker: String): Unit = {
    val df = SparkEntry.queries(name)(spark, sf2)
    val indexScans = scans(df.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains(marker)))
    assert(indexScans.nonEmpty, s"no scan over the persisted index ($marker) found")
    val pruned = indexScans.filter(_.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning")))
    assert(pruned.nonEmpty,
      s"$name index scan carries no dynamicpruning partition filter:\n" +
        indexScans.map(s => s.partitionFilters.mkString(", ")).mkString("\n"))
  }

  test("s11 probe plan dynamically prunes the cell-partitioned index scan") {
    assertPruned("s11_ann_persisted", "graftindex/s11")
  }

  test("s12 returns exactly s08's results (stored compressed index answers like fresh)") {
    val fresh = SparkEntry.queries("s08_ann_ivfpq")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val stored = SparkEntry.queries("s12_ann_ivfpq_persisted")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(stored == fresh,
      s"diverging rows: ${stored.zip(fresh).filter(p => p._1 != p._2).take(3)}")
  }

  test("s12 probe plan dynamically prunes the cell-partitioned codes scan") {
    assertPruned("s12_ann_ivfpq_persisted", "graftindex/s12")
  }

  test("s14 probe after append equals a full-rebuild probe under pinned centroids") {
    import graft.operators.Similarity
    // running the entry builds the base index, appends the arriving
    // batch against the STORED centroids, and probes the result
    val appended = SparkEntry.queries("s14_ann_persisted_append")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // full rebuild under the SAME frozen centroids: assign every
    // vector (base + batch) in one pass, probe identically — if the
    // append pass assigned or stored anything differently, some
    // (qid, nid, rank) diverges
    val idxDir = Similarity.indexDir(spark, "s14", sf2)
    val cent = spark.read.parquet(s"$idxDir/centroids")
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    val rebuilt = Similarity.probeAssignedCells(
        cent, Similarity.nearestCells(e, cent), e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(appended == rebuilt,
      s"diverging rows: ${appended.zip(rebuilt).filter(p => p._1 != p._2).take(3)}")
    // the append actually appended: stored cells hold the full corpus
    val stored = spark.read.parquet(s"$idxDir/cells")
    assert(stored.count() == e.count(), "stored index is missing vectors")
    val batch = stored.filter(col("vec_id") % 10 === 7 && col("vec_id") >= 10).count()
    assert(batch > 0, "no arriving-batch vectors present after append")
  }

  test("s14 probe plan dynamically prunes the cell-partitioned index scan") {
    assertPruned("s14_ann_persisted_append", "graftindex/s14")
  }

  test("s15 compaction changes layout, not contents: probe equality + one file per cell") {
    import graft.operators.Similarity
    // running the entry builds base + 3 append batches (fragmented),
    // writes the compacted generation, and probes the COMPACTED index
    val compacted = SparkEntry.queries("s15_index_compact")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val idxDir = Similarity.indexDir(spark, "s15", sf2)
    // probing the FRAGMENTED generation must give row-identical results
    val fragmented = Similarity.probeAssignedCells(
        spark.read.parquet(s"$idxDir/centroids"),
        spark.read.parquet(s"$idxDir/cells"),
        spark.read.parquet(s"$sf2/embeddings.parquet")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(compacted == fragmented,
      s"diverging rows: ${compacted.zip(fragmented).filter(p => p._1 != p._2).take(3)}")
    // the fragmented index really was a small-files problem, and the
    // compacted generation really is one file per cell
    def cellFiles(gen: String): Seq[Int] =
      new java.io.File(s"$idxDir/$gen").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cluster="))
        .map(_.listFiles().count(_.getName.endsWith(".parquet"))).toSeq
    val before = cellFiles("cells")
    val after = cellFiles("cells_g2")
    assert(before.nonEmpty && before.exists(_ > 1),
      s"append batches left no multi-file cell to compact: $before")
    assert(after.nonEmpty && after.forall(_ == 1),
      s"compacted generation is not one file per cell: $after")
  }

  test("s15 probe plan dynamically prunes the compacted index scan") {
    assertPruned("s15_index_compact", "graftindex/s15")
  }

  test("s18 delete: probe equals a rebuild without the deleted vectors; compaction folds tombstones") {
    import graft.operators.Similarity
    // running the entry builds the index, tombstones the vec_id%10==3
    // slice, compacts, and probes the compacted generation
    val res = SparkEntry.queries("s18_index_delete")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val idxDir = Similarity.indexDir(spark, "s18", sf2)
    val cent = spark.read.parquet(s"$idxDir/centroids")
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    val deleted = col("vec_id") % 10 === 3 && col("vec_id") >= 10
    // (1) semantic equivalence: deletion under a frozen quantizer ≡
    // an index that never contained the deleted vectors
    val rebuilt = Similarity.probeAssignedCells(
        cent, Similarity.nearestCells(e.filter(!deleted), cent), e).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(res == rebuilt,
      s"diverging rows: ${res.zip(rebuilt).filter(p => p._1 != p._2).take(3)}")
    // (2) the metadata-only phase answers identically: probe of the
    // FRAGMENTED generation under the tombstone anti-join mask
    val masked = Similarity.probeAssignedCells(cent,
        spark.read.parquet(s"$idxDir/cells"), e,
        tombstones = Some(spark.read.parquet(s"$idxDir/tombstones"))).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(masked == res,
      s"tombstone-masked probe diverges from compacted probe: " +
        s"${masked.zip(res).filter(p => p._1 != p._2).take(3)}")
    // (3) compaction physically dropped every tombstoned row, and the
    // tombstone relation is O(deleted), not O(corpus)
    val g2 = spark.read.parquet(s"$idxDir/cells_g2")
    assert(g2.filter(deleted).count() == 0,
      "compacted generation still contains tombstoned vectors")
    val nDeleted = e.filter(deleted).count()
    assert(spark.read.parquet(s"$idxDir/tombstones").count() == nDeleted,
      "tombstone relation is not exactly the deleted-id set")
    assert(g2.count() == e.count() - nDeleted,
      "compacted generation lost or kept the wrong number of vectors")
  }

  test("s18 probe plan dynamically prunes the compacted index scan") {
    assertPruned("s18_index_delete", "graftindex/s18")
  }

  test("s19 probe after compressed append equals a frozen-state re-encode of the full corpus") {
    import graft.operators.Similarity
    // running the entry trains on the base corpus, persists, encodes
    // the arriving batch under the STORED centroids + codebook,
    // appends, and probes
    val appended = SparkEntry.queries("s19_ivfpq_append")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val idxDir = Similarity.indexDir(spark, "s19", sf2)
    val cent = spark.read.parquet(s"$idxDir/centroids")
    val cb = spark.read.parquet(s"$idxDir/codebook")
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    // frozen-state re-encode of EVERY vector (base + batch): if the
    // append pass assigned, residual-coded, or stored anything
    // differently — including any base-code drift — some row diverges
    val rebuilt = Similarity.ivfPqProbe(e, cent, cb,
        Similarity.ivfPqEncodeCells(e, cent, cb)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(appended == rebuilt,
      s"diverging rows: ${appended.zip(rebuilt).filter(p => p._1 != p._2).take(3)}")
    // the append actually appended compressed rows for the batch
    val codes = spark.read.parquet(s"$idxDir/codes")
    assert(codes.count() == e.count(), "stored codes are missing vectors")
    assert(codes.filter(col("vec_id") % 10 === 7 && col("vec_id") >= 10).count() > 0,
      "no arriving-batch codes present after append")
  }

  test("s19 probe plan dynamically prunes the cell-partitioned codes scan") {
    assertPruned("s19_ivfpq_append", "graftindex/s19")
  }

  test("batch probe over the stored index self-retrieves every query and prunes cells") {
    import graft.operators.Similarity
    // build s11's index, then probe it with a WIDE query relation (the
    // serving shape `Harness families` measures) instead of the
    // entries' fixed vec_id < 10 harness set
    SparkEntry.queries("s11_ann_persisted")(spark, sf2).collect()
    val idxDir = Similarity.indexDir(spark, "s11", sf2)
    val queries = spark.read.parquet(s"$sf2/embeddings.parquet")
      .filter(col("vec_id") % 4 === 1)
      .select(col("vec_id"), col("embedding"))
    val nQ = queries.count()
    assert(nQ >= 10, s"query batch unexpectedly small ($nQ)")
    val res = Similarity.probeStoredCellsBatch(spark, idxDir, queries)
    // plan gate: the cells scan still carries the dynamicpruning
    // partition filter with a broadcast query relation this wide
    val indexScans = scans(res.queryExecution.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graftindex/s11")))
    assert(indexScans.exists(_.partitionFilters.exists(
      _.toString.toLowerCase.contains("dynamicpruning"))),
      "batch probe cells scan carries no dynamicpruning partition filter")
    val rows = res.collect()
    assert(rows.length == nQ * 5, s"expected ${nQ * 5} rows, got ${rows.length}")
    // routing gate: every query's own vector lives in one of its probed
    // cells (assignment and probe rank centroids identically), so the
    // top-1 cosine must be the self-match's ~1.0 — a mis-routed query
    // would surface an unrelated sub-1 neighbor instead
    val top1 = rows.filter(_.getInt(2) == 1)
      .map(r => r.getLong(0) -> r.getAs[Number](3).doubleValue())
    assert(top1.length == nQ)
    val misrouted = top1.filter(_._2 < 1.0 - 1e-6)
    assert(misrouted.isEmpty,
      s"queries whose top-1 is not a self/duplicate match: ${misrouted.take(5).toSeq}")
  }
}
