package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** The CDF → index-maintenance composition
  * (DocsStreaming.bandIndexMaintenance): a versioned documents table's
  * change feed drives incremental MinHash band-index appends, so the
  * dedup index tracks the table at each commit's delta cost. Gates:
  * stream-built ≡ batch-built probes, append-on-commit, checkpoint
  * restart idempotence, and at-least-once replay tolerance. */
class CdfIndexSpec extends SparkSpec {

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0),
      if (r.isNullAt(1)) None else Some(r.getLong(1)),
      if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq

  test("CDF stream maintains the band index across table commits") {
    val root = tempDir("graft_cdfix").toString
    spark.conf.set("spark.sql.graft.root", root)
    val idx = tempDir("graft_cdfix_idx").toString
    val ck = tempDir("graft_cdfix_ck").toString
    val docs = Tables.documents(spark, sf2).select(col("doc_id"), col("text"))
    val isBatch = col("doc_id") % 10 >= 8
    docs.filter(!isBatch).createOrReplaceTempView("cdfix_src")
    spark.sql("""CREATE TABLE psql.tpcds.cdfix
                |TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM cdfix_src""".stripMargin)
    val tableDir = s"$root/cdfix.parquet"
    val batch = docs.filter(isBatch)

    // phase 1: the stream indexes the initial snapshot; probing the
    // arriving batch against the STREAM-built index must equal the
    // d23 entry's batch-built result exactly
    val q = graft.streaming.DocsStreaming
      .bandIndexMaintenance(spark, tableDir, idx)
      .option("checkpointLocation", ck)
      .start()
    try q.processAllAvailable() finally q.stop()
    val streamed = rows(Dedup.probeBandIndex(spark, idx, docs, batch))
    val batchBuilt = rows(
      SparkEntry.queries("d23_incremental_minhash")(spark, sf2))
    assert(streamed == batchBuilt,
      s"stream-built index diverges: ${streamed.zip(batchBuilt)
        .filter(p => p._1 != p._2).take(3)}")

    // phase 2: commit the batch INTO the table; a restarted stream
    // (same checkpoint) resumes mid-ledger and appends only the delta
    def bandFiles() = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(s"$idx/bands"))
        .map(_.getName).filter(_.endsWith(".parquet")).toSet
    }
    val before = bandFiles()
    batch.createOrReplaceTempView("cdfix_batch")
    spark.sql("INSERT INTO psql.tpcds.cdfix SELECT * FROM cdfix_batch")
    val q2 = graft.streaming.DocsStreaming
      .bandIndexMaintenance(spark, tableDir, idx)
      .option("checkpointLocation", ck)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    val after = bandFiles()
    assert(before.subsetOf(after) && after.size > before.size,
      "append must add band files without touching existing ones")
    // every ≥2-word batch doc now matches ITSELF in the index at
    // jaccard 1.0 (self is always the max; ties break to lowest id,
    // and the corpus has no exact duplicates at this SF)
    val shingleable = batch
      .filter(size(split(col("text"), " ")) >= 2)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val probed = rows(Dedup.probeBandIndex(spark, idx, docs, batch))
    probed.foreach { case (id, m, j) =>
      if (shingleable(id))
        assert(m.contains(id) && j.contains(1.0), s"doc $id: m=$m j=$j")
      else assert(m.isEmpty, s"shingle-less doc $id matched $m")
    }

    // phase 3: an at-least-once REPLAY (the same delta appended again)
    // must not change any probe answer — duplicates are dedup'd at
    // candidate granularity by construction
    Dedup.buildBandIndex(spark, batch, idx, append = true)
    val replayed = rows(Dedup.probeBandIndex(spark, idx, docs, batch))
    assert(replayed == probed, "replayed append changed probe answers")

    // phase 4: a third restart with NO new commits appends nothing
    // (offsets resume past the ledger tip)
    val stable = bandFiles()
    val q3 = graft.streaming.DocsStreaming
      .bandIndexMaintenance(spark, tableDir, idx)
      .option("checkpointLocation", ck)
      .start()
    try q3.processAllAvailable() finally q3.stop()
    assert(bandFiles() == stable, "idle restart must append nothing")
  }

  test("row-level CDF maintenance re-indexes only the changed document") {
    val root = tempDir("graft_cdfrl").toString
    spark.conf.set("spark.sql.graft.root", root)
    val idx = tempDir("graft_cdfrl_idx").toString
    val ck = tempDir("graft_cdfrl_ck").toString
    Tables.documents(spark, sf1).select(col("doc_id"), col("text"))
      .createOrReplaceTempView("cdfrl_src")
    spark.sql("""CREATE TABLE psql.tpcds.cdfrl
                |TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM cdfrl_src""".stripMargin)
    val tableDir = s"$root/cdfrl.parquet"
    def run(): Unit = {
      val q = graft.streaming.DocsStreaming
        .bandIndexMaintenance(spark, tableDir, idx, rowLevel = true)
        .option("checkpointLocation", ck)
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    run() // initial snapshot indexes as inserts
    def bandRowsByDoc(): Map[Long, Long] =
      spark.read.parquet(s"$idx/bands").groupBy(col("doc_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = bandRowsByDoc()
    assert(before.nonEmpty)
    // a copy-on-write UPDATE rewrites a whole FILE; the row-level feed
    // must re-index ONLY the one changed document — the file feed
    // would re-append signatures for every row of the rewritten file
    val target = before.keySet.min
    spark.sql(s"""UPDATE psql.tpcds.cdfrl
                 |SET text = text || ' freshly rewritten marker token'
                 |WHERE doc_id = $target""".stripMargin)
    run()
    val after = bandRowsByDoc()
    val grown = after.filter { case (id, n) => n > before.getOrElse(id, 0L) }
    assert(grown.keySet == Set(target),
      s"expected only doc $target re-indexed, grew: ${grown.keySet}")
    assert(after.filterNot(_._1 == target) == before.filterNot(_._1 == target),
      "untouched documents gained band rows")
  }
}
