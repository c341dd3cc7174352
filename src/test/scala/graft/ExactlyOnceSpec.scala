package graft

import org.apache.spark.sql.functions._

import graft.sources.GraftVersions
import graft.streaming.DocsStreaming

/** Exactly-once microbatch ingest (the `#txn` manifest header):
  * foreachBatch is at-least-once — a crash between the table commit
  * and the checkpoint write REPLAYS the last batch, so without an
  * idempotence token atomic with the commit, appends double-apply.
  * These gates drive the sink functions directly with replayed batch
  * ids (the deterministic form of the crash-replay interleaving) and
  * through a live checkpointed stream. */
class ExactlyOnceSpec extends SparkSpec {

  private def kRows(table: String): Seq[Int] =
    spark.sql(s"SELECT k FROM psql.tpcds.$table").collect()
      .map(_.getInt(0)).toSeq.sorted

  test("replayed append batches commit exactly once") {
    val root = freshRoot("graft_xo")
    import spark.implicits._
    Seq((0, "seed")).toDF("k", "v").createOrReplaceTempView("xo_src")
    spark.sql("""CREATE TABLE psql.tpcds.xo1 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM xo_src""".stripMargin)
    val dir = s"$root/xo1.parquet"
    val sink = DocsStreaming.idempotentAppendSink(dir, "writerA")
    val b0 = Seq((1, "b0")).toDF("k", "v")
    val b1 = Seq((2, "b1")).toDF("k", "v")
    sink(b0, 0L)
    sink(b0, 0L) // crash-replay of batch 0: must be a no-op
    sink(b1, 1L)
    sink(b1, 1L) // and of batch 1
    assert(kRows("xo1") == Seq(0, 1, 2), s"double-applied: ${kRows("xo1")}")
    assert(GraftVersions.current(dir) == 3, "replays must not commit")
    assert(GraftVersions.lastTxn(dir, "writerA").contains(1L))
    // a STALE batch (id below the high-water mark) is also skipped —
    // the restarted-from-old-checkpoint shape
    sink(Seq((9, "stale")).toDF("k", "v"), 0L)
    assert(kRows("xo1") == Seq(0, 1, 2))
  }

  test("merge sink is idempotent and ledgers are per-writer") {
    val root = freshRoot("graft_xo")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("xo_src2")
    spark.sql("""CREATE TABLE psql.tpcds.xo2 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM xo_src2""".stripMargin)
    val dir = s"$root/xo2.parquet"
    val a = DocsStreaming.idempotentMergeSink(dir, "k", "writerA")
    val b = DocsStreaming.idempotentMergeSink(dir, "k", "writerB")
    a(Seq((1, "A0"), (3, "new")).toDF("k", "v"), 0L)
    val v = GraftVersions.current(dir)
    a(Seq((1, "A0"), (3, "new")).toDF("k", "v"), 0L) // replay: no-op
    assert(GraftVersions.current(dir) == v)
    // an INDEPENDENT writer's batch 0 must still apply
    b(Seq((2, "B0")).toDF("k", "v"), 0L)
    assert(spark.sql("SELECT k, v FROM psql.tpcds.xo2").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "A0"), (2, "B0"), (3, "new")))
    assert(GraftVersions.lastTxn(dir, "writerA").contains(0L))
    assert(GraftVersions.lastTxn(dir, "writerB").contains(0L))
    assert(GraftVersions.lastTxn(dir, "writerC").isEmpty)
  }

  test("retention does not forget the idempotence ledger") {
    val root = freshRoot("graft_xo")
    import spark.implicits._
    Seq((0, "seed")).toDF("k", "v").createOrReplaceTempView("xo_src3")
    spark.sql("""CREATE TABLE psql.tpcds.xo3 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM xo_src3""".stripMargin)
    val dir = s"$root/xo3.parquet"
    val sink = DocsStreaming.idempotentAppendSink(dir, "writerA")
    (0 to 3).foreach(i => sink(Seq((i + 1, s"b$i")).toDF("k", "v"), i.toLong))
    // expire everything but the newest snapshot: the txn headers of
    // expired versions survive in their tombstones
    GraftVersions.expire(dir, 1, 0L)
    assert(GraftVersions.lastTxn(dir, "writerA").contains(3L))
    sink(Seq((99, "replay")).toDF("k", "v"), 3L) // replay after expire
    assert(kRows("xo3") == Seq(0, 1, 2, 3, 4))
  }

  test("auto-compaction bounds the file count under many small appends") {
    val root = freshRoot("graft_xo")
    import spark.implicits._
    Seq((0, "seed")).toDF("k", "v").createOrReplaceTempView("xo_src5")
    spark.sql("""CREATE TABLE psql.tpcds.xo5 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM xo_src5""".stripMargin)
    val dir = s"$root/xo5.parquet"
    spark.conf.set("spark.sql.graft.autoCompact.minSmallFiles", "4")
    try {
      val sink = DocsStreaming.idempotentAppendSink(dir, "writerC")
      (0 until 12).foreach(i =>
        sink(Seq((i + 1, s"b$i")).toDF("k", "v"), i.toLong))
      // 12 one-file appends would leave 13 files; the auto pass folds
      // whenever ≥4 smalls accumulate, so the live manifest stays small
      val cur = GraftVersions.current(dir)
      val files = GraftVersions.manifest(dir, cur).size
      assert(files <= 4, s"auto-compact left $files files")
      assert(kRows("xo5") == (0 to 12), s"rows lost: ${kRows("xo5")}")
      // compaction commits are LAYOUT-ONLY: the exactly-once ledger
      // still reads the append high-water mark and replays still skip
      assert(GraftVersions.lastTxn(dir, "writerC").contains(11L))
      sink(Seq((99, "replay")).toDF("k", "v"), 11L)
      assert(kRows("xo5") == (0 to 12))
      // at least one auto fold actually happened, marked layout-only
      val layoutVersions = (1 to cur).filter(v =>
        GraftVersions.isLive(dir, v) && GraftVersions.Snapshot(dir, v).layoutOnly)
      assert(layoutVersions.nonEmpty, "no auto-compaction commit found")
    } finally spark.conf.unset("spark.sql.graft.autoCompact.minSmallFiles")
  }

  test("a live checkpointed stream lands each batch once") {
    val root = freshRoot("graft_xo")
    import spark.implicits._
    Seq((0, "seed")).toDF("k", "v").createOrReplaceTempView("xo_src4")
    spark.sql("""CREATE TABLE psql.tpcds.xo4 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM xo_src4""".stripMargin)
    val dir = s"$root/xo4.parquet"
    val ck = tempDir("graft_xo_ck").toString
    val mem = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Int, String)](spark)
    val q = DocsStreaming
      .mergeStreamExactlyOnce(dir, "k", "xo4stream", mem.toDF()
        .toDF("k", "v"))
      .option("checkpointLocation", ck)
      .start()
    try {
      mem.addData((1, "s1"))
      q.processAllAvailable()
      mem.addData((2, "s2"), (1, "s1b"))
      q.processAllAvailable()
    } finally q.stop()
    assert(spark.sql("SELECT k, v FROM psql.tpcds.xo4").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((0, "seed"), (1, "s1b"), (2, "s2")))
    // restart from the SAME checkpoint with no new data: recovery may
    // replay the last batch — the table must not change
    val vBefore = GraftVersions.current(dir)
    val q2 = DocsStreaming
      .mergeStreamExactlyOnce(dir, "k", "xo4stream", mem.toDF()
        .toDF("k", "v"))
      .option("checkpointLocation", ck)
      .start()
    try q2.processAllAvailable() finally q2.stop()
    assert(GraftVersions.current(dir) == vBefore,
      "checkpoint recovery replay must not re-commit")
  }
}
