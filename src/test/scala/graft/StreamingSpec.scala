package graft

import graft.streaming.EventsStreaming
import java.nio.file.{Files, Paths, StandardCopyOption}

/** Streaming/batch equivalence: the streaming pipelines must produce the
  * same results as their batch twins on the same bounded input. */
class StreamingSpec extends SparkSpec {

  private lazy val streamDir: String = {
    val dir = tempDir("graft-events").toPath
    Files.copy(Paths.get(s"$sf1/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming hourly agg equals batch e01_events_hourly") {
    val q = EventsStreaming.hourlyAgg(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("hourly_out")
      .collect().map(_.toString).sorted.toSeq
    val batch = operators.Temporal.hourlyAgg(Tables.events(spark, sf1))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("gap sessionizer agrees with Spark's native session_window") {
    import org.apache.spark.sql.functions._
    val native = Tables.events(spark, sf1)
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)))
      .groupBy(col("user_id")).agg(count(lit(1)).as("sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val ours = SparkEntry.queries("e03_sessionize")(spark, sf1)
      .select(col("user_id"), col("sessions"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(native == ours)
  }

  test("streaming dedup within watermark equals batch distinct") {
    import org.apache.spark.sql.functions._
    val q = EventsStreaming.readStream(spark, streamDir)
      .withWatermark("ts", "1 hour")
      .dropDuplicates("user_id", "event_type")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out").start()
    try q.processAllAvailable() finally q.stop()
    // single micro-batch: streaming keeps the first (user, type) row seen;
    // compare the distinct KEY SET with batch semantics
    val streamed = spark.table("dedup_out")
      .select(col("user_id"), col("event_type")).collect()
      .map(_.toString).sorted.toSeq
    val batch = Tables.events(spark, sf1)
      .select(col("user_id"), col("event_type")).distinct().collect()
      .map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming sliding-window agg equals batch e06_sliding_window") {
    val q = operators.Temporal.hourlyAgg( // reuse schema shape via explicit agg below
        EventsStreaming.readStream(spark, streamDir).withWatermark("ts", "2 hours"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_probe").start()
    try q.processAllAvailable() finally q.stop()
    // the dedicated sliding transform:
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.DecimalType
    val q2 = EventsStreaming.readStream(spark, streamDir)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "30 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(12, 2))).cast("double").as("v"))
      .select(col("window.start").as("h"), col("event_type"), col("n"), col("v"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("slide_out").start()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.table("slide_out").collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e06_sliding_window")(spark, sf1)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("stream-stream interval join equals batch band join") {
    import org.apache.spark.sql.functions._
    val signups = EventsStreaming.readStream(spark, streamDir)
      .filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
      .withWatermark("s_ts", "1 hour")
    val follows = EventsStreaming.readStream(spark, streamDir)
      .select(col("event_id").as("f_id"), col("user_id").as("f_user"), col("ts").as("f_ts"))
      .withWatermark("f_ts", "1 hour")
    val q = signups.join(follows,
        col("f_user") === col("s_user") &&
          col("f_ts") > col("s_ts") &&
          col("f_ts") <= col("s_ts") + expr("INTERVAL 5 minutes"))
      .select(col("s_id"), col("f_id"))
      .writeStream.outputMode("append")
      .format("memory").queryName("ssjoin_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("ssjoin_out").collect().map(_.toString).sorted.toSeq
    val ev = Tables.events(spark, sf1)
    val s = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("s_id"), col("user_id").as("s_user"), col("ts").as("s_ts"))
    val batch = s.join(ev,
        col("user_id") === col("s_user") &&
          col("ts") > col("s_ts") &&
          col("ts") <= col("s_ts") + expr("INTERVAL 5 minutes"))
      .select(col("s_id"), col("event_id").as("f_id"))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("foreachBatch sink lands the hourly agg in parquet") {
    val outDir = tempDir("graft-fb").toString
    val q = EventsStreaming.hourlyAgg(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/hourly")
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val landed = spark.read.parquet(s"$outDir/hourly")
      .collect().map(_.toString).sorted.toSeq
    val batchRes = operators.Temporal.hourlyAgg(Tables.events(spark, sf1))
      .collect().map(_.toString).sorted.toSeq
    assert(landed == batchRes)
  }

  test("checkpointed stream resumes across restarts with state intact") {
    import org.apache.spark.sql.functions._
    val inDir = tempDir("graft-ck-in").toString
    val ckDir = tempDir("graft-ck").toString
    val outDir = tempDir("graft-ck-out").toString
    def start() = EventsStreaming.hourlyAgg(EventsStreaming.readStream(spark, inDir))
      .writeStream.outputMode("complete")
      .option("checkpointLocation", ckDir)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/res")
      }
      .start()
    // first file, first run
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf1/events.parquet"),
      java.nio.file.Paths.get(s"$inDir/a.parquet"))
    val q1 = start()
    try q1.processAllAvailable() finally q1.stop()
    // second copy of the data lands while the query is DOWN; the
    // restarted query must recover sources + state from the checkpoint
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf1/events.parquet"),
      java.nio.file.Paths.get(s"$inDir/b.parquet"))
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    val streamed = spark.read.parquet(s"$outDir/res")
      .collect().map(_.toString).sorted.toSeq
    // doubled input => doubled counts/sums
    val batchTwice = operators.Temporal.hourlyAgg(
        Tables.events(spark, sf1).unionByName(Tables.events(spark, sf1)))
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batchTwice)
  }

  test("streaming sessionize equals batch e03_sessionize") {
    val q = EventsStreaming.sessionize(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("sess_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("sess_out")
      .selectExpr("user_id", "sessions", "events")
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e03_sessionize")(spark, sf1)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
  }

  test("streaming LOCF fill equals batch e10_locf_fill") {
    val q = EventsStreaming.locfFill(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("locf_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("locf_out")
      .selectExpr("event_id", "user_id", "filled")
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e10_locf_fill")(spark, sf1)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming transition matrix equals batch e11_transitions") {
    val q = EventsStreaming.transitions(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("complete")
      .format("memory").queryName("trans_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("trans_out")
      .selectExpr("src", "dst", "n")
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e11_transitions")(spark, sf1)
      .selectExpr("src", "dst", "n")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming funnel equals batch e08_funnel") {
    val q = EventsStreaming.funnel(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("funnel_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("funnel_out")
      .selectExpr("user_id", "t1", "t2", "t3")
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e08_funnel")(spark, sf1)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty)
  }

  test("streaming rate-anomaly scorer equals batch e13 on every closed hour") {
    val q = EventsStreaming.rateAnomaly(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("rate_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("rate_out")
      .selectExpr("h", "event_type", "n", "base_mean", "z")
      .collect().map(_.toString).sorted.toSeq
    // a stream cannot close a type's LAST observed hour (no later
    // event arrives to end it), so equate against batch minus exactly
    // those rows
    val batchRows = SparkEntry.queries("e13_rate_anomaly")(spark, sf1).collect()
    val lastHour = batchRows.groupBy(_.getString(1))
      .map { case (t, rs) => t -> rs.map(_.getTimestamp(0).getTime).max }
    val batch = batchRows
      .filterNot(r => lastHour(r.getString(1)) == r.getTimestamp(0).getTime)
      .map(_.toString).sorted.toSeq
    assert(streamed == batch && batch.nonEmpty,
      s"streamed ${streamed.size} rows vs batch ${batch.size}")
  }

  test("streaming CEP pattern matcher equals batch e15 exactly") {
    val q = EventsStreaming.patternMatch(EventsStreaming.readStream(spark, streamDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("cep_out").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cep_out")
      .selectExpr("user_id", "session", "start_rn", "n_views")
      .collect().map(_.toString).sorted.toSeq
    val batch = SparkEntry.queries("e15_pattern_match")(spark, sf1)
      .collect().map(_.toString).sorted.toSeq
    // matches complete at purchase arrival, so no unclosable tail:
    // full equality, not minus-last-window
    assert(streamed == batch && batch.nonEmpty,
      s"streamed ${streamed.size} vs batch ${batch.size}")
  }

  test("streaming CEP match survives a view-run split across micro-batches") {
    import org.apache.spark.sql.functions._
    val inDir = tempDir("graft-cep-in").toString
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    import spark.implicits._
    def write(rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .select(col("event_id"), col("ts").cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.mode("append").parquet(inDir)
    // phase 1: the view-run arrives and is processed; NO match yet
    write(Seq((1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(1), 1L, "view", 1.0, "{}")))
    val q = EventsStreaming.patternMatch(
        spark.readStream.schema(EventsStreaming.rawSchema).parquet(inDir)
          .withColumn("ts", col("ts").cast("timestamp")))
      .writeStream.outputMode("append")
      .format("memory").queryName("cep_split").start()
    try {
      q.processAllAvailable()
      assert(spark.table("cep_split").isEmpty,
        "match emitted before its purchase arrived")
      // phase 2: the adjacent purchase arrives in a LATER micro-batch —
      // the carried run state must complete the match
      write(Seq((3L, ts(2), 1L, "purchase", 1.0, "{}")))
      q.processAllAvailable()
      val got = spark.table("cep_split")
        .selectExpr("user_id", "session", "start_rn", "n_views")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
        .toSeq
      assert(got == Seq((1L, 1L, 1L, 2L)), s"got $got")
    } finally q.stop()
  }

  test("streaming ingest dedup carries d07's novelty semantics across micro-batches") {
    import graft.streaming.DocsStreaming
    import org.apache.spark.sql.functions._
    val inDir = tempDir("graft-docs-in").toString
    val docs = Tables.documents(spark, sf1)
    // phase 1: the d07 "seen" batch arrives and is processed
    docs.filter(col("doc_id") < 250).write.mode("append").parquet(inDir)
    val q = DocsStreaming.novel(
        spark.readStream.schema(docs.schema).parquet(inDir))
      .writeStream.outputMode("append")
      .format("memory").queryName("ingest_novel").start()
    val (phase1, phase2) =
      try {
        q.processAllAvailable()
        val p1 = spark.table("ingest_novel").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        // phase 2: the incoming batch arrives while the query RUNS —
        // state must suppress every digest phase 1 already admitted
        docs.filter(col("doc_id") >= 250).write.mode("append").parquet(inDir)
        q.processAllAvailable()
        val all = spark.table("ingest_novel").collect()
          .map(r => (r.getLong(0), r.getString(1))).toSeq
        (p1, all.filterNot(p1.toSet))
      } finally q.stop()
    val batch1Digests = docs.filter(col("doc_id") < 250)
      .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSet
    // phase 1 admitted exactly batch 1's distinct digests, once each
    assert(phase1.map(_._2).toSet == batch1Digests)
    assert(phase1.size == batch1Digests.size, "a digest was emitted twice")
    // phase 2 admitted exactly the batch-novel digests (d07's output
    // set), one representative per digest, and every representative is
    // one of d07's novel doc_ids
    val d07Ids = SparkEntry.queries("d07_incremental_dedup")(spark, sf1)
      .collect().map(_.getLong(0)).toSet
    val novelDigests = docs.filter(col("doc_id") >= 250)
      .select(sha2(col("text"), 256)).collect().map(_.getString(0)).toSet -- batch1Digests
    assert(phase2.map(_._2).toSet == novelDigests)
    assert(phase2.size == novelDigests.size, "a digest was emitted twice")
    assert(phase2.forall(p => d07Ids.contains(p._1)),
      s"phase-2 winners outside d07's novel set: ${phase2.filterNot(p => d07Ids.contains(p._1)).take(3)}")
    assert(phase2.nonEmpty && phase1.nonEmpty)
  }

  test("streaming hourly agg drops late data beyond the watermark") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft-late").toString
    def write(rows: Seq[(Long, String, Long, String, Double, String)]): Unit =
      rows.toDF("event_id", "t", "user_id", "event_type", "value", "props")
        .select(col("event_id"), to_timestamp(col("t")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .coalesce(1).write.mode("append").parquet(dir)
    // batch 1: one event per hour 00..12 → watermark settles at 10:15
    write((0 to 12).map(h =>
      (h.toLong, f"2024-05-01 $h%02d:15:00", 1L, "view", 1.0, "{}")))
    val q = EventsStreaming.hourlyAgg(EventsStreaming.readStream(spark, dir))
      .writeStream.outputMode("append")
      .format("memory").queryName("late_out").start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE duplicate into hour 03 (far below the 10:15
      // watermark) plus an on-time event at 13:15 to advance time
      write(Seq((100L, "2024-05-01 03:20:00", 2L, "view", 1.0, "{}"),
        (101L, "2024-05-01 13:15:00", 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("late_out")
      .select(col("h"), col("n")).collect()
      .map(r => r.getTimestamp(0).toString -> r.getLong(1)).toMap
    // hour 03 closed before the late event arrived: it stays n=1 —
    // the late row was dropped, not double-counted and not re-emitted
    assert(got("2024-05-01 03:00:00.0") == 1L, got.toString)
    // sanity: watermark advanced enough to close hour 03 in batch 1
    assert(got.contains("2024-05-01 09:00:00.0"))
  }

  test("CDF stream: per-snapshot added deltas equal the batch snapshot diff") {
    import spark.implicits._
    import graft.sources.{GraftMerge, GraftVersions}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // snapshot history through the same commit protocol the catalog
    // uses: initial load, then an append — both BEFORE the stream starts
    GraftVersions.commit(dir,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), overwrite = false)
    GraftVersions.commit(dir, Seq((3, "c")).toDF("k", "v"), overwrite = false)
    val acc = new scala.collection.concurrent.TrieMap[Int, Set[(Int, String)]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("k"), col("v"), col("_cdf_version")).collect()
          .groupBy(_.getInt(2)).foreach { case (v, rows) =>
            acc(v) = rows.map(r => (r.getInt(0), r.getString(1))).toSet
          }
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(acc.keySet == Set(1, 2), acc.toString)
      // the stream keeps following the ledger: a commit made AFTER the
      // stream started (an overwrite) arrives as its own micro-batch
      GraftVersions.commit(dir, Seq((9, "z")).toDF("k", "v"), overwrite = true)
      q.processAllAvailable()
    } finally q.stop()
    assert(acc.keySet == Set(1, 2, 3), acc.toString)
    // every streamed delta equals the batch snapshot diff's added half —
    // the l05 equivalence that makes this a true incremental CDF
    (2 to 3).foreach { v =>
      val (added, _) = GraftMerge.snapshotDiff(spark,
        GraftVersions.Snapshot(dir, v - 1), GraftVersions.Snapshot(dir, v))
      val batchAdded = added.select(col("k"), col("v")).collect()
        .map(r => (r.getInt(0), r.getString(1))).toSet
      assert(acc(v) == batchAdded, s"v$v: streamed ${acc(v)} != batch $batchAdded")
    }
    // the first snapshot streams as the full initial load
    assert(acc(1) == Set(1 -> "a", 2 -> "b"))
  }

  test("DSv2 CDF source: version offsets, rate limit, checkpoint resume") {
    import spark.implicits._
    import graft.sources.GraftVersions
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf2").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    GraftVersions.commit(dir,
      Seq((1, "a"), (2, "b")).toDF("k", "v"), overwrite = false)
    GraftVersions.commit(dir, Seq((3, "c")).toDF("k", "v"), overwrite = false)
    GraftVersions.commit(dir, Seq((4, "d")).toDF("k", "v"), overwrite = false)
    val cp = tempDir("graft-cdf2-cp").toString
    val out = new scala.collection.concurrent.TrieMap[Long, Set[(Int, String, Int)]]
    def startQuery() = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir)
      // RATE LIMIT: one snapshot per micro-batch — a restart N commits
      // behind drains in N paced batches, not one giant one
      .option("maxVersionsPerTrigger", "1")
      .load()
      .writeStream
      .option("checkpointLocation", cp)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        out(id) = batch.select(col("k"), col("v"), col("_cdf_version"))
          .collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
        ()
      }
      .start()
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // one version per batch (the rate limit), each row tagged with its
    // snapshot version — the full ledger replayed from version 0
    val drained = out.values.filter(_.nonEmpty).toSeq
    assert(drained.size == 3, out.toString)
    assert(out.values.flatten.toSet == Set(
      (1, "a", 1), (2, "b", 1), (3, "c", 2), (4, "d", 3)), out.toString)
    assert(drained.forall(b => b.map(_._3).size == b.size || b.map(_._3).toSet.size == 1),
      "a rate-limited batch mixed versions")
    // CHECKPOINT RESUME: new commits while the query is DOWN, then a
    // fresh query on the same checkpoint picks up MID-LEDGER — only the
    // unseen versions arrive, nothing replays
    GraftVersions.commit(dir, Seq((5, "e")).toDF("k", "v"), overwrite = false)
    GraftVersions.commit(dir, Seq((6, "f")).toDF("k", "v"), overwrite = true)
    out.clear()
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    assert(out.values.flatten.toSet == Set((5, "e", 4), (6, "f", 5)),
      s"resume replayed or skipped versions: $out")
    // startingVersion: a reader can begin mid-ledger without a
    // checkpoint (the option is the LAST-SEEN version — exclusive, like
    // any stored offset; 3 replays versions 4 and 5)
    val late = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir).option("startingVersion", "3").load()
    val lateAcc = new scala.collection.concurrent.TrieMap[Long, Set[Int]]
    val q3 = late.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        lateAcc(id) = batch.select(col("k")).collect().map(_.getInt(0)).toSet
        ()
      }.start()
    try q3.processAllAvailable() finally q3.stop()
    assert(lateAcc.values.flatten.toSet == Set(5, 6), lateAcc.toString)
  }

  test("DSv2 CDF source starts from a timestamp via the commit ledger") {
    import spark.implicits._
    import graft.sources.GraftVersions
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf5").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    GraftVersions.commit(dir, Seq((1, "a")).toDF("k", "v"), overwrite = false)
    Thread.sleep(5)
    GraftVersions.commit(dir, Seq((2, "b")).toDF("k", "v"), overwrite = false)
    val commits = java.nio.file.Files.readAllLines(
      java.nio.file.Paths.get(s"$dir/_commits"))
      .toArray.map(_.toString.split("=")(1).toLong)
    // an instant between the two commits → replay begins at v2
    val acc = new scala.collection.concurrent.TrieMap[Long, Set[Int]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir)
      .option("startingTimestampMicros", (commits(1) - 1).toString)
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        acc(id) = batch.select(col("k")).collect().map(_.getInt(0)).toSet
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(acc.values.flatten.toSet == Set(2), acc.toString)
    // both start options together are rejected loudly
    val e = intercept[Exception] {
      spark.readStream.format("graft.streaming.GraftCdfProvider")
        .option("path", dir).option("startingVersion", "1")
        .option("startingTimestampMicros", "0").load()
        .writeStream.foreachBatch(
          (_: org.apache.spark.sql.DataFrame, _: Long) => ()).start()
        .processAllAvailable()
    }
    assert(e.getMessage.contains("mutually exclusive") ||
      Option(e.getCause).exists(_.getMessage.contains("mutually exclusive")),
      e.toString)
  }

  test("DSv2 CDF source removed-rows channel equals the batch snapshot diff") {
    import spark.implicits._
    import graft.sources.{GraftMerge, GraftVersions}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf4").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // v1: 4 single-key files; v2: COW delete of k=2 (one file removed,
    // one rewritten survivor file added); v3: full overwrite
    GraftVersions.commit(dir,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
        .repartition(4, col("k")), overwrite = false)
    GraftMerge.deleteFrom(spark, dir, col("k") === 2 || col("k") === 4)
    GraftVersions.commit(dir, Seq((9, "z")).toDF("k", "v"), overwrite = true)
    val acc = new scala.collection.concurrent.TrieMap[(Int, String), Set[(Int, String)]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir).option("includeRemoved", "true").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("k"), col("v"), col("_cdf_version"), col("_change_type"))
          .collect()
          .groupBy(r => (r.getInt(2), r.getString(3)))
          .foreach { case (key, rows) =>
            acc(key) = acc.getOrElse(key, Set.empty) ++
              rows.map(r => (r.getInt(0), r.getString(1))).toSet
          }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    // every (version, channel) cell equals the batch snapshot diff —
    // file-granularity semantics: the delete's rewritten survivors
    // appear as removed (old file) AND inserted (new file)
    (2 to 3).foreach { v =>
      val (added, removed) = GraftMerge.snapshotDiff(spark,
        GraftVersions.Snapshot(dir, v - 1), GraftVersions.Snapshot(dir, v))
      def kv(df: org.apache.spark.sql.DataFrame) = df.select(col("k"), col("v"))
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(acc.getOrElse((v, "insert"), Set.empty) == kv(added),
        s"v$v insert channel diverged from batch diff")
      assert(acc.getOrElse((v, "delete"), Set.empty) == kv(removed),
        s"v$v delete channel diverged from batch diff")
    }
    // sanity on the shape itself: v2 removed the two touched files'
    // rows and re-inserted any survivors (single-key files → none);
    // v3 (overwrite) removed the whole v2 content
    def cell(v: Int, ch: String) = acc.getOrElse((v, ch), Set.empty)
    assert(cell(2, "delete").map(_._1) == Set(2, 4) ++
      cell(2, "insert").map(_._1), acc.toString)
    assert(cell(3, "delete").map(_._1) == Set(1, 3), acc.toString)
    assert(cell(3, "insert") == Set(9 -> "z"))
  }

  test("DSv2 CDF source reads array columns and evolved-schema nulls") {
    import spark.implicits._
    import graft.sources.GraftVersions
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf3").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    GraftVersions.commit(dir,
      Seq((1L, Array(1.0f, 2.0f)), (2L, Array(3.0f, 4.0f)))
        .toDF("id", "vec"), overwrite = false)
    // evolve: later files carry an extra column; the stream schema is
    // the CURRENT snapshot's, so v1 rows read the new column as null
    GraftVersions.evolveSchema(dir,
      org.apache.spark.sql.types.StructType(
        spark.read.parquet(GraftVersions.manifest(dir, 1): _*).schema.fields :+
          org.apache.spark.sql.types.StructField("tag",
            org.apache.spark.sql.types.StringType)))
    GraftVersions.commit(dir,
      Seq((3L, Array(5.0f), "t3")).toDF("id", "vec", "tag"), overwrite = false)
    val acc = new scala.collection.concurrent.TrieMap[Long, Set[(Long, Seq[Float], Option[String], Int)]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir).load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        acc(id) = batch.select(col("id"), col("vec"), col("tag"), col("_cdf_version"))
          .collect().map(r => (r.getLong(0), r.getSeq[Float](1),
            Option(r.getString(2)), r.getInt(3))).toSet
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(acc.values.flatten.toSet == Set(
      (1L, Seq(1.0f, 2.0f), None, 1),
      (2L, Seq(3.0f, 4.0f), None, 1),
      (3L, Seq(5.0f), Some("t3"), 3)), acc.toString)
  }

  test("CDF skips layout-only commits (compaction/re-cluster, dataChange=false)") {
    import spark.implicits._
    import graft.sources.{GraftMerge, GraftVersions}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf6").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // v1–v2: appends fragment the table; v3: compaction (layout-only);
    // v4: re-cluster (layout-only); v5: a real append after them
    GraftVersions.commit(dir,
      Seq((1, "a"), (2, "b")).toDF("k", "v").repartition(2, col("k")),
      overwrite = false)
    GraftVersions.commit(dir, Seq((3, "c")).toDF("k", "v"), overwrite = false)
    GraftMerge.compact(spark, dir, smallBytes = 1L << 20)
    GraftMerge.cluster(spark, dir, Seq("k"), targetFiles = 1)
    GraftVersions.commit(dir, Seq((4, "d")).toDF("k", "v"), overwrite = false)
    assert(GraftVersions.current(dir) == 5)
    assert(GraftVersions.Snapshot(dir, 3).layoutOnly && GraftVersions.Snapshot(dir, 4).layoutOnly)
    assert(!GraftVersions.Snapshot(dir, 2).layoutOnly && !GraftVersions.Snapshot(dir, 5).layoutOnly)
    // DSv2 source, both channels: the layout versions contribute ZERO
    // rows — without the skip, v3/v4 would replay the whole table as
    // delete+insert into every incremental consumer
    val acc = new scala.collection.concurrent.TrieMap[(Int, String), Set[Int]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir).option("includeRemoved", "true").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("k"), col("_cdf_version"), col("_change_type"))
          .collect().groupBy(r => (r.getInt(1), r.getString(2)))
          .foreach { case (key, rows) =>
            acc(key) = acc.getOrElse(key, Set.empty) ++ rows.map(_.getInt(0))
          }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(acc == scala.collection.concurrent.TrieMap(
      (1, "insert") -> Set(1, 2), (2, "insert") -> Set(3),
      (5, "insert") -> Set(4)), acc.toString)
    // the batch snapshot diff stays FILE-level by contract: across the
    // compaction it reports the rewritten files on both sides even
    // though the row set is unchanged — the row-change feed and the
    // file-change diff answer different questions
    val (added, removed) = GraftMerge.snapshotDiff(spark,
      GraftVersions.Snapshot(dir, 2), GraftVersions.Snapshot(dir, 3))
    assert(added.count() > 0 && removed.count() > 0)
    assert(added.select(col("k")).collect().map(_.getInt(0)).toSet ==
      removed.select(col("k")).collect().map(_.getInt(0)).toSet)
  }

  test("CDF emits a RESTORE's re-added files (manifest set-diff, not prefix)") {
    import spark.implicits._
    import graft.sources.GraftVersions
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf7").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // v1: rows A; v2: OVERWRITE with rows B (A's files leave the
    // manifest); v3: RESTORE v1 — the restored files keep their
    // ORIGINAL v1- prefixes, which is exactly the case the filename-
    // prefix rule dropped (ADVICE r13): consumers saw A removed at v2
    // but never re-added at v3 and silently diverged from the table
    GraftVersions.commit(dir, Seq((1, "a"), (2, "b")).toDF("k", "v"),
      overwrite = false)
    GraftVersions.commit(dir, Seq((9, "bad")).toDF("k", "v"), overwrite = true)
    assert(GraftVersions.rollback(dir, 1) == 3)
    val acc = new scala.collection.concurrent.TrieMap[(Int, String), Set[Int]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir).option("includeRemoved", "true").load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.select(col("k"), col("_cdf_version"), col("_change_type"))
          .collect().groupBy(r => (r.getInt(1), r.getString(2)))
          .foreach { case (key, rows) =>
            acc(key) = acc.getOrElse(key, Set.empty) ++ rows.map(_.getInt(0))
          }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(acc == scala.collection.concurrent.TrieMap(
      (1, "insert") -> Set(1, 2),
      (2, "insert") -> Set(9), (2, "delete") -> Set(1, 2),
      (3, "insert") -> Set(1, 2), (3, "delete") -> Set(9)), acc.toString)
    // an incremental consumer folding the feed converges back to the
    // table's state — the divergence the prefix rule caused
    val state = scala.collection.mutable.Map[Int, Int]() // k -> net adds
    acc.toSeq.sortBy(_._1._1).foreach { case ((_, ch), ks) =>
      ks.foreach(k => state(k) = state.getOrElse(k, 0) +
        (if (ch == "insert") 1 else -1))
    }
    assert(state.filter(_._2 > 0).keySet == Set(1, 2), state.toString)
  }

  test("row-level CDF: preimage/postimage pairs, carried rows suppressed") {
    import spark.implicits._
    import graft.sources.{GraftMerge, GraftVersions}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf8").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // ONE file holding four rows: the copy-on-write update rewrites
    // the whole file, so the file feed reports 4 removed + 4 added —
    // the row feed must emit exactly ONE pre/post pair (k=2), nothing
    // for the three carried rows
    GraftVersions.commit(dir,
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
        .coalesce(1), overwrite = false)
    GraftMerge.updateWhere(spark, dir, col("k") === 2,
      Seq("v" -> org.apache.spark.sql.functions.lit("B!")))
    GraftMerge.deleteFrom(spark, dir, col("k") === 4)
    GraftVersions.commit(dir, Seq((9, "i")).toDF("k", "v"), overwrite = false)
    val acc = new scala.collection.concurrent.TrieMap[(Int, String), Set[(Int, String)]]
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir)
      .option("rowLevel", "true").option("mergeKey", "k")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect().foreach { r =>
          val key = (r.getAs[Int]("_cdf_version"), r.getAs[String]("_change_type"))
          acc(key) = acc.getOrElse(key, Set.empty) +
            ((r.getAs[Int]("k"), r.getAs[String]("v")))
        }
        ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(acc == scala.collection.concurrent.TrieMap(
      (1, "insert") -> Set(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"),
      (2, "update_preimage") -> Set(2 -> "b"),
      (2, "update_postimage") -> Set(2 -> "B!"),
      (3, "delete") -> Set(4 -> "d"),
      (4, "insert") -> Set(9 -> "i")), acc.toString)
    // the batch rowLevelDiff agrees version-by-version
    (1 to 3).foreach { v =>
      val batchRows = GraftMerge.rowLevelDiff(spark, dir, v, v + 1, "k")
        .collect()
        .map(r => (r.getAs[Int]("k"), r.getAs[String]("v"),
          r.getAs[String]("_change_type"))).toSet
      val streamRows = acc.toSeq.filter(_._1._1 == v + 1)
        .flatMap { case ((_, ct), rows) =>
          rows.map { case (k, vv) => (k, vv, ct) } }.toSet
      assert(batchRows == streamRows, s"v$v→${v + 1}: $batchRows vs $streamRows")
    }
    // DATE, DECIMAL and TIMESTAMP columns stream through the insert,
    // delete and row-level channels and equal the batch diffs
    val tdir = tempDir("graft-cdf8t").toString + "/tbl"
    new java.io.File(tdir).mkdirs()
    GraftVersions.commit(tdir,
      Seq((1, "2024-01-01", "1.25", "2024-01-01 10:00:00"),
        (2, "2024-02-29", "20.50", "2024-02-29 23:59:59"),
        (3, "1999-12-31", "-3.10", "1999-12-31 00:00:01"))
        .toDF("k", "d", "amt", "ts")
        .select(col("k"), col("d").cast("date").as("d"),
          col("amt").cast("decimal(12,2)").as("amt"),
          col("ts").cast("timestamp").as("ts"))
        .coalesce(1), overwrite = false)
    GraftMerge.updateWhere(spark, tdir, col("k") === 2,
      Seq("amt" -> org.apache.spark.sql.functions.lit("99.99").cast("decimal(12,2)")))
    GraftMerge.deleteFrom(spark, tdir, col("k") === 3)
    def typedRow(r: org.apache.spark.sql.Row): String =
      Seq("k", "d", "amt", "ts").map(c => String.valueOf(r.getAs[Any](c))).mkString("|")
    def drain(opts: (String, String)*): Set[(Int, String, String)] = {
      val got = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, String)]()
      val tq = opts.foldLeft(spark.readStream
          .format("graft.streaming.GraftCdfProvider").option("path", tdir)) {
          case (r, (k, v)) => r.option(k, v)
        }.load()
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.collect().foreach(r => got.add((r.getAs[Int]("_cdf_version"),
            r.getAs[String]("_change_type"), typedRow(r))))
          ()
        }.start()
      try tq.processAllAvailable() finally tq.stop()
      got.toArray.map(_.asInstanceOf[(Int, String, String)]).toSet
    }
    def tagged(df: org.apache.spark.sql.DataFrame, v: Int, ct: Option[String]) =
      df.collect().map(r =>
        (v, ct.getOrElse(r.getAs[String]("_change_type")), typedRow(r))).toSet
    val fileFeed = drain("includeRemoved" -> "true")
    val rowFeed = drain("rowLevel" -> "true", "mergeKey" -> "k")
    val v1 = tagged(GraftVersions.Snapshot(tdir, 1).read(spark), 1, Some("insert"))
    assert(v1.size == 3 && fileFeed.filter(_._1 == 1) == v1, fileFeed.toString)
    assert(rowFeed.filter(_._1 == 1) == v1, rowFeed.toString)
    (2 to 3).foreach { v =>
      val (added, removed) = GraftMerge.snapshotDiff(spark,
        GraftVersions.Snapshot(tdir, v - 1), GraftVersions.Snapshot(tdir, v))
      assert(fileFeed.filter(_._1 == v) ==
        tagged(added, v, Some("insert")) ++ tagged(removed, v, Some("delete")),
        s"v$v file channels diverged from batch diff: $fileFeed")
      assert(rowFeed.filter(_._1 == v) ==
        tagged(GraftMerge.rowLevelDiff(spark, tdir, v - 1, v, "k"), v, None),
        s"v$v row channel diverged from batch rowLevelDiff: $rowFeed")
    }
    assert(rowFeed.filter(_._1 == 2).map(_._2) ==
      Set("update_preimage", "update_postimage"), rowFeed.toString)
    assert(rowFeed.filter(_._1 == 3).map(r => (r._2, r._3)) ==
      Set("delete" -> "3|1999-12-31|-3.10|1999-12-31 00:00:01.0"), rowFeed.toString)
  }

  test("row-level CDF rejects a non-unique merge key loudly (batch + stream)") {
    import spark.implicits._
    import graft.sources.{GraftMerge, GraftVersions}
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft-cdf9").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // k=2 appears TWICE: the key-join reconstruction would cartesian
    // (batch) or last-win (stream) — both must refuse instead of
    // emitting a wrong change feed
    GraftVersions.commit(dir,
      Seq((1, "a"), (2, "b"), (2, "b2"), (3, "c")).toDF("k", "v")
        .coalesce(1), overwrite = false)
    GraftMerge.updateWhere(spark, dir, col("k") === 3,
      Seq("v" -> org.apache.spark.sql.functions.lit("C!")))
    val eBatch = intercept[Exception] {
      GraftMerge.rowLevelDiff(spark, dir, 1, 2, "k").collect()
    }
    assert(eBatch.getMessage.contains("not unique"), eBatch.getMessage)
    val q = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", dir)
      .option("rowLevel", "true").option("mergeKey", "k")
      .load()
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.collect(); ()
      }.start()
    val eStream = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    def rootMsg(t: Throwable): String = {
      var c: Throwable = t
      val b = new StringBuilder()
      while (c != null) { b.append(c.getMessage).append(" | "); c = c.getCause }
      b.toString
    }
    assert(rootMsg(eStream).contains("not unique"), rootMsg(eStream))
  }
}
