package graft

/** Benchmark main (driver contract): times every registered query on
  * SPARK_GRAFT_SF_DIR and prints one JSON line.
  *
  * Each query is forced through a `noop` sink so the full pipeline
  * (scan → transform → result) materializes — `.count()` alone lets
  * Catalyst prune projections that a real consumer would pay for. A
  * session warm-up runs first so JVM/codegen startup is not billed to
  * the first query.
  *
  * Measurement protocol (hardened round 4 after r3 shipped a phantom 7×
  * "regression" on five scan-heavy queries that re-ran at r2 levels with
  * zero code change): one UNTIMED warm execution, then THREE timed runs
  * per query, publish the min — this VM's block device has sporadic
  * multi-second stalls and a wider sample window is the only defense
  * against a stall covering every sample. A fourth tie-break run fires
  * when the spread is still >3×. ALL raw samples are written to
  * `bench_samples.json` so a published number can be audited for
  * stall-shaped outliers after the fact.
  *
  * The untimed warm run (added round 7) exists because min-of-3 does NOT
  * defeat C2 compilation ramp: the round-6 driver run published d03 at
  * 10.4 s (samples 23.7 → 15.4 → 10.4, monotonically cooling) against a
  * 4.4 s committed number — the suite's heaviest string-hash kernels were
  * still compiling through all three samples. One full execution before
  * the clock starts lets HotSpot finish tiering on exactly the code paths
  * being measured; it costs ~+30% bench wall and buys numbers that
  * reflect the plan, not the JIT. The warm duration is recorded in
  * `bench_samples.json` under `"<name>:warm"` — excluded from the min,
  * kept because the warm-vs-timed gap IS the JIT-ramp signal that
  * diagnosed d03 — and a warm-run failure does NOT fail the query: the
  * timed attempts still run, so one transient stall on this VM cannot
  * sink the suite (round-8 advice; a query only fails when all three
  * timed attempts fail).
  *
  * Output: the full per-query line goes to stdout first and to
  * `bench_last.json`; a COMPACT summary line (total + the five headline
  * queries) is printed LAST, because the driver's tail-window parser
  * truncated the ~4 KB full line in rounds 1-3 (`"parsed": null` in
  * every BENCH_r*.json) — the compact line fits the window, the full
  * detail stays in the committed files.
  *
  * Failure handling: a query that throws is NOT timed — it is omitted
  * from the `queries` map, listed in `failed`, and the process exits
  * nonzero, so a broken query can never silently improve the published
  * total. */
object Bench {
  /** Entries carried in the FINAL printed JSON line's `queries` map.
    *
    * The driver's tail-window parser reads the LAST ~2000 chars of
    * stdout and parses the last line; the full 215-entry map is ~5.5 KB
    * and can never fit (rounds 1-3 proved it: `"parsed": null`), which
    * is why the compact line exists. r19 carried only the five headline
    * queries, which blinded the driver's round-over-round per-query and
    * scaling comparison to 210 of 215 entries (VERDICT r19 #2). This
    * list widens the map to every entry that carries real time — the
    * five headline queries plus every entry ≥ ~0.75 s in the r19 driver
    * run, 64 names, ~1.76 KB — while staying inside the window. The
    * list is STATIC so the 32-core and 8-core driver runs emit the same
    * keys (a time-ranked dynamic pick would diverge between runs and
    * break the scaling join). Names are only ever ADDED per the driver
    * contract; q01–q05 stay first.
    */
  val tailQueries: Seq[String] = Seq(
    "q01_agg_pushdown_sum", "q02_scan_group_agg", "q03_join_agg_topn",
    "q04_left_join_case_agg", "q05_except_chain_count",
    "p25_governed_ingest", "s19_ivfpq_append", "s12_ann_ivfpq_persisted",
    "d20_para_clusters", "s08_ann_ivfpq", "s15_index_compact",
    "d03_minhash_lsh", "d10_ppjoin_allpairs", "t03_lang_id",
    "s20_retrieval_pipeline", "d17_paragraph_neardup", "p13_pipeline_full",
    "s18_index_delete", "s13_ann_filtered_probe", "d19_dup_spans",
    "s14_ann_persisted_append", "s16_index_drift", "s05_kmeans_train",
    "t09_tf_cosine_pairs", "s11_ann_persisted", "d23_incremental_minhash",
    "s06_semantic_dedup", "s03_ann_ivf", "d14_clone_pairs",
    "l14_row_level_cdf", "s21_recall_eval", "d22_ngram_novelty",
    "p24_source_overlap", "q44_tpch_q18", "d02_word_jaccard",
    "q74_bucketed_join", "q24_percentiles", "s07_ann_pq", "q36_hll_sketch",
    "q31_tpch_q5", "d13_winnowing", "d09_dup_clusters", "d15_containment",
    "p09_bpe_encode", "q80_recursive_cte", "q52_tpch_q16",
    "s10_ann_filtered", "s02_ann_lsh", "l04_merge_upsert", "q66_tpch_q21",
    "q15_shuffled_join_agg", "p08_bpe_train", "q32_correlated_subquery",
    "q23_tpch_q1", "q57_tpch_q2", "d05_simhash_pairs",
    "l12_bloom_point_delete", "q65_tpch_q17", "s22_hybrid_search",
    "d21_entity_resolution", "p12_pipeline_compose", "q42_tpch_q4",
    "q59_tpch_q8", "p01_decontaminate")

  /** Queries whose RUN writes non-trivial data (stored ANN indexes,
    * bucketed tables) — each is followed by an input re-warm. */
  val writesDuringRun: Set[String] = Set(
    "s11_ann_persisted", "s12_ann_ivfpq_persisted", "s13_ann_filtered_probe",
    "s14_ann_persisted_append", "s15_index_compact", "s16_index_drift",
    "s18_index_delete", "s19_ivfpq_append", "s20_retrieval_pipeline",
    "q74_bucketed_join", "e16_incremental_agg")

  private def compactFmt(v: Double): String = {
    val s = JsonNum.f3(v)
    if (s.contains('.')) {
      val t = s.reverse.dropWhile(_ == '0').reverse
      if (t.endsWith(".")) t.dropRight(1) else t
    } else s
  }

  /** The compact summary line printed LAST. Carries `names` (default
    * [[tailQueries]]) that have a result; values drop trailing zeros
    * ("0.2" not "0.200") to buy entries. Defensive truncation keeps
    * the line parseable even if times grow wide: names are dropped
    * from the END of `names` (never the first five) until the line
    * fits `maxChars`, the 2000-char window with margin. When that
    * drops any timed entry the line says how many in `"truncated":N`,
    * so a key missing from one run's line is never mistaken for a
    * removed query; an untruncated line has no such field. */
  private[graft] def tailLine(results: Seq[(String, Double)],
      failed: Seq[String], sfDir: String, names: Seq[String] = tailQueries,
      maxChars: Int = 1900): String = {
    val byName = results.toMap
    val total = JsonNum.f3(results.map(_._2).sum)
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def render(carried: Seq[String]): String = {
      val qmap = carried.flatMap(n => byName.get(n).map(v =>
        "\"" + n + "\":" + compactFmt(v))).mkString("{", ",", "}")
      val dropped = names.drop(carried.size).count(byName.contains)
      val truncated = if (dropped == 0) "" else s""","truncated":$dropped"""
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qmap,"n_queries":${results.size},"failed":$failedJson$truncated,"detail":"bench_last.json","sf":"$sfDir"}"""
    }
    var carried = names
    var line = render(carried)
    while (line.length > maxChars && carried.size > 5) {
      carried = carried.dropRight(1)
      line = render(carried)
    }
    line
  }

  /** Per-measurement hygiene, run after every timed execution (here
    * and in [[Harness.measure]]): per-query caches must not leak into
    * the next measurement — the table cache, AND any localCheckpoint
    * blocks the query pinned. Spark frees those only when the RDD
    * object is GC'd, so over a 215-entry suite the iterative entries
    * (closures, k-means, the checkpointed ANN/tf indexes) otherwise
    * accumulate MEMORY_AND_DISK blocks that squeeze the unified memory
    * manager under LATER entries (the r17 in-suite d20/s08 elevations
    * with the canary at floor — r18 adjudication). The query's own
    * DataFrame is dead by then, so dropping every persisted RDD is the
    * clean-block-manager baseline each measurement assumes. */
  private[graft] def cleanup(spark: org.apache.spark.sql.SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.local(cpus)
    import org.apache.spark.sql.functions._
    // warm up session, codegen, and the parquet footer caches
    spark.range(1000000).agg(sum(col("id"))).collect()
    Tables.names.foreach(n => Tables.table(spark, sfDir, n).count())
    // pull every input file's data pages into the OS page cache: with
    // aggregate pushdown a count() is footer-only, so without this the
    // first timed scan of each table pays the block device — and this
    // VM's device has sporadic multi-second stalls that landed inside
    // published numbers in r3-r5 (e05/e06/p01). The engine under test
    // starts at memory speed, like a production cluster's hot cache.
    def warmBytes(f: java.io.File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(warmBytes))
      else {
        val in = new java.io.FileInputStream(f)
        val buf = new Array[Byte](1 << 20)
        try { while (in.read(buf) >= 0) () } finally in.close()
      }
    warmBytes(new java.io.File(sfDir))
    val failed = scala.collection.mutable.ListBuffer[String]()
    val samples = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    def timed(name: String,
        fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      cleanup(spark)
      if (ok) Some(dt) else None
    }
    // optional args = query names: the BENCH.md adjudication protocol's
    // isolated re-run ("one query, quiet machine, same warm protocol").
    // No args (the driver contract) = every registered query.
    val only = args.toSet
    require(only.forall(SparkEntry.queries.contains),
      s"unknown queries: ${only.filterNot(SparkEntry.queries.contains)}")
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
      // untimed warm execution: compiles this query's codegen + C2 paths
      // before the clock starts (see scaladoc). Duration audited under
      // "<name>:warm", never in the min; a warm failure falls through to
      // the timed attempts (transient-stall defense).
      timed(name, fn).foreach(w => samples(name + ":warm") = Seq(w))
      val base = (1 to 3).flatMap(_ => timed(name, fn))
      // queries that WRITE during their run (persisted ANN indexes,
      // bucketed tables) push GBs of fresh pages through the page
      // cache, potentially evicting input bytes the warm protocol
      // assumes hot — re-warm the inputs so the NEXT query's samples
      // are not billed for this query's writes (round-9 verdict
      // adjudication item: rule the mechanism out structurally).
      if (Bench.writesDuringRun(name)) warmBytes(new java.io.File(sfDir))
      if (base.isEmpty) { failed += name; None }
      else {
        // residual guard: when even three samples disagree by >3x the
        // stall likely covered most of them — take one more
        val extra = if (base.max > 3 * base.min) timed(name, fn).toSeq else Seq.empty
        val all = base ++ extra
        samples(name) = all
        Some(name -> all.min)
      }
    }
    // 3-decimal (ms) resolution keeps the JSON lines compact;
    // sub-ms per-query precision is noise anyway
    def fmt(v: Double): String = JsonNum.f3(v)
    def writeFile(path: String, content: String): Unit =
      try java.nio.file.Files.write(
        java.nio.file.Paths.get(path), (content + "\n").getBytes("UTF-8"))
      catch { case _: Throwable => () }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val fullLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    // subset (adjudication) runs must not clobber the committed
    // full-run artifacts
    val suffix = if (only.isEmpty) "" else ".isolated"
    writeFile("bench_last.json" + suffix, fullLine)
    writeFile("bench_samples.json" + suffix, samples.map { case (k, vs) =>
      "\"" + k + "\":" + vs.map(fmt).mkString("[", ",", "]")
    }.mkString("{", ",", "}"))
    println(fullLine)
    // compact, tail-window-sized summary LAST — this is the line the
    // driver actually manages to parse (see [[tailLine]])
    println(tailLine(results, failed.toSeq, sfDir))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
