package graft

import java.io.File
import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.sources.{GraftMerge, GraftStatementServer, GraftVersions}

/** The scale-and-topology harness (dev tool; Bench is the driver
  * surface): `graft.Harness <leg> [args]`. The reference makes ONE real
  * performance claim — each query run at 1 and 5 workers, with
  * identical results at both (reference: results/q00N/workers-{1,5};
  * q003's driver count goes 85→298 across the same pair) — and every
  * leg here is one reading of that claim on one machine.
  *
  * Topology legs (`cluster`, `curve`, `compute`, `families`,
  * `streaming`, `statement`) run the same probes on every session of a
  * topology list and hold the invariant that a probe's canonical rows
  * are identical across topologies: a curve point from a diverging plan
  * is meaningless. `local-cluster[N,4,mem]` is Spark's REAL standalone
  * scheduler with N separate executor JVM processes — tasks serialize
  * over the wire and shuffle moves through netty — so the curve reflects
  * genuine multi-process topology, not thread count. Timed legs measure
  * each session's probes with [[measure]]: an untimed warm pass (a
  * persisted index is built once and probed thereafter, its production
  * shape), then two timed runs per probe that must return the same
  * rows, min taken. Each prints one JSON line whose `status`
  * is `ok`, or `diverged` with the `probe@topology` pairs in `failed`,
  * and exits nonzero on divergence.
  *
  * Ratio legs (`proof`, `lakehouse`) run on one local session and
  * compare the same work on the sf0.1 corpus and on a `--copies`×
  * corpus; `spool` is the statement face's memory-bound check.
  *
  * Run: `SPARK_SCALA_VERSION=2.13 SPARK_HOME=/opt/spark
  *       ./run-main.sh graft.Harness <leg> [args]` — the executor-launch
  * path (WorkerCommandBuilder) cannot detect the Scala version outside
  * the distribution's shell scripts without them. LocalClusterSpec and
  * SpoolSpec fork the `cluster` and `spool` legs as their own JVMs (the
  * suite's shared SparkContext cannot coexist with a second master
  * in-process). */
object Harness {

  /** Seconds and canonical rows of one run. */
  type Run = (Double, Seq[String])
  /** Per topology label, in topology order: each probe's measured run. */
  type Results = Seq[(String, Seq[(String, Run)])]

  private val sf01 = "/root/testdata/sf0.1"

  def main(args: Array[String]): Unit = {
    val legs: Map[String, Array[String] => Unit] = Map(
      "cluster" -> cluster, "curve" -> curve, "compute" -> compute,
      "families" -> families, "streaming" -> streaming,
      "statement" -> statement, "proof" -> proof, "lakehouse" -> lakehouse,
      "spool" -> spool)
    args.headOption.flatMap(legs.get) match {
      case Some(leg) => leg(args.drop(1))
      case None =>
        System.err.println(s"usage: graft.Harness <${legs.keys.toSeq.sorted.mkString("|")}> [args]")
        sys.exit(2)
    }
  }

  // ---------------------------------------------------------------- core

  private def canonical(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toIndexedSeq

  private[graft] def rmTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete()
  }

  private def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs()
      src.listFiles().foreach(c => copyTree(c, new File(dst, c.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)

  private def timed(body: => Seq[String]): Run = {
    val t0 = System.nanoTime()
    val rows = body
    ((System.nanoTime() - t0) / 1e9, rows)
  }

  /** The one measure step, over one session's probes: an untimed warm
    * run of every probe first (JIT, codegen cache, index builds — a
    * whole pass, so the first probe timed does not also pay the fresh
    * executor JVMs' warm-up), then per probe two timed runs that must
    * return the same rows — otherwise nondeterminism within one session
    * could hide behind a lucky min — and their min. Bench's
    * per-measurement hygiene runs after every run. */
  private[graft] def measure(spark: SparkSession,
      probes: Seq[(String, () => Run)]): Seq[(String, Run)] = {
    def once(run: () => Run): Run = try run() finally Bench.cleanup(spark)
    probes.foreach(p => once(p._2))
    probes.map { case (q, run) =>
      val (a, b) = (once(run), once(run))
      require(a._2 == b._2, s"$q: the two timed runs returned different rows")
      q -> ((math.min(a._1, b._1), a._2))
    }
  }

  /** Scaled-corpus cache: `build` writes `dir` unless a `_SUCCESS` marker
    * shows an earlier build completed. A run killed mid-write leaves a
    * partial directory without the marker, which is deleted and rebuilt
    * rather than silently measured as a truncated corpus. Spark writes
    * the marker for a single parquet write; a multi-write directory gets
    * it here, after `build(dir)` returns. */
  private[graft] def cached(dir: String)(build: String => Unit): String = {
    val marker = new File(dir, "_SUCCESS")
    if (!marker.exists()) {
      rmTree(new File(dir))
      build(dir)
      marker.createNewFile()
    }
    dir
  }

  /** A corpus build on a plain local session, outside any timing. */
  private def withLocal(body: SparkSession => Unit): Unit = {
    val b = GraftSession.local("8")
    try body(b) finally b.stop()
  }

  private def flag(args: Array[String], name: String, dflt: Int): Int =
    args.sliding(2).collectFirst { case Array(`name`, n) => n.toInt }
      .getOrElse(dflt)

  /** One session of a topology leg. */
  private final case class Topology(label: String, master: String, partitions: Int,
      executorMem: Option[String] = None)

  /** N = 1, 2, 4 executor JVMs of 4 cores on the standalone scheduler. */
  private def executors(workerMb: Int, executorMem: String,
      partitions: Int => Int): Seq[Topology] = Seq(1, 2, 4).map { n =>
    Topology(n.toString, s"local-cluster[$n,4,$workerMb]", partitions(n),
      Some(executorMem))
  }

  private def session(t: Topology): SparkSession = {
    val localDir = new File("/dev/shm/graft-spark")
    localDir.mkdirs()
    var b = SparkSession.builder().master(t.master)
      .appName(s"graft-harness-${t.label}")
      .config("spark.local.dir", localDir.getAbsolutePath)
      .config("spark.sql.shuffle.partitions", t.partitions.toString)
    // executor JVMs need the application classes on THEIR classpath
    // (nothing ships a jar in this mode)
    t.executorMem.foreach { m =>
      b = b.config("spark.executor.memory", m)
        .config("spark.executor.extraClassPath", System.getProperty("java.class.path"))
    }
    val spark = GraftSession.configure(b).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    functions.TrinoFunctions.register(spark)
    functions.VectorFunctions.register(spark)
    spark
  }

  /** A topology leg: its sessions, the probes each session runs (timed
    * through [[measure]], or run once when `timed` is false), the JSON
    * fields before `status`, and the fields of its `ok` line. */
  private final case class Leg(metric: String, head: String, topologies: Seq[Topology],
      timed: Boolean, probes: (SparkSession, Topology) => Seq[(String, () => Run)],
      ok: Results => String)

  private def run(leg: Leg): Unit = {
    val results = leg.topologies.map { t =>
      val spark = session(t)
      try {
        val probes = leg.probes(spark, t)
        t.label -> (if (leg.timed) measure(spark, probes)
          else probes.map { case (q, r) => q -> r() })
      } finally spark.stop()
    }
    val failed = diverged(results)
    failed.foreach { case (at, base, rows) =>
      System.err.println(s"[${leg.metric}] $at diverged: " +
        s"base=${base.take(3)}... got=${rows.take(3)}...")
    }
    println(statusLine(leg.metric, leg.head, failed.map(_._1))(leg.ok(results)))
    if (failed.nonEmpty) sys.exit(1)
  }

  /** The cross-topology invariant: every probe's rows at each later
    * topology equal its rows at the first. Returns each divergence as
    * (`probe@topology`, first rows, diverging rows). */
  private[graft] def diverged(results: Results): Seq[(String, Seq[String], Seq[String])] = {
    val base = results.head._2.toMap
    for {
      (t, runs) <- results.tail
      (q, (_, rows)) <- runs if rows != base(q)._2
    } yield (s"$q@$t", base(q)._2, rows)
  }

  private[graft] def statusLine(metric: String, head: String, failed: Seq[String])(
      ok: => String): String =
    if (failed.isEmpty) s"""{"metric":"$metric",$head"status":"ok",$ok}"""
    else s"""{"metric":"$metric","status":"diverged","failed":"${failed.mkString(",")}"}"""

  private def sec(r: Results, t: String, q: String): Double =
    r.toMap.apply(t).toMap.apply(q)._1

  /** `"workers":{"N":{"probe":seconds,…},…}` */
  private def workers(r: Results): String = r.map { case (t, runs) =>
    runs.map { case (q, (s, _)) => s""""$q":${JsonNum.f3(s)}""" }
      .mkString(s""""$t":{""", ",", "}")
  }.mkString(""""workers":{""", ",", "}")

  /** The statement face's client side: POST a statement, then follow the
    * `nextUri` chain. Every response is checked for an `"error"`. */
  private object Face {
    private val nextRe = """"nextUri":"([^"]+)"""".r
    private val dataRe = """"data":(\[\[.*?\]\])(?=,"(?:nextUri|stats)")""".r

    private def http(url: String, sql: Option[String]): String = {
      val conn = URI.create(url).toURL.openConnection()
        .asInstanceOf[HttpURLConnection]
      sql.foreach { s =>
        conn.setRequestMethod("POST")
        conn.setRequestProperty("X-Trino-User", "harness")
        conn.setDoOutput(true)
        conn.getOutputStream.write(s.getBytes(StandardCharsets.UTF_8))
      }
      val body = try new String(conn.getInputStream.readAllBytes(),
        StandardCharsets.UTF_8) finally conn.disconnect()
      require(!body.contains("\"error\""), body.take(400))
      body
    }

    /** The POST answer: the statement is running, no rows yet. */
    def post(base: String, sql: String): String =
      http(s"$base/v1/statement", Some(sql))

    def id(body: String): String =
      """"id":"([^"]+)"""".r.findFirstMatchIn(body).map(_.group(1)).get

    /** Every page after `first`, fetched as the iterator advances. */
    def pages(first: String): Iterator[String] = {
      def next(body: String) = nextRe.findFirstMatchIn(body).map(_.group(1))
      Iterator.unfold(next(first))(_.map { u =>
        val page = http(u, None)
        (page, next(page))
      })
    }

    /** A page's data rows as wire JSON arrays, split on top-level `],[`. */
    def rows(page: String): Seq[String] =
      dataRe.findFirstMatchIn(page).toSeq.flatMap(_.group(1)
        .stripPrefix("[").stripSuffix("]").split("""(?<=\]),(?=\[)"""))
  }

  // -------------------------------------------------------- topology legs

  /** Multi-executor scheduler check — the closest one machine gets to the
    * reference's 1-vs-5-worker runs. `local[8]` runs every task in the
    * driver JVM; `local-cluster[2,4,2048]` does genuine multi-executor
    * placement across two executor JVMs. Requiring bit-identical results
    * proves the §5.2 worker-count-invariance property across PROCESS
    * topology — not just across shuffle partitioning (DeterminismSpec's
    * axis): closures and custom Catalyst expressions must actually
    * serialize, codegen must compile in executor JVMs, and exchanges must
    * round-trip the network stack. Each query runs once per topology.
    *
    * The slice spans the engine's shapes: scans+agg, broadcast and
    * shuffled joins, TopN, windows, set ops, exact + MinHash dedup,
    * brute-force ANN, sequence packing, and a versioned-catalog
    * commit+time-travel lifecycle (executors write the snapshot files).
    * JDBC-backed entries are excluded — embedded Derby is single-JVM by
    * nature (separate executor processes cannot share its file lock),
    * which is a property of the stand-in store, not of the engine.
    *
    * Args: `[sfDir]` (default sf0.001). Prints
    * `{"metric":"cluster_check","status":"ok","queries":…,"rows":…}`. */
  private val checkQueries: Seq[String] = Seq(
    "q02_scan_group_agg", "q03_join_agg_topn", "q04_left_join_case_agg",
    "q05_except_chain_count", "q15_shuffled_join_agg", "q17_window_topk",
    "q23_tpch_q1", "d01_dedup_exact", "d03_minhash_lsh",
    "s01_ann_bruteforce", "p03_pack_sequences", "l02_time_travel",
    // the two riskiest paths under a process topology: a CUSTOM
    // physical operator (GroupedTopKExec) serialized to executor JVMs,
    // and a stored-index probe whose dynamic partition pruning must
    // fire across processes (executors also WRITE the index partitions)
    "q25_grouped_topk_custom", "s11_ann_persisted",
    // r17: the broadcast-probe inverted-index joins — t09 additionally
    // localCheckpoints the shared tf index, so its checkpointed blocks
    // must serve all four downstream subtrees from EXECUTOR storage
    // under a real process topology
    "d02_word_jaccard", "t09_tf_cosine_pairs",
    // r13: the band-index probe (custom TypedImperativeAggregate
    // signatures + DPP across processes) and the bloom point DELETE
    // (sidecar build is a distributed aggregate; probe is driver-side)
    "d23_incremental_minhash", "l12_bloom_point_delete",
    // r18: the round's riskiest new paths under a process topology —
    // the connected-components loop now RELEASES superseded label
    // snapshots mid-query (executor-resident checkpoint blocks must
    // come and go without breaking the live lineage), and the IVF-PQ
    // build materializes its index relations via localCheckpoint whose
    // blocks every probe stage must read back across executor JVMs
    "d20_para_clusters", "s08_ann_ivfpq",
    // r15: runtime dynamic filtering into WIRE scans across processes —
    // the DPP subquery evaluates driver-side, scan.filter() narrows the
    // partition plan, and executor JVMs dial the store with the
    // narrowed request (mongo $in via q82's stats-driven join; ES
    // terms via q85's q005 shape)
    "q82_cbo_stats_join", "q85_elastic_runtime_filter",
    // r19: the MMR rerank loop now materializes its growing selection
    // per iteration AND releases each superseded snapshot mid-query —
    // five checkpoint/release cycles whose blocks live in executor
    // JVMs; s17 feeds it from a corpus pass, s20 from the full stored-
    // index pipeline (build + DPP probe + eligible semi-join upstream)
    "s17_ann_mmr", "s20_retrieval_pipeline")

  private def cluster(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    run(Leg("cluster_check", "",
      Seq(Topology("single", "local[8]", 8),
        Topology("cluster", "local-cluster[2,4,2048]", 8, Some("1536m"))),
      timed = false,
      (spark, _) => checkQueries.map { q =>
        q -> (() => (0.0, canonical(SparkEntry.queries(q)(spark, sfDir))))
      },
      r => s""""queries":${checkQueries.size},"rows":"""" +
        r.head._2.map { case (q, (_, rows)) => s"$q=${rows.size}" }
          .mkString(",") + "\""))
  }

  /** Scale-out throughput curve: the headline five plus the
    * scale-critical probe entries at `local-cluster[N,4,2048]`, N = 1, 2,
    * 4, one shuffle partition per total core (the cores-sized rule
    * GraftSession.local applies).
    *
    * Reading the curve at sf0.1 honestly: several of these queries are
    * SOURCE-bound (one or two parquet row-groups — the scan parallelism
    * ceiling is the file's splittability, not the executor count) or
    * EXCHANGE-bound (tiny shuffles where fixed per-stage latency
    * dominates). The point of the experiment is the measured shape and
    * the bit-identity across it; BENCH.md's SCALECURVE section records
    * which entries fall into which class.
    *
    * Args: `[sfDir]` (default sf0.1). Prints
    * `{"metric":"scale_curve","sf":…,"status":"ok","workers":{"1":{q:sec…},…}}`. */
  private val curveQueries: Seq[String] = Seq(
    "q01_agg_pushdown_sum", "q02_scan_group_agg", "q03_join_agg_topn",
    "q04_left_join_case_agg", "q05_except_chain_count",
    "d23_incremental_minhash", "s11_ann_persisted",
    // wire connectors under REAL multi-process execution: the cursor/
    // scroll readers run in separate executor JVMs dialing the
    // stores over loopback TCP — the bit-identity gate proves the
    // protocol path (pushdown rendering, batch paging, typed decode)
    // is process-topology-invariant, not a single-JVM artifact
    "q84_mongo_events_range", "s25_ann_wire_mongo")

  private def curve(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(sf01)
    run(Leg("scale_curve", s""""sf":"$sfDir",""",
      executors(2048, "1536m", _ * 4), timed = true,
      (spark, _) => curveQueries.map { q =>
        q -> (() => timed(canonical(SparkEntry.queries(q)(spark, sfDir))))
      },
      workers))
  }

  /** The compute-bound topologies: FIXED 64 shuffle partitions at every
    * N, so the task decomposition is identical and the curve isolates
    * executor count (and small tasks bound per-task memory — the 30×
    * banded self-join OOMs a 1.5g executor at 4 partitions). */
  private val computeTopologies = executors(4096, "3584m", _ => 64)

  /** Positive-scaling leg of the curve (verdict r14 #7): the sf0.1
    * curve is honestly FLAT because per-task work is milliseconds —
    * fixed per-stage cost dominates, which is the correct reading at
    * that size but completes only half the reference's workers-1→5
    * story (q003: 64.2→47.8 min — scale-out PAYS when per-task work is
    * real). This leg builds that regime: a `--copies`× document corpus
    * ([[scaleDocs]], 16 input files — enough splits to feed 16 cores at
    * N=4) and two COMPUTE-bound probes over it: d17_paragraph_neardup
    * (banded-minhash paragraph pairs — the dedup family's hot loop) and
    * t11_bigram_coverage (per-doc bigram set statistics — the text
    * family's). Both are per-row CPU with bounded shuffles, so task work
    * in SECONDS should show real speedup with executor count.
    *
    * Args: `[--copies N]` (default 30). Prints
    * `{"metric":"scale_curve_compute","copies":…,"status":"ok","workers":{…},"ratio_n4":…}`,
    * the ratio being total probe seconds at N=4 over N=1. */
  private def compute(args: Array[String]): Unit = {
    val copies = flag(args, "--copies", 30)
    val outDir = s"target/scalecompute$copies"
    cached(s"$outDir/documents.parquet")(d => withLocal { b =>
      scaleDocs(b.read.parquet(s"$sf01/documents.parquet"), copies)
        .repartition(16).write.mode("overwrite").parquet(d)
    })
    // t11 first: measured after d17's heap churn it reads 2-3× its own
    // cost (the copies-30 N=4 artifact in BENCH.md) — light probe before
    // heavy keeps each measurement on a settled heap
    val probes = Seq("t11_bigram_coverage", "d17_paragraph_neardup")
    run(Leg("scale_curve_compute", s""""copies":$copies,""",
      computeTopologies, timed = true,
      (spark, _) => probes.map { q =>
        q -> (() => timed(canonical(SparkEntry.queries(q)(spark, outDir))))
      },
      r => workers(r) + s""","ratio_n4":${JsonNum.f3(
        probes.map(sec(r, "4", _)).sum / probes.map(sec(r, "1", _)).sum)}"""))
  }

  /** Families leg of the curve (verdict r15 #6): extends the
    * compute-bound story to the two families a production pipeline leans
    * on at 100 TB, on the compute topologies.
    *
    * `s11_batch_probe` (RETRIEVAL): the index over a scaled corpus
    * ([[scaleEmb]], per-copy orthogonal transforms keep within-copy
    * cosine structure intact) is built ONCE, untimed — the production
    * economics s11's scaladoc argues for. The timed probe is a
    * ~corpus/30 query batch (the serving shape; the entries' fixed
    * `vec_id < 10` probe set is a correctness harness, not a workload)
    * through [[operators.Similarity.probeStoredCellsBatch]]: broadcast
    * the query-probe relation, read only probed cells, exact-rerank,
    * top-5 per query. Per-task work is real (hundreds of thousands of
    * scored candidates per shuffle partition), so executor count should
    * pay.
    *
    * `merge_allfiles` (DML): the `lakehouse` leg measures the verbs'
    * O(touched-files) economics with FIXED absolute work; this probe
    * measures the other regime — touched = ALL files (a source hitting
    * every file's key span of a 32×copies-file table, the l-family's
    * 100× shape), where the rewrite is the workload and should scale
    * with executors. Each run starts from a byte-identical PRISTINE copy
    * of the table (manifests hold relative file names, so a directory
    * copy is a valid table; the copy is untimed) so every topology times
    * the same merge against the same state. Its rows are row-count +
    * xor-of-row-hashes + sum(n_chars) over the merged table — xor, not
    * sum, because ANSI sum(long) over 500k 64-bit hashes would
    * overflow. As in every timed leg, both probes are warmed before
    * either is timed, so s11's timed runs follow the merge's warm run.
    *
    * Args: `[--ann-copies N] [--dml-copies N]` (defaults 30, 100). Prints
    * `{"metric":"scale_curve_families","ann_copies":…,"dml_copies":…,"status":"ok","workers":{…},"ratio_n4_ann":…,"ratio_n4_merge":…}`. */
  private def families(args: Array[String]): Unit = {
    val annCopies = flag(args, "--ann-copies", 30)
    val dmlCopies = flag(args, "--dml-copies", 100)
    val dmlFiles = 32 * dmlCopies
    val root = "/dev/shm/graft-scale-fam"
    val annDir = cached(s"$root/ann$annCopies")(d => withLocal { b =>
      functions.VectorFunctions.register(b)
      val corpus = scaleEmb(Tables.embeddings(b, sf01), annCopies)
      val cent = operators.Similarity.ivfCentroids(corpus)
      operators.Similarity.nearestCells(corpus, cent)
        .write.mode("overwrite").partitionBy("cluster").parquet(s"$d/cells")
      cent.write.mode("overwrite").parquet(s"$d/centroids")
      corpus.filter(pmod(col("vec_id"), lit(30)) === 7)
        .select(col("vec_id"), col("embedding"))
        .write.mode("overwrite").parquet(s"$d/queries.parquet")
    })
    def docs(b: SparkSession) =
      scaleDocs(b.read.parquet(s"$sf01/documents.parquet"), dmlCopies)
    val pristine = cached(s"$root/dml$dmlCopies-pristine")(d => withLocal { b =>
      new File(d).mkdirs()
      GraftVersions.commit(d,
        docs(b).repartitionByRange(dmlFiles, col("doc_id")), overwrite = false)
    })
    // source: every doc_id ≡ 0 (mod 50) — ~2% of rows, but the copy
    // stride (10^7) is a multiple of 50, so every file's ~156-id
    // contiguous span holds matches: touched = ALL files
    val srcPq = cached(s"$root/dml$dmlCopies-source.parquet")(d => withLocal { b =>
      docs(b).filter(pmod(col("doc_id"), lit(50)) === 0)
        .withColumn("text", concat(lit("u_"), col("text")))
        .write.mode("overwrite").parquet(d)
    })
    // the table's current snapshot read straight off its manifest
    def checksum(spark: SparkSession, dir: String): String = {
      val t = spark.read.parquet(GraftVersions.manifest(dir, GraftVersions.current(dir)): _*)
      t.agg(count(lit(1)), bit_xor(xxhash64(t.columns.sorted.map(col): _*)),
        sum(col("n_chars"))).head().toString
    }
    val probes = Seq("s11_batch_probe", "merge_allfiles")
    run(Leg("scale_curve_families",
      s""""ann_copies":$annCopies,"dml_copies":$dmlCopies,""",
      computeTopologies, timed = true,
      (spark, _) => Seq(
        "s11_batch_probe" -> (() => timed(canonical(operators.Similarity
          .probeStoredCellsBatch(spark, annDir,
            spark.read.parquet(s"$annDir/queries.parquet"))))),
        "merge_allfiles" -> (() => {
          val dir = new File(s"$root/dml-run")
          rmTree(dir)
          copyTree(new File(pristine), dir)
          var touched = 0
          val (s, _) = timed {
            touched = GraftMerge.mergeInto(spark, dir.getPath,
              spark.read.parquet(srcPq), "doc_id")._3
            Nil
          }
          require(touched == dmlFiles, s"merge touched $touched of " +
            s"$dmlFiles files — the probe is specified as the rewrite-everything regime")
          try (s, Seq(checksum(spark, dir.getPath))) finally rmTree(dir)
        })),
      r => workers(r) + probes.zip(Seq("ann", "merge")).map { case (q, k) =>
        s""","ratio_n4_$k":${JsonNum.f3(sec(r, "4", q) / sec(r, "1", q))}"""
      }.mkString))
  }

  /** Streaming leg of the curve: the Structured Streaming twins on the
    * compute topologies.
    *
    * `sessionize_drain` drains a `--copies`× events backlog
    * ([[scaleEvents]]: disjoint per-copy user populations, so session
    * structure is exactly copies × sf0.1; 32 files so
    * maxFilesPerTrigger=8 gives exactly 4 micro-batches; ts written as
    * NTZ micros — the layout rawSchema declares) through the stateful gap
    * sessionizer (flatMapGroupsWithState), `Trigger.AvailableNow` — the
    * production catch-up shape: a bursty backlog consumed in bounded
    * batches, per-user state carried across them. The stateful exchange
    * (hash by user) and per-group session folds are the work that should
    * scale with executor count.
    *
    * Its rows are the FINAL per-user (sessions, events) counters. The
    * sessionizer emits a running counter per user per batch-with-
    * activity; counters are monotone, so max == final, and the final
    * state is a pure function of each user's event multiset — invariant
    * to micro-batch boundaries AND to executor topology. (Intermediate
    * emissions are batch-boundary-dependent by design; boundaries are
    * identical across N here because the same corpus and the same
    * `maxFilesPerTrigger` drive the same file-source batching.)
    *
    * Args: `[--copies N]` (default 100). Prints
    * `{"metric":"scale_curve_streaming","copies":…,"status":"ok","users":…,"workers":{"1":sec,…},"ratio_n4":…}`. */
  private def streaming(args: Array[String]): Unit = {
    val copies = flag(args, "--copies", 100)
    val root = "/dev/shm/graft-scale-stream"
    val corpus = cached(s"$root/events$copies")(d => withLocal { b =>
      scaleEvents(Tables.events(b, sf01), copies)
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
        .repartition(32).write.mode("overwrite").parquet(d)
    })
    def drain(spark: SparkSession): Run = {
      val (ckpt, sinkDir) = (new File(s"$root/ckpt"), new File(s"$root/sink"))
      rmTree(ckpt); rmTree(sinkDir)
      // parquet FILE sink — emissions land executor-side, the
      // production shape. (A memory sink's per-batch driver collect
      // serializes every executor's output through one JVM and
      // REVERSED the curve at copies=300 — a harness artifact, not a
      // property of the operator.)
      val (s, _) = timed {
        val q = graft.streaming.EventsStreaming.sessionize(
            graft.streaming.EventsStreaming.readStream(spark, corpus,
              Map("maxFilesPerTrigger" -> "8")))
          .writeStream.outputMode("append")
          .option("checkpointLocation", ckpt.getPath)
          .format("parquet").option("path", sinkDir.getPath)
          .trigger(Trigger.AvailableNow())
          .start()
        try q.awaitTermination() finally if (q.isActive) q.stop()
        Nil
      }
      try (s, canonical(spark.read.parquet(sinkDir.getPath).groupBy(col("user_id"))
        .agg(max(col("sessions")).as("sessions"), max(col("events")).as("events"))))
      finally { rmTree(ckpt); rmTree(sinkDir) }
    }
    run(Leg("scale_curve_streaming", s""""copies":$copies,""",
      computeTopologies, timed = true,
      (spark, _) => Seq("sessionize_drain" -> (() => drain(spark))),
      r => s""""users":${r.head._2.head._2._2.size},""" +
        r.map { case (t, _) => s""""$t":${JsonNum.f3(sec(r, t, "sessionize_drain"))}""" }
          .mkString(""""workers":{""", ",", "}") +
        s""","ratio_n4":${JsonNum.f3(
          sec(r, "4", "sessionize_drain") / sec(r, "1", "sessionize_drain"))}"""))
  }

  /** Statement-FACE leg of the curve (verdict r16 #6): the reference's
    * benchmark path is `POST /v1/statement` + `nextUri` paging
    * (README.md:92-99) — its timings INCLUDE the coordinator face. This
    * leg drives the HEADLINE FIVE (the texts `SparkEntry.oracleSql` pins
    * for the DuckDB oracle) through the real HTTP face at
    * `local-cluster[N,4,2048]`, N = 1, 2, 4, and measures the face's
    * overhead against direct execution of the SAME statements on the
    * SAME session.
    *
    * What this isolates: the face cost — per-statement session clone,
    * analysis, spooled result serve (executor-side render + text spool,
    * driver line-stream; GraftStatementServer.serveState), page JSON,
    * HTTP roundtrips. The statements run over temp views of the sf
    * parquet so the measured delta is the face, not a re-measurement of
    * the wire connectors (those have their own probes in `curve`: q84 and
    * s25). The spool write/read runs under every topology, so the leg
    * also proves the spooled serve is process-topology-invariant.
    *
    * Gates per N: direct and wire rows bit-identical across topologies,
    * wire rows equal in count to direct; `stats` envelopes monotone
    * across every page of every drain (processedRows/Bytes/elapsed never
    * regress); plus [[spoolTopologyGate]] at N=2.
    *
    * Args: `[sfDir]` (default sf0.1). Prints
    * `{"metric":"scale_curve_statement","sf":…,"status":"ok","workers":{"N":{"q":{"direct":s,"wire":s}}},"spool_topology":{…},"max_overhead_sec":…}`. */
  private def statement(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse(sf01)
    val statements = Seq("q01" -> "q01_agg_pushdown_sum", "q02" -> "q02_scan_group_agg",
      "q03" -> "q03_join_agg_topn", "q04" -> "q04_left_join_case_agg",
      "q05" -> "q05_except_chain_count").map { case (q, e) => q -> SparkEntry.oracleSql(e) }
    var spoolTopology = ""
    def stat(body: String, f: String): Long =
      s""""$f":(\\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong).getOrElse(-1L)
    def wire(base: String, sql: String): Run = timed {
      var last = Seq(-1L, -1L, -1L)
      Face.pages(Face.post(base, sql)).flatMap { page =>
        val now = Seq("processedRows", "processedBytes", "elapsedTimeMillis").map(stat(page, _))
        require(now.zip(last).forall { case (n, l) => n >= l },
          s"stats regressed: (rows, bytes, elapsed) $last -> $now")
        last = now
        Face.rows(page)
      }.toSeq.sorted
    }
    run(Leg("scale_curve_statement", s""""sf":"$sf",""",
      executors(2048, "1536m", _ * 4), timed = true,
      (spark, t) => {
        Seq("lineitem", "orders", "customer", "nation")
          .foreach(n => Tables.table(spark, sf, n).createOrReplaceTempView(n))
        val base = GraftStatementServer.start(spark)
        // the smallest N where "both executor JVMs" means anything
        if (t.label == "2") spoolTopology = spoolTopologyGate(spark, base)
        statements.flatMap { case (q, sql) => Seq(
          s"$q.direct" -> (() => timed(canonical(spark.sql(sql)))),
          s"$q.wire" -> (() => wire(base, sql)))
        }
      },
      r => {
        def cell(t: String, q: String) = r.toMap.apply(t).toMap.apply(q)
        val ws = r.map { case (t, _) => statements.map { case (q, _) =>
          val (d, w) = (cell(t, s"$q.direct"), cell(t, s"$q.wire"))
          require(w._2.size == d._2.size,
            s"$q wire rows ${w._2.size} != direct ${d._2.size} at N=$t")
          s""""$q":{"direct":${JsonNum.f3(d._1)},"wire":${JsonNum.f3(w._1)}}"""
        }.mkString(s""""$t":{""", ",", "}") }.mkString(""""workers":{""", ",", "}")
        val overhead = (for ((t, _) <- r; (q, _) <- statements)
          yield cell(t, s"$q.wire")._1 - cell(t, s"$q.direct")._1).max
        s"""$ws,$spoolTopology,"max_overhead_sec":${JsonNum.f3(overhead)}"""
      }))
  }

  /** Composition gate (verdict r17 #6): executor-side spool render +
    * REAL process topology + the Hadoop-FS read path in ONE motion. A
    * REPARTITION(8) statement is driven through the face under
    * `local-cluster[2,…]` with spooling ON. HARD conditions (throw on
    * violation): the spool dir held multiple part files while the
    * cursor was open, was released after the drain, and the drained
    * wire rows are bit-identical to direct execution. The two-executor
    * task SPREAD is a recorded metric, not a throw: placement across
    * executors is not a Spark scheduling contract (with 2×4 slots one
    * fast executor can legally take all 8 tasks — ADVICE r18, the same
    * flake class as the spool leg's retired order assertion). The gate
    * waits for both executor JVMs to register and retries the
    * statement up to 3× so the spread is observed in practice; a
    * 1-executor reading after that is reported as `"executors":1` for
    * the ledger to judge, with every correctness condition still
    * enforced. */
  private def spoolTopologyGate(spark: SparkSession, base: String): String = {
    val sql = "SELECT /*+ REPARTITION(8) */ l_orderkey, l_partkey " +
      "FROM lineitem WHERE l_orderkey % 7 = 0"
    // both executor JVMs registered (driver + 2) before the spool job
    // POSTs: 8 simultaneous tasks over 8 slots in 2 processes is what
    // makes the spread near-certain
    val regDeadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < 3 &&
        System.nanoTime() < regDeadline)
      Thread.sleep(100)
    var spread = 0
    var parts = 0
    var wire: Seq[String] = Seq.empty
    var attempt = 0
    while (attempt < 3 && spread < 2) {
      attempt += 1
      val execs = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val taskEnds = new java.util.concurrent.atomic.AtomicInteger(0)
      val lastEventNanos = new java.util.concurrent.atomic.AtomicLong(
        System.nanoTime())
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          execs.add(e.taskInfo.executorId)
          taskEnds.incrementAndGet()
          lastEventNanos.set(System.nanoTime()); ()
        }
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        val first = Face.post(base, sql)
        // MID-drain: the part files back the open cursor right now
        val dir = new File(System.getProperty("java.io.tmpdir"),
          GraftStatementServer.spoolDirName(Face.id(first)))
        require(dir.isDirectory, s"no spool dir $dir while cursor open")
        parts = dir.listFiles().count(_.getName.startsWith("part-"))
        require(parts >= 2, s"spool held $parts part files, expected >= 2")
        // the spool job ran during the POST; its task-end events are
        // async on the listener bus — poll until the spread shows two
        // executors, OR the job's full 8 task-ends have drained and the
        // bus has gone quiet (the spread is then FINAL at 1 — without
        // this exit every 1-executor attempt burned the whole 10 s
        // deadline, ~30 s of pure sleep across the 3 retries), OR the
        // deadline
        val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
        while (execs.size < 2 && System.nanoTime() < deadline &&
            !(taskEnds.get >= 8 &&
              System.nanoTime() - lastEventNanos.get > 500L * 1000 * 1000))
          Thread.sleep(50)
        wire = Face.pages(first).flatMap(Face.rows).toSeq.sorted
        require(!dir.exists, s"spool dir $dir leaked after the drain")
        spread = execs.size
      } finally spark.sparkContext.removeSparkListener(listener)
    }
    val direct = spark.sql(sql).collect()
      .map(r => s"[${r.getLong(0)},${r.getLong(1)}]").sorted.toSeq
    require(wire == direct && wire.nonEmpty,
      s"wire rows (${wire.size}) != direct (${direct.size})")
    s""""spool_topology":{"executors":$spread,"parts":$parts,""" +
      s""""rows":${wire.size},"match":true,"attempts":$attempt}"""
  }

  // ---------------------------------------------------- spool check leg

  /** Statement-face memory-bound check (verdict r16 #7), run in its OWN
    * deliberately SMALL-heap JVM (`SPARK_DRIVER_MEM=768m ./run-main.sh
    * graft.Harness spool`): drives a one-partition multi-million-row
    * result (~250 B of rendered JSON per row: the exact shape the
    * pipelined pull cannot bound) through the real HTTP statement face
    * and drains every page.
    *
    * Why a separate JVM: the property under test is "driver memory stays
    * O(page) even when the whole result is ONE partition". The spooled
    * serving path streams pre-rendered lines, so ~640 MB of rendered
    * rows never coexist in memory; the pre-r17 pipelined pull
    * materialized the full partition driver-side and cannot finish in
    * this heap. An in-suite heap-delta assertion would race the 16 GB
    * shared test JVM's other suites; here the heap itself is the
    * assertion — regressing to whole-partition materialization OOMs and
    * the check exits nonzero. For the same reason the drain keeps no
    * rows: it folds them into a streaming multiset hash.
    *
    * Args: `[rows] [codec]` (defaults 2000000, none; codec is the spool
    * codec none|gzip|deflate — the r19 codec-default measurement runs
    * this check once per codec and compares spooled bytes vs wall
    * seconds). Prints one JSON line
    * `{"metric":"spool_check","rows":N,"pages":P,"codec":…,"spoolBytes":…,"sec":…,"complete":true}`. */
  private def spool(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(2000000L)
    val codec = args.lift(1).getOrElse("none")
    val spark = GraftSession.local("8")
    try {
      spark.conf.set(sources.GraftWireConf.StatementSpoolCodecKey, codec)
      val base = GraftStatementServer.start(spark)
      val t0 = System.nanoTime()
      val first = Face.post(base, s"SELECT /*+ REPARTITION(1) */ id, " +
        s"repeat('x', 120) AS pad FROM range($rows)")
      // spooled footprint, measured MID-drain (the dir is deleted at
      // drain end): what the codec trades CPU against
      val spoolBytes = Option(new File(System.getProperty("java.io.tmpdir"),
          GraftStatementServer.spoolDirName(Face.id(first))).listFiles())
        .getOrElse(Array.empty).filter(_.getName.startsWith("part-"))
        .map(_.length()).sum
      // verify the COMPLETE id multiset arrived, WITHOUT retaining
      // anything. count + sum + xor alone do NOT pin the multiset
      // ({0,0,3,3} and {0,1,2,3} agree on all three — ADVICE r18), so a
      // fourth accumulator folds each id through a 64-bit avalanche mix
      // (splitmix64's finalizer) and XORs the results: a
      // duplication-plus-omission corruption now has to collide a
      // full-width hash, leaving the gate wrong only with ~2^-64
      // probability instead of on constructible inputs. Arrival ORDER
      // is deliberately not asserted: round-robin repartition + shuffle
      // block fetch order is not a Spark ordering contract, so an order
      // gate could spuriously fail on a scheduler change even though
      // the spool path is correct (ADVICE r17).
      def mix64(v: Long): Long = {
        var z = v + 0x9e3779b97f4a7c15L
        z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
        z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
        z ^ (z >>> 31)
      }
      val idRe = """\[(\d+),""".r
      var (n, pages, sum, xor, hx) = (0L, 0, 0L, 0L, 0L)
      Face.pages(first).foreach { page =>
        pages += 1
        idRe.findAllMatchIn(page).foreach { m =>
          val id = m.group(1).toLong
          sum += id; xor ^= id; hx ^= mix64(id); n += 1
        }
      }
      require(n == rows, s"drained $n of $rows rows")
      var (expSum, expXor, expHx, i) = (0L, 0L, 0L, 0L)
      while (i < rows) { expSum += i; expXor ^= i; expHx ^= mix64(i); i += 1 }
      require(sum == expSum && xor == expXor && hx == expHx,
        s"drained id multiset mismatch: sum=$sum/$expSum xor=$xor/$expXor " +
          s"hash=$hx/$expHx")
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"metric":"spool_check","rows":$n,"pages":$pages,""" +
        s""""codec":"$codec","spoolBytes":$spoolBytes,""" +
        s""""sec":${JsonNum.f3(sec)},"complete":true}""")
    } finally spark.stop()
  }

  // ------------------------------------------------------- ratio legs

  /** Copy id-range stride. Copies only stay disjoint while every base
    * id is below it — asserted at corpus-build time, so a grown base
    * corpus fails loudly instead of silently colliding ids and
    * invalidating the ×copies-structure claim. */
  private val idOffset = 10000000L

  /** `copies` rows per input row, copy number in column `c`. */
  private def replicate(df: DataFrame, copies: Int, ids: Seq[String]): DataFrame = {
    ids.foreach { c =>
      val mx = df.agg(max(col(c))).head.getLong(0)
      require(mx < idOffset,
        s"base corpus $c max $mx >= copy stride $idOffset — raise idOffset")
    }
    df.select(col("*"), explode(sequence(lit(0), lit(copies - 1))).as("c"))
  }

  /** Id column `c` moved into copy c's disjoint range. */
  private def shifted(c: String): Column =
    (col(c) + col("c").cast("long") * idOffset).as(c)

  /** Document copies with disjoint id ranges; copies c>0 get every WORD
    * prefixed with the copy tag, so no shingle/trigram ever matches
    * across copies and the duplicate-pair structure is exactly copies ×
    * the sf0.1 structure (verbatim replication would instead create
    * C(copies,2) cross-copy dup pairs per document — quadratic by
    * construction, not a scale test). */
  private[graft] def scaleDocs(docs: DataFrame, copies: Int): DataFrame =
    replicate(docs, copies, Seq("doc_id")).select(shifted("doc_id"),
      when(col("c") === 0, col("text")).otherwise(array_join(
        transform(split(col("text"), " "),
          w => concat(lit("c"), col("c"), lit("_"), w)), " ")).as("text"),
      col("lang"), col("source"), col("n_chars"))

  /** Copy c's vectors get an ORTHOGONAL per-copy transform — circular
    * shift by c mod dim, with an alternating sign flip once shifts wrap
    * (copies ≥ dim) — so every WITHIN-copy cosine is exactly the sf0.1
    * value (each copy carries an identical duplicate-pair structure)
    * while CROSS-copy cosines scramble to noise. This is the embedding
    * analogue of the word-prefix trick: before round 8 copies kept
    * vectors verbatim, so cross-copy cos=1 pairs made the true pair
    * structure grow quadratically in the copy count and s06's ratio
    * measured that adversarial truth (3.6 single-probe, 9.5
    * multi-probe), not the operator's scaling. ANN probe sets still pin
    * vec_id < 10 (copy 0), so query count stays fixed while the corpus
    * grows. */
  private[graft] def scaleEmb(emb: DataFrame, copies: Int): DataFrame = {
    // derive the shift modulus from the data: a hardcoded dim with a
    // smaller real embedding would build negative-length slices —
    // empty vectors, silently invalidating the scale corpus
    val dims = emb.select(size(col("embedding")).as("d")).distinct()
      .collect().map(_.getInt(0))
    require(dims.length == 1,
      s"mixed embedding dimensions ${dims.toSeq} — cannot build scale corpus")
    val dim = dims.head
    require(copies <= 2 * dim,
      s"per-copy orthogonal transforms are distinct only for <= ${2 * dim} copies")
    replicate(emb, copies, Seq("vec_id")).select(shifted("vec_id"),
      when(col("c") === 0, col("embedding")).otherwise {
        val sh = (col("c") % dim).cast("int")
        val rot = concat(
          slice(col("embedding"), sh + lit(1), size(col("embedding")) - sh),
          slice(col("embedding"), lit(1), sh))
        // copies dim..2·dim−1 reuse shifts 0..dim−1: an alternating
        // sign flip (itself orthogonal) keeps those copies' cross-copy
        // cosines scrambled instead of verbatim-identical
        when(col("c") < dim, rot).otherwise(
          transform(rot, (x, i) => when(i % 2 === 0, x).otherwise(-x)))
      }.as("embedding"),
      col("label"))
  }

  /** Copy c's events keep their timestamps but get disjoint user_id /
    * event_id ranges — each copy is an identical, independent user
    * population, so per-user session/funnel/transition structure is
    * exactly copies × the sf0.1 structure (users never straddle copies;
    * windows partition by user_id). */
  private[graft] def scaleEvents(ev: DataFrame, copies: Int): DataFrame =
    replicate(ev, copies, Seq("event_id", "user_id")).select(
      shifted("event_id"), col("ts"), shifted("user_id"),
      col("event_type"), col("value"), col("props"))

  /** Customer copies for the record-linkage family: disjoint key
    * ranges, and copy c>0 names carry the copy tag as a PREFIX — same
    * rationale as [[scaleDocs]]'s word prefixes: verbatim name
    * replication would make every cross-copy namesake a distance-0
    * link (quadratic in copies by construction); prefixed names land
    * in per-copy blocks, so the true link structure is exactly
    * copies × the sf0.1 structure. */
  private def scaleCustomer(cust: DataFrame, copies: Int): DataFrame =
    replicate(cust, copies, Seq("c_custkey")).select(shifted("c_custkey"),
      when(col("c") === 0, col("c_name"))
        .otherwise(concat(lit("c"), col("c"), lit("_"), col("c_name")))
        .as("c_name"),
      col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))

  /** Lineitem copies for the layout family (p21): l_orderkey gets
    * disjoint per-copy ranges (fact keys grow with the table) while
    * l_partkey is kept VERBATIM (dimension keys are bounded however
    * large the fact table gets) — so the scaled table is exactly what
    * a growing fact table looks like to a z-order audit: a wider
    * orderkey axis over the same partkey axis, bucket count growing
    * linearly in copies, per-bucket envelopes unchanged. Only the two
    * layout columns are carried; p21 reads nothing else. */
  private def scaleLineitem(li: DataFrame, copies: Int): DataFrame =
    replicate(li.select(col("l_orderkey"), col("l_partkey")), copies,
      Seq("l_orderkey")).select(shifted("l_orderkey"), col("l_partkey"))

  /** Empirical scale check for the dedup/ANN/pipeline families: build a
    * `copies`× corpus from sf0.1 and compare per-query wall time against
    * sf0.1 in the same JVM. A query whose cost grows much faster than
    * the row growth has a super-linear term that would kill it at
    * 100 TB — this is the cheapest falsifier for every "at scale" claim
    * in the operator scaladocs. Each query is measured at both scales
    * through a `noop` sink; the 1× measure's warm run matters most —
    * without it the 1× run pays this query's codegen/JIT and the ratio
    * reads below 1.
    *
    * Args: `[outDir] [--copies N] [name ...]` (defaults target/scaleN,
    * 10, every family entry below). Prints the ratio table. */
  private val proofNames = Seq(
    "d01_dedup_exact", "d02_word_jaccard", "d03_minhash_lsh", "d04_simhash",
    "d05_simhash_pairs", "d06_embed_neardup", "d07_incremental_dedup",
    "d08_dedup_keep_best", "d09_dup_clusters", "d10_ppjoin_allpairs",
    "s01_ann_bruteforce", "s02_ann_lsh", "s03_ann_ivf",
    "s04_embed_doc_search", "s05_kmeans_train",
    "p01_decontaminate", "p02_stratified_sample", "p03_pack_sequences",
    "p04_repetition_score", "p05_mixture_stats", "p06_mixture_sample",
    "p07_vocab_build", "s06_semantic_dedup", "t10_rank_score",
    "d12_bloom_incremental_dedup", "d13_winnowing", "d14_clone_pairs",
    "p08_bpe_train", "s07_ann_pq", "s08_ann_ivfpq", "s09_ann_sq",
    "d15_containment", "t11_bigram_coverage", "t12_max_run",
    "p09_bpe_encode", "p10_quality_funnel",
    "e03_sessionize", "e08_funnel", "e09_retention", "e10_locf_fill",
    "e11_transitions", "e12_gap_stats", "p11_mixture_temperature",
    "m02_decode_features", "m04_batch_embed",
    "d16_paragraph_dedup", "d17_paragraph_neardup", "s10_ann_filtered",
    "d18_boilerplate_strip", "s11_ann_persisted", "s12_ann_ivfpq_persisted",
    "s13_ann_filtered_probe", "s14_ann_persisted_append",
    "p12_pipeline_compose", "p13_pipeline_full",
    "t13_lexical_diversity", "p14_global_shuffle", "s15_index_compact",
    "s16_index_drift", "p15_token_budget", "t14_redact", "s17_ann_mmr",
    "d19_dup_spans", "p16_dsir_weights", "s18_index_delete",
    "e13_rate_anomaly", "s19_ivfpq_append", "p17_curriculum",
    "m05_image_decode", "p18_chunk_split", "d20_para_clusters",
    "s20_retrieval_pipeline",
    "t15_unigram_nll", "d21_entity_resolution", "q76_cms_topk",
    "s21_recall_eval", "e15_pattern_match", "p19_dataset_card",
    "s22_hybrid_search", "m06_audio_frames", "p20_multimodal_pack", "e16_incremental_agg",
    "d22_ngram_novelty", "t16_readability", "p22_loss_mask", "s23_range_search",
    "e17_sliding_hll_distinct", "p21_zorder_layout", "t17_char_entropy",
    "p23_epoch_interleave", "s24_index_stats",
    "t18_hashed_classifier", "p24_source_overlap", "q80_recursive_cte",
    "d23_incremental_minhash")

  private def proof(args: Array[String]): Unit = {
    val copies = flag(args, "--copies", 10)
    val rest = {
      val i = args.indexOf("--copies")
      if (i < 0) args.toSeq else args.toSeq.patch(i, Nil, 2)
    }
    val outDir = rest.headOption.getOrElse(s"target/scale$copies")
    val names = if (rest.length > 1) rest.drop(1) else proofNames
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    // build only the tables the selected queries read (a 100× docs
    // table is GBs — skip it for an embeddings-only spot run); every
    // s-family entry is embeddings-only except the three that join
    // documents (s04's text fetch, s10/s13's metadata predicate)
    val docsReadingAnn = Set(
      "s04_embed_doc_search", "s10_ann_filtered", "s13_ann_filtered_probe")
    def table(name: String, needed: Boolean, scale: (DataFrame, Int) => DataFrame): Unit =
      if (needed) cached(s"$outDir/$name.parquet")(d =>
        scale(spark.read.parquet(s"$sf01/$name.parquet"), copies)
          .repartition(32).write.mode("overwrite").parquet(d))
    table("embeddings", needed = true, scaleEmb)
    table("documents", names.exists(n => !n.startsWith("s") || docsReadingAnn(n)), scaleDocs)
    table("events", names.exists(_.startsWith("e")), scaleEvents)
    table("customer", names.contains("d21_entity_resolution"), scaleCustomer)
    table("lineitem", names.contains("p21_zorder_layout"), scaleLineitem)

    def time(name: String, dir: String): Double = measure(spark, Seq(name -> (() =>
      timed {
        SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
        Nil
      }))).head._2._1

    println(f"${"query"}%-24s ${"sf0.1"}%8s ${copies + "x"}%8s  ratio")
    names.foreach { n =>
      val (t1, tN) = (time(n, sf01), time(n, outDir))
      println(f"$n%-24s $t1%8.2f $tN%8.2f  ${tN / t1}%5.1f")
    }
    spark.stop()
  }

  /** Empirical scale check for the LAKEHOUSE VERBS (the `proof`
    * companion): every l-family scaladoc claims "cost is O(touched
    * files), never O(table)" — this measures it. Two versioned tables
    * are built from the sf0.1 documents corpus, one at 1× (32
    * range-clustered files) and one at copies× rows AND copies× files,
    * and each verb performs the SAME absolute work on both:
    *
    *  - MERGE upserts a fixed ~n/32 of the base id range (≈ 1 file's
    *    key span at both scales — range clustering is the layout that
    *    makes the touched set scale-invariant, p21's argument);
    *  - DELETE / UPDATE hit a fixed narrow id band (≈ 1 file);
    *  - COMPACT bin-packs the same 5 small appended files at both scales
    *    (the big base files sit above the threshold);
    *  - EXPIRE retires the same number of snapshots.
    *
    * If the verbs were O(table), every ratio would read ≈ copies;
    * O(touched files) predicts ratios ≈ 1 plus the honest sublinear
    * terms that DO scale with the table — the touched-file DISCOVERY
    * pass (a predicate scan whose parquet footer min/max stats skip
    * non-matching files when the predicate correlates with the range
    * layout) and the O(files) manifest write. The uncorrelated-predicate
    * case (discovery degrades to a full scan) is documented in
    * SCALEPROOF.md and measured by `delete-uncorr` — range clustering
    * is the prescribed layout for takedown predicates.
    *
    * Each verb changes its table, so it is timed ONCE per scale (a
    * repeat would time different work) after a whole warm-up pass on a
    * separate 1× table absorbs codegen/JIT; Bench's per-measurement
    * hygiene runs after every verb.
    *
    * Args: `[--copies N]` (default 10). Prints the ratio table. */
  private def lakehouse(args: Array[String]): Unit = {
    val copies = flag(args, "--copies", 10)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    val base = spark.read.parquet(s"$sf01/documents.parquet")
    val span = 5000L // sf0.1 doc_id range; fixed verb work = span/32 ids
    val band = span / 32
    def once(f: => Unit): Double = try timed { f; Nil }._1 finally Bench.cleanup(spark)
    def fresh(dir: String): Unit = { rmTree(new File(dir)); new File(dir).mkdirs() }
    def docs(copies: Int) = if (copies == 1) base else scaleDocs(base, copies)

    // fixed-work verb suite, identical absolute inputs at both scales
    def verbs(dir: String): Seq[(String, () => Unit)] = Seq(
      "merge" -> (() => {
        val src = base.filter(col("doc_id") < band)
          .withColumn("text", concat(lit("u_"), col("text")))
        GraftMerge.mergeInto(spark, dir, src, "doc_id"): Unit
      }),
      "delete" -> (() =>
        GraftMerge.deleteFrom(spark, dir,
          col("doc_id") >= band && col("doc_id") < 2 * band): Unit),
      "update" -> (() =>
        GraftMerge.updateWhere(spark, dir,
          col("doc_id") >= 2 * band && col("doc_id") < 3 * band,
          Seq("lang" -> lit("xx"))): Unit),
      // 16 KB: above the 5 tiny appended files, BELOW the ~46 KB
      // range-clustered base files — compaction must pack the appends
      // only, at both scales, or the measurement degrades to O(table)
      "compact" -> (() =>
        GraftMerge.compact(spark, dir, smallBytes = 16 * 1024L): Unit),
      // the honest degradation case: an UNANALYZABLE predicate (a
      // function call — no conjunct bounds extractable) forces the
      // discovery pass to scan every file — matches zero rows,
      // isolating the pure discovery cost the layout argument (p21)
      // and the stats channels exist to avoid. Expect growth here;
      // that is the measurement's point. (A plain `lang = 'zz'` no
      // longer degrades: string stats prune impossible values from
      // the manifest alone.)
      "delete-uncorr" -> (() =>
        GraftMerge.deleteFrom(spark, dir, length(col("lang")) === -1): Unit),
      "expire" -> (() =>
        GraftVersions.expire(dir, keepLast = 2, orphanGraceMillis = 0L): Unit))

    // the table: the corpus as `files` range-clustered files on doc_id
    // (snapshot 1), plus 5 small appends (snapshots 2–6) for compaction
    // to pack
    def run(copies: Int, files: Int, dir: String): Map[String, Double] = {
      fresh(dir)
      GraftVersions.commit(dir,
        docs(copies).repartitionByRange(files, col("doc_id")), overwrite = false)
      (1 to 5).foreach { i =>
        GraftVersions.commit(dir,
          base.filter(col("doc_id") < 20)
            .withColumn("doc_id", col("doc_id") + lit(20000000L + i * 100L)),
          overwrite = false)
      }
      verbs(dir).map { case (name, f) => name -> once(f()) }.toMap
    }

    // the bloom point channel, measured on an id-UNCORRELATED layout
    // (scattered by text, high-cardinality: every file non-empty with a
    // doc_id range spanning the corpus, so min/max stats prune nothing):
    // a point DELETE without sidecars is the honest O(table) discovery
    // caveat; with sidecars it reads the manifest + the files that
    // actually hold the id — the before/after pair for GraftBlooms
    def pointDelete(copies: Int, files: Int, dir: String,
        bloom: Boolean): Double = {
      fresh(dir)
      if (bloom) spark.conf.set("spark.sql.graft.bloom.columns", "doc_id")
      try GraftVersions.commit(dir,
        docs(copies).repartition(files, col("text")), overwrite = false)
      finally spark.conf.unset("spark.sql.graft.bloom.columns")
      once(GraftMerge.deleteFrom(spark, dir, col("doc_id") === band): Unit)
    }

    val root = "/dev/shm/graft-lakescale"
    run(1, 32, s"$root/warm")
    val t1 = run(1, 32, s"$root/x1")
    val tN = run(copies, 32 * copies, s"$root/x$copies")
    println(f"${"verb"}%-10s ${"1x(32f)"}%9s ${copies + "x(" + 32 * copies + "f)"}%12s  ratio")
    Seq("merge", "delete", "update", "compact", "delete-uncorr",
        "expire").foreach { v =>
      println(f"$v%-10s ${t1(v)}%9.2f ${tN(v)}%12.2f  ${tN(v) / t1(v)}%5.1f")
    }
    pointDelete(1, 32, s"$root/pwarm", bloom = true) // warm the path
    val p1b = pointDelete(1, 32, s"$root/p1b", bloom = true)
    val pNb = pointDelete(copies, 32 * copies, s"$root/pNb", bloom = true)
    val p1n = pointDelete(1, 32, s"$root/p1n", bloom = false)
    val pNn = pointDelete(copies, 32 * copies, s"$root/pNn", bloom = false)
    println(f"${"point-delete (uncorrelated layout)"}%-34s")
    println(f"${"  with blooms"}%-34s ${p1b}%6.2f ${pNb}%6.2f  ${pNb / p1b}%5.1f")
    println(f"${"  without"}%-34s ${p1n}%6.2f ${pNn}%6.2f  ${pNn / p1n}%5.1f")
    rmTree(new File(root))
    spark.stop()
  }
}
