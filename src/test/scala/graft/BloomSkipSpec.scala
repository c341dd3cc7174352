package graft

import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{EqualTo, IsNotNull, IsNull, Literal}
import org.apache.spark.sql.functions._

import graft.sources.{GraftMerge, GraftVersions}

/** Bloom-sidecar point skipping (GraftBlooms): the layout-independent
  * file-pruning channel for equality/IN predicates. Min/max manifest
  * stats prune a point predicate only on a column the table is
  * CLUSTERED by; every table here is deliberately laid out so the
  * probed column spans every file's range — min/max alone keeps all
  * files candidates, and any file-count reduction below that is the
  * bloom's doing. */
class BloomSkipSpec extends SparkSpec {

  /** 64 rows hash-partitioned by `k % 8` (hash collisions may pack
    * several groups into one file — file COUNT is derived, not
    * assumed): every file holds a k-residue class spanning [g, 56+g],
    * so each file's k-range overlaps every point k and min/max stats
    * prune nothing on k. */
  private def buildScattered(table: String, bloomCols: String): String = {
    val root = freshRoot("graft_bl")
    import spark.implicits._
    spark.conf.set("spark.sql.graft.bloom.columns", bloomCols)
    (0 until 64).map(k => (k, k % 8, s"doc_$k")).toDF("k", "grp", "v")
      .repartition(8, col("grp")).createOrReplaceTempView("bl_src")
    spark.sql(s"""CREATE TABLE psql.tpcds.$table
                 |TBLPROPERTIES('versioned'='true')
                 |AS SELECT * FROM bl_src""".stripMargin)
    s"$root/$table.parquet"
  }

  private def ks(table: String): Set[Int] =
    spark.sql(s"SELECT k FROM psql.tpcds.$table").collect()
      .map(_.getInt(0)).toSet

  test("point DELETE rewrites only the file that contains the id") {
    try {
      val dir = buildScattered("bl1", "k")
      val n = GraftVersions.manifest(dir, 1).size
      assert(n >= 4, s"fragmentation precondition: $n files")
      // candidate pins: the point and the SQL DELETE's IN list keep
      // only the files holding them
      val hold13 = filesHolding(dir, col("k") === 13)
      assert(hold13.size == 1 && candidateFiles(dir, col("k") === 13) == hold13)
      val inList = col("k").isin(5, 21)
      val holdIn = filesHolding(dir, inList)
      assert(holdIn.nonEmpty && holdIn.size < n)
      assert(candidateFiles(dir, inList) == holdIn)
      // blooms: a handful of values in a ~1% @100k-item filter — false
      // positives are vanishingly improbable, so accounting is exact:
      // k=13 lives in exactly ONE residue-class file
      val (base, kept, rewritten) =
        GraftMerge.deleteFrom(spark, dir, col("k") === 13)
      assert(base == 1 && rewritten == 1 && kept == n - 1,
        s"bloom skip failed: kept=$kept rewritten=$rewritten of $n")
      assert(ks("bl1") == (0 until 64).toSet - 13)
      // and through the NATIVE SQL statement with an IN list: 5 and 21
      // share a residue class, though the v2 rewrite may have split
      // that class across two replacement files — at most 2 rewrites,
      // everything else carried by reference
      spark.sql("DELETE FROM psql.tpcds.bl1 WHERE k IN (5, 21)")
      assert(ks("bl1") == (0 until 64).toSet -- Set(13, 5, 21))
      val v2 = GraftVersions.manifest(dir, 2).map(_.split('/').last).toSet
      val v3 = GraftVersions.manifest(dir, 3).map(_.split('/').last).toSet
      val touched = v2.size - v2.intersect(v3).size
      assert(touched >= 1 && touched <= 2,
        s"IN-list should touch 1-2 of ${v2.size} files, touched $touched")
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("a constraint is keyed by the schema's spelling of its column") {
    try {
      val dir = buildScattered("bl10", "k")
      // case-insensitive session: K names column k, so its stats and
      // sidecars apply
      val hold = filesHolding(dir, col("k") === 13)
      assert(hold.size == 1)
      assert(candidateFiles(dir, col("K") === 13) == hold)
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("string-channel bloom prunes equality on a text column") {
    try {
      val dir = buildScattered("bl2", "v")
      val n = GraftVersions.manifest(dir, 1).size
      val hold = filesHolding(dir, col("v") === "doc_37")
      assert(hold.size == 1 && candidateFiles(dir, col("v") === "doc_37") == hold)
      // a MERGE source with a small STRING key set probes the same channel
      import spark.implicits._
      val keys = Seq("doc_37", "doc_40", "absent").toDF("v")
      assert(mergeCandidateFiles(dir, keys, "v") ==
        filesHolding(dir, col("v").isin("doc_37", "doc_40")))
      val (_, kept, rewritten) =
        GraftMerge.deleteFrom(spark, dir, col("v") === "doc_37")
      assert(rewritten == 1 && kept == n - 1,
        s"string bloom skip failed: kept=$kept rewritten=$rewritten of $n")
      assert(ks("bl2") == (0 until 64).toSet - 37)
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("unsatisfiable point conjunction prunes every file (no-op delete)") {
    try {
      val dir = buildScattered("bl3", "k")
      val n = GraftVersions.manifest(dir, 1).size
      val v0 = GraftVersions.current(dir)
      assert(candidateFiles(dir, col("k") === 5 && col("k") === 6).isEmpty)
      val (_, kept, rewritten) =
        GraftMerge.deleteFrom(spark, dir, col("k") === 5 && col("k") === 6)
      assert(rewritten == 0 && kept == n, s"kept=$kept rewritten=$rewritten")
      assert(GraftVersions.current(dir) == v0, "no-op must not commit")
      assert(ks("bl3") == (0 until 64).toSet)
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("missing sidecars degrade to discovery, never to a wrong answer") {
    // same layout WITHOUT blooms: correctness identical, all files
    // stay candidates (the sound fallback for pre-bloom tables)
    val dir = buildScattered("bl4", "")
    spark.conf.unset("spark.sql.graft.bloom.columns")
    val n = GraftVersions.manifest(dir, 1).size
    // nothing prunes a point on an unclustered column without sidecars
    assert(candidateFiles(dir, col("k") === 13) == allFiles(dir))
    val (_, kept, rewritten) =
      GraftMerge.deleteFrom(spark, dir, col("k") === 13)
    assert(rewritten == 1 && kept == n - 1,
      "exact per-row discovery still finds the single touched file")
    assert(ks("bl4") == (0 until 64).toSet - 13)
    assert(!new java.io.File(dir, "_blooms").isDirectory)
  }

  test("UPDATE and MERGE paths keep blooms fresh across rewrites") {
    try {
      val dir = buildScattered("bl5", "k")
      // copy-on-write UPDATE through the statement surface: the
      // rewritten replacement file gets NEW sidecars at commit
      spark.sql("UPDATE psql.tpcds.bl5 SET v = 'touched' WHERE k = 22")
      val n2 = GraftVersions.manifest(dir, GraftVersions.current(dir)).size
      // the resolved-statement shape SQL UPDATE hands over (a Catalyst
      // expression over a name) prunes like the Scala API's Column
      val hold22 = filesHolding(dir, col("k") === 22)
      assert(hold22.size == 1 && candidateFiles(dir, col("k") === 22) == hold22)
      assert(candidateFiles(dir, GraftBridge.column(
        EqualTo(UnresolvedAttribute.quoted("k"), Literal(22)))) == hold22)
      val (_, kept2, rewritten2) =
        GraftMerge.deleteFrom(spark, dir, col("k") === 22)
      assert(rewritten2 == 1 && kept2 == n2 - 1,
        s"post-update bloom stale: kept=$kept2 rewritten=$rewritten2 of $n2")
      assert(ks("bl5") == (0 until 64).toSet - 22)
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("MERGE with a small source key set probes blooms (CDC upsert shape)") {
    try {
      val dir = buildScattered("bl7", "k")
      val n = GraftVersions.manifest(dir, 1).size
      import spark.implicits._
      // 2 keys, same residue class (13 % 8 == 21 % 8): ONE touched file
      val src = Seq((13, 13 % 8, "u13"), (21, 21 % 8, "u21"), (999, 7, "new"))
        .toDF("k", "grp", "v")
      // the key range spans every file; the key SET's blooms keep only
      // the files holding 13 or 21
      assert(mergeCandidateFiles(dir, src, "k") ==
        filesHolding(dir, col("k").isin(13, 21)))
      val (base, reused, rewritten) =
        GraftMerge.mergeInto(spark, dir, src, "k")
      assert(base == 1 && rewritten <= 2 && reused >= n - 2,
        s"merge key-set bloom skip failed: reused=$reused rewritten=$rewritten of $n")
      val got = spark.sql("SELECT k, v FROM psql.tpcds.bl7 WHERE k IN (13, 21, 999)")
        .collect().map(r => (r.getInt(0), r.getString(1))).toSet
      assert(got == Set((13, "u13"), (21, "u21"), (999, "new")))
      assert(spark.sql("SELECT COUNT(*) FROM psql.tpcds.bl7").head.getLong(0) == 65)
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("bloom column list persists in the table: conf-less writers keep sidecars fresh") {
    val dir = buildScattered("bl8", "k")
    // a LATER session/writer without the conf: rewrites must still
    // produce sidecars (the persisted _config record carries the list)
    spark.conf.unset("spark.sql.graft.bloom.columns")
    spark.sql("DELETE FROM psql.tpcds.bl8 WHERE k = 13")
    val v2New = GraftVersions.manifest(dir, 2).map(_.split('/').last)
      .filter(_.startsWith("v2-"))
    assert(v2New.nonEmpty)
    val bdir = new java.io.File(dir, "_blooms")
    v2New.foreach { f =>
      assert(new java.io.File(bdir, s"$f.k.bloom").isFile,
        s"conf-less rewrite dropped the sidecar for $f")
    }
    // and the point channel still prunes exactly on the next delete
    val n2 = GraftVersions.manifest(dir, 2).size
    assert(candidateFiles(dir, col("k") === 21) == filesHolding(dir, col("k") === 21))
    val (_, kept, rewritten) =
      GraftMerge.deleteFrom(spark, dir, col("k") === 21)
    assert(rewritten == 1 && kept == n2 - 1,
      s"post-conf-less-rewrite skip failed: kept=$kept rewritten=$rewritten of $n2")
  }

  /** Exactly 3 files by construction — one single-partition commit
    * per group: grp 0 all-null v, grp 1 mixed, grp 2 no nulls. */
  private def buildNullGroups(table: String): String = {
    val root = freshRoot("graft_bl")
    import spark.implicits._
    val groups = Seq(
      Seq((0, 0, null: String), (1, 0, null: String)),
      Seq((2, 1, "x"), (3, 1, null: String)),
      Seq((4, 2, "y"), (5, 2, "z")))
    groups.head.toDF("k", "grp", "v").coalesce(1)
      .createOrReplaceTempView("ns_src")
    spark.sql(s"""CREATE TABLE psql.tpcds.$table TBLPROPERTIES('versioned'='true')
                 |AS SELECT * FROM ns_src""".stripMargin)
    val dir = s"$root/$table.parquet"
    groups.drop(1).foreach { g =>
      GraftVersions.commit(dir, g.toDF("k", "grp", "v").coalesce(1),
        overwrite = false)
    }
    dir
  }

  test("null-count stats prune IS NULL / IS NOT NULL discovery") {
    val dir = buildNullGroups("ns1")
    val base = GraftVersions.current(dir)
    val n = GraftVersions.manifest(dir, base).size
    assert(n == 3, s"expected 3 single-group files, got $n")
    // null counts, on the resolved-statement shape SQL UPDATE hands
    // over: IS NULL keeps the two files with nulls, IS NOT NULL the two
    // with a value, and both together none
    val withNull = filesHolding(dir, col("v").isNull)
    val withValue = filesHolding(dir, col("v").isNotNull)
    assert(withNull.size == 2 && withValue.size == 2 && withNull != withValue)
    val isNull = GraftBridge.column(IsNull(UnresolvedAttribute.quoted("v")))
    val isNotNull = GraftBridge.column(IsNotNull(UnresolvedAttribute.quoted("v")))
    assert(candidateFiles(dir, isNull) == withNull)
    assert(candidateFiles(dir, isNotNull) == withValue)
    assert(candidateFiles(dir, isNull && isNotNull).isEmpty)
    // IS NULL touches only the files that HAVE nulls (grp 0 and 1)
    val (_, kept1, rewritten1) =
      GraftMerge.deleteFrom(spark, dir, col("v").isNull)
    assert(rewritten1 == 2 && kept1 == 1,
      s"IS NULL skip failed: kept=$kept1 rewritten=$rewritten1 of $n")
    assert(spark.sql("SELECT k FROM psql.tpcds.ns1").collect()
      .map(_.getInt(0)).toSet == Set(2, 4, 5))
    // IS NOT NULL touches only files with at least one non-null —
    // v2's state: the all-null file was dropped entirely, mixed file
    // rewrote to one non-null row, grp-2 file carried
    val n2 = GraftVersions.manifest(dir, 2).size
    val (_, kept2, rewritten2) =
      GraftMerge.deleteFrom(spark, dir, col("v").isNotNull)
    assert(rewritten2 == n2 && kept2 == 0,
      s"IS NOT NULL should touch every remaining file: " +
        s"kept=$kept2 rewritten=$rewritten2 of $n2")
    assert(spark.sql("SELECT COUNT(*) FROM psql.tpcds.ns1").head.getLong(0) == 0)
  }

  test("the Column API's IS [NOT] NULL prunes by null counts") {
    val dir = buildNullGroups("ns2")
    assert(candidateFiles(dir, col("v").isNull) == filesHolding(dir, col("v").isNull))
    assert(candidateFiles(dir, col("v").isNotNull) ==
      filesHolding(dir, col("v").isNotNull))
    assert(candidateFiles(dir, col("v").isNull && col("v").isNotNull).isEmpty)
  }

  test("racing bloom-conf'd appends: all rows land, every file gets sidecars") {
    try {
      val dir = buildScattered("bl9", "k")
      import spark.implicits._
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      (1 to 5).foreach { rep =>
        val threads = (0 until 4).map { i =>
          val df = Seq((1000 * rep + i, i, s"w$rep-$i")).toDF("k", "grp", "v")
          new Thread(() =>
            try GraftVersions.commit(dir, df, overwrite = false)
            catch { case t: Throwable => errs.add(t) })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
        assert(errs.isEmpty, s"round $rep: a racing writer died: ${errs.peek()}")
      }
      val expected = (0 until 64).toSet ++
        (1 to 5).flatMap(rep => (0 until 4).map(1000 * rep + _))
      assert(ks("bl9") == expected)
      // every file of the FINAL manifest carries its k-sidecar —
      // including racers' files renamed by commit-retry reprefixing
      // (blooms are written with the post-publish final names)
      val cur = GraftVersions.current(dir)
      val bdir = new java.io.File(dir, "_blooms")
      GraftVersions.manifest(dir, cur).map(_.split('/').last).foreach { f =>
        assert(new java.io.File(bdir, s"$f.k.bloom").isFile,
          s"racer file without sidecar: $f")
      }
      // and point skipping stays exact over the raced-in files
      val n = GraftVersions.manifest(dir, cur).size
      assert(candidateFiles(dir, col("k") === 3001) ==
        filesHolding(dir, col("k") === 3001))
      val (_, kept, rewritten) =
        GraftMerge.deleteFrom(spark, dir, col("k") === 3001)
      assert(rewritten == 1 && kept == n - 1,
        s"post-race skip failed: kept=$kept rewritten=$rewritten of $n")
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("vacuum deletes the sidecars of vacuumed data files") {
    try {
      val dir = buildScattered("bl6", "k")
      val v1Files = GraftVersions.manifest(dir, 1).map(_.split('/').last)
      spark.sql("DELETE FROM psql.tpcds.bl6 WHERE k = 13")
      val bdir = new java.io.File(dir, "_blooms")
      def sidecars() = Option(bdir.listFiles()).getOrElse(Array.empty)
        .map(_.getName).toSet
      val before = sidecars()
      assert(v1Files.forall(f => before.contains(s"$f.k.bloom")),
        s"every v1 file carries a k-bloom: $before")
      // expire v1 with zero grace: its exclusive file (the one the
      // delete rewrote) is vacuumed — its sidecar must go with it
      val (expired, deleted) = GraftVersions.expire(dir, 1, 0L)
      assert(expired == Seq(1) && deleted.nonEmpty)
      val after = sidecars()
      deleted.foreach { d =>
        assert(!after.contains(s"$d.k.bloom"), s"orphan sidecar for $d")
      }
      // live files keep theirs
      GraftVersions.manifest(dir, 2).map(_.split('/').last).foreach { f =>
        assert(after.contains(s"$f.k.bloom"), s"live sidecar missing: $f")
      }
      // a sidecar stranded by a crashed vacuum (data file gone) is
      // swept on the next expire; the _config record survives sweeps
      java.nio.file.Files.write(
        new java.io.File(bdir, "v0-gone.parquet.k.bloom").toPath,
        Array[Byte](1, 2, 3))
      GraftVersions.expire(dir, 1, 0L)
      assert(!sidecars().contains("v0-gone.parquet.k.bloom"),
        "orphan sidecar not swept")
      assert(new java.io.File(bdir, "_config").isFile, "_config swept")
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }

  test("cross-type point predicates never unsoundly skip (channel guard)") {
    try {
      val root = freshRoot("graft_bl")
      import spark.implicits._
      // bloom BOTH channels: sv is k's decimal string, so cross-type
      // literals compare TRUE through Spark's implicit casts while the
      // sidecar hash channels differ — exactly ADVICE r13's trap
      spark.conf.set("spark.sql.graft.bloom.columns", "k,sv")
      (0 until 64).map(k => (k, k.toString, k % 8)).toDF("k", "sv", "grp")
        .repartition(8, col("grp")).createOrReplaceTempView("bl_xt")
      spark.sql("""CREATE TABLE psql.tpcds.bl7
                  |TBLPROPERTIES('versioned'='true')
                  |AS SELECT * FROM bl_xt""".stripMargin)
      val dir = s"$root/bl7.parquet"
      def remaining(): Set[Int] = spark.sql("SELECT k FROM psql.tpcds.bl7")
        .collect().map(_.getInt(0)).toSet
      // cross-type literals constrain nothing: every file stays a
      // candidate; a type-matched empty intersection keeps none
      assert(candidateFiles(dir, col("sv") === 13) == allFiles(dir))
      assert(candidateFiles(dir, col("k") === "7" && col("k") === "07") ==
        allFiles(dir))
      assert(candidateFiles(dir, col("k") === 1 && col("k") === 2).isEmpty)
      assert(candidateFiles(dir, col("k") === 20) == filesHolding(dir, col("k") === 20))
      // LONG literal against the STRING column: the long point would
      // probe sv's string-channel sidecar, always miss, and prune every
      // file — the row sv='13' (which Spark's cast makes a match) must
      // still be deleted
      val (_, _, rw1) = GraftMerge.deleteFrom(spark, dir, col("sv") === 13)
      assert(rw1 >= 1, "channel-mismatched point set pruned all files")
      assert(remaining() == (0 until 64).toSet - 13)
      // STRING literals against the INT column, intersecting to the
      // EMPTY set ('7' ∩ '07') — yet both conjuncts cast to k = 7: the
      // unsat shortcut must not fire on a channel-mismatched set
      val (_, _, rw2) = GraftMerge.deleteFrom(spark, dir,
        col("k") === "7" && col("k") === "07")
      assert(rw2 >= 1, "cross-type empty intersection claimed unsat")
      assert(remaining() == (0 until 64).toSet - 13 - 7)
      // TYPE-MATCHED empty intersection IS genuine unsatisfiability:
      // zero files touched, zero rows lost, no discovery scan needed
      val (_, kept3, rw3) = GraftMerge.deleteFrom(spark, dir,
        col("k") === 1 && col("k") === 2)
      assert(rw3 == 0 && kept3 > 0, s"unsat prune regressed: rw=$rw3")
      assert(remaining() == (0 until 64).toSet - 13 - 7)
      // and the matched channels still SKIP: a point delete on k
      // rewrites exactly the file holding it
      val n = GraftVersions.manifest(dir, GraftVersions.current(dir)).size
      val (_, kept4, rw4) = GraftMerge.deleteFrom(spark, dir, col("k") === 20)
      assert(rw4 == 1 && kept4 == n - 1,
        s"bloom skip lost after channel guard: kept=$kept4 rw=$rw4 of $n")
      assert(remaining() == (0 until 64).toSet - 13 - 7 - 20)
    } finally spark.conf.unset("spark.sql.graft.bloom.columns")
  }
}
