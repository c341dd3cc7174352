package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

import graft.sources.{GraftMerge, GraftVersions}

/** MERGE INTO (l04) + concurrent-commit protocol gates: copy-on-write
  * file reuse, snapshot isolation under merge, optimistic append races
  * (both writers' rows survive), read-modify-write conflict detection,
  * and the vacuum guard for in-flight commit files. */
class MergeSpec extends SparkSpec {

  private def freshRoot(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_mg").toString
    spark.conf.set("spark.sql.graft.root", dir)
    dir
  }

  private def kvRows(q: String) = spark.sql(q).collect()
    .map(r => (r.getInt(0), r.getString(1))).toSet

  test("merge replaces matched rows, inserts unmatched, reuses untouched files") {
    val root = freshRoot()
    import spark.implicits._
    // 4 single-key files: per-key partitioning makes touched-file
    // accounting exact (source hits keys 2 and 4 → exactly 2 files)
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_src")
    spark.sql("""CREATE TABLE psql.tpcds.mg1 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src""".stripMargin)
    val dir = s"$root/mg1.parquet"
    val before = GraftVersions.manifest(dir, 1).map(p => new java.io.File(p).getName)
    val src = Seq((2, "B2"), (4, "D2"), (9, "NEW")).toDF("k", "v")
    val (base, reused, rewritten) = GraftMerge.mergeInto(spark, dir, src, "k")
    assert(base == 1)
    assert(reused + rewritten == before.size)
    assert(rewritten >= 1 && reused >= 1,
      s"expected partial rewrite, got reused=$reused rewritten=$rewritten")
    // post-merge state: updates applied, insert present, others kept
    assert(kvRows("SELECT * FROM psql.tpcds.mg1") ==
      Set((1, "a"), (2, "B2"), (3, "c"), (4, "D2"), (9, "NEW")))
    // pre-merge snapshot unchanged
    assert(kvRows("SELECT * FROM psql.tpcds.mg1 VERSION AS OF 1") ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // untouched files carried into v2's manifest BY NAME (no rewrite)
    val after = GraftVersions.manifest(dir, 2).map(p => new java.io.File(p).getName)
    val carried = before.toSet.intersect(after.toSet)
    assert(carried.size == reused, s"manifest reuse mismatch: $carried")
  }

  /** Swap the commit protocol's filesystem seam to the Hadoop-API
    * concrete for the span of `body` (verdict r18 #4): a FileContext
    * over the registered `graftfs:` scheme, whose rename kernel honors
    * the HDFS atomicity contracts (see [[GraftTestAbstractFs]]). The
    * race gates below run once per concrete — same protocol, two
    * storage recipes. */
  private def withHadoopIo[T](body: => T): T = {
    GraftVersions.ioOverride = Some(hadoopIo(leaseMillis = 60000L))
    try body finally GraftVersions.ioOverride = None
  }

  /** Build a graftfs FileContext + HadoopFsCommitIo with an explicit
    * lease term, for direct lease-protocol gates. */
  private def hadoopIo(leaseMillis: Long): graft.sources.HadoopFsCommitIo = {
    val conf = new org.apache.hadoop.conf.Configuration(
      spark.sessionState.newHadoopConf())
    conf.set("fs.AbstractFileSystem.graftfs.impl",
      classOf[GraftTestAbstractFs].getName)
    conf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      java.net.URI.create("graftfs:///"), conf)
    new graft.sources.HadoopFsCommitIo(fc,
      f => new org.apache.hadoop.fs.Path("graftfs", null, f.getAbsolutePath),
      lockLeaseMillis = leaseMillis)
  }

  /** Review r19: the lease stale-break must be FENCED. A crashed
    * holder's lease (mtime past the term, no renewal refreshing it) is
    * broken and the lock acquired promptly; a FRESH foreign lease is
    * honored for its full term, never deleted on sight. The graftfs
    * scheme maps paths onto the local filesystem, so the lease's
    * backing file is manipulable directly. */
  test("lease lock: a stale lease is broken, a fresh one honored for its term (HadoopFsCommitIo)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lease").toFile
    val lockFile = new java.io.File(dir, "_lock")
    val leaseFile = new java.io.File(dir, "_lock.lease")
    val io = hadoopIo(leaseMillis = 400L)
    // crashed holder: a lease whose mtime is far past the term
    java.nio.file.Files.write(leaseFile.toPath, "crashed-pid".getBytes)
    assert(leaseFile.setLastModified(System.currentTimeMillis() - 10000L))
    var entered = false
    val t0 = System.nanoTime()
    io.withTableLock(lockFile) { entered = true }
    val staleSecs = (System.nanoTime() - t0) / 1e9
    assert(entered)
    assert(staleSecs < 5.0, s"stale break took $staleSecs s")
    assert(!leaseFile.exists, "released lease left behind")
    // live foreign holder: fresh mtime — the lock must WAIT the term
    // out (the holder 'crashes' by never renewing), not break on
    // sight. The bound is anchored to the OBSERVED stored mtime, not
    // the wall clock at write time, so filesystem timestamp
    // granularity cannot fake an already-stale lease.
    java.nio.file.Files.write(leaseFile.toPath, "foreign-pid".getBytes)
    val mtime = leaseFile.lastModified
    io.withTableLock(lockFile) {}
    val heldUntil = System.currentTimeMillis()
    assert(heldUntil - mtime >= 400L,
      s"fresh foreign lease broken ${heldUntil - mtime} ms after its " +
        "mtime (term 400)")
  }

  /** Review r19: release is token-checked. If the lease stops carrying
    * this acquisition's token (a breaker took it after a term overrun
    * and a successor now holds it), release must leave it intact — the
    * old unconditional delete cascaded the double-hold to a THIRD
    * process. Simulated by swapping the lease content mid-hold (the
    * term is long, so no renewal rewrites it back). */
  test("lease lock: release leaves a successor's lease intact (HadoopFsCommitIo)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lease2").toFile
    val lockFile = new java.io.File(dir, "_lock")
    val leaseFile = new java.io.File(dir, "_lock.lease")
    val io = hadoopIo(leaseMillis = 60000L)
    io.withTableLock(lockFile) {
      // a breaker + successor took the slot while we overran
      java.nio.file.Files.write(leaseFile.toPath, "successor-token".getBytes)
    }
    assert(leaseFile.exists, "release deleted a lease it no longer owned")
    assert(new String(java.nio.file.Files.readAllBytes(leaseFile.toPath))
      == "successor-token")
    leaseFile.delete()
  }

  /** Review r19 (second pass): renewal is CONDITIONAL. Once the slot
    * stops carrying this acquisition's token (a breaker + successor
    * took it during a term overrun), the old holder's renewal thread
    * must decline to rewrite — a blind overwrite would replace the
    * successor's lease with the old token and re-arm the cascading
    * double-hold the token-checked release exists to stop. */
  test("lease renewal declines once the slot carries another token (HadoopFsCommitIo)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_lease3").toFile
    val lockFile = new java.io.File(dir, "_lock")
    val leaseFile = new java.io.File(dir, "_lock.lease")
    val io = hadoopIo(leaseMillis = 400L) // renewal ticks every 100 ms
    io.withTableLock(lockFile) {
      // a breaker + successor replace the slot while we hold it
      java.nio.file.Files.write(leaseFile.toPath, "successor-token".getBytes)
      Thread.sleep(450L) // several renewal periods
      assert(new String(java.nio.file.Files.readAllBytes(leaseFile.toPath))
        == "successor-token",
        "a renewal clobbered the successor's lease with the old token")
    }
    assert(leaseFile.exists, "release deleted a lease it no longer owned")
    leaseFile.delete()
  }

  /** Review r19 (second pass): mutex keys are CANONICAL paths — two
    * aliased spellings of one lock file (here via a symlinked table
    * dir) must share the same-JVM mutex, or the second thread's OS
    * lock on the same inode throws OverlappingFileLockException
    * instead of blocking. */
  test("aliased lock-file spellings share one mutex (PosixCommitIo)") {
    val real = java.nio.file.Files.createTempDirectory("graft_alias").toFile
    val link = new java.io.File(real.getParentFile, real.getName + "-ln")
    java.nio.file.Files.createSymbolicLink(link.toPath, real.toPath)
    val spellings = Seq(new java.io.File(real, "_lock"),
      new java.io.File(link, "_lock"))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val overlap = new java.util.concurrent.atomic.AtomicInteger(0)
    val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = spellings.map(lf => new Thread(() =>
      try (1 to 10).foreach { _ =>
        graft.sources.PosixCommitIo.withTableLock(lf) {
          val c = overlap.incrementAndGet()
          maxSeen.updateAndGet(m => math.max(m, c))
          Thread.sleep(1L)
          overlap.decrementAndGet(); ()
        }
      } catch { case t: Throwable => errs.add(t); () }))
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(errs.isEmpty,
      s"aliased spellings collided at the OS lock: ${errs.peek()}")
    assert(maxSeen.get == 1,
      s"aliased spellings admitted ${maxSeen.get} concurrent holders")
    link.delete()
  }

  /** Review r19: a lost publish race must not strand its `.tmp-*`
    * sibling in the table directory (the cleanup now lives inside the
    * rename helper, covering every caller). */
  test("lost publishIfAbsent race leaves no temp orphan (HadoopFsCommitIo)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_pub").toFile
    val target = new java.io.File(dir, "00000002.json")
    val io = hadoopIo(leaseMillis = 60000L)
    assert(io.publishIfAbsent(target, "winner".getBytes))
    assert(!io.publishIfAbsent(target, "loser".getBytes))
    assert(new String(java.nio.file.Files.readAllBytes(target.toPath))
      == "winner")
    val leftovers = dir.listFiles().map(_.getName).filter(_.startsWith(".tmp-"))
    assert(leftovers.isEmpty, s"orphaned temps: ${leftovers.mkString(",")}")
  }

  /** r19: the process mutex under the table lock is PER LOCK FILE,
    * not JVM-global — commits to unrelated tables must proceed
    * concurrently in one driver (the old global mutex was a needless
    * multi-table DML throughput cap), while same-table contention
    * still excludes. Deadlock-shaped proof: thread A holds table 1's
    * lock until B signals from INSIDE table 2's lock — under a global
    * mutex B can never enter and both await time out. */
  test("table locks are per-table, not JVM-global (both concretes)") {
    val ios: Seq[(String, graft.sources.GraftCommitIo)] = Seq(
      "posix" -> graft.sources.PosixCommitIo,
      "hadoop" -> hadoopIo(leaseMillis = 60000L))
    ios.foreach { case (label, io) =>
      val dir = java.nio.file.Files.createTempDirectory("graft_mtx").toFile
      val t1 = new java.io.File(dir, "t1/_lock"); t1.getParentFile.mkdirs()
      val t2 = new java.io.File(dir, "t2/_lock"); t2.getParentFile.mkdirs()
      val aHolds = new java.util.concurrent.CountDownLatch(1)
      val bInside = new java.util.concurrent.CountDownLatch(1)
      val a = new Thread(() => io.withTableLock(t1) {
        aHolds.countDown()
        bInside.await(15, java.util.concurrent.TimeUnit.SECONDS); ()
      })
      a.start()
      assert(aHolds.await(15, java.util.concurrent.TimeUnit.SECONDS))
      val b = new Thread(() => io.withTableLock(t2) { bInside.countDown() })
      b.start()
      assert(bInside.await(10, java.util.concurrent.TimeUnit.SECONDS),
        s"$label: a second table's lock serialized behind the first")
      a.join(20000); b.join(20000)
      // same-table exclusion still holds: a reader inside t1's lock
      // observes no concurrent holder (counter never overlaps)
      val overlap = new java.util.concurrent.atomic.AtomicInteger(0)
      val maxSeen = new java.util.concurrent.atomic.AtomicInteger(0)
      val workers = (1 to 4).map(_ => new Thread(() =>
        (1 to 5).foreach { _ =>
          io.withTableLock(t1) {
            val c = overlap.incrementAndGet()
            maxSeen.updateAndGet(m => math.max(m, c))
            overlap.decrementAndGet(); ()
          }
        }))
      workers.foreach(_.start()); workers.foreach(_.join(30000))
      assert(maxSeen.get == 1,
        s"$label: same-table lock admitted ${maxSeen.get} concurrent holders")
    }
  }

  test("racing appends both land: no lost update, versions serialize") {
    racingAppendsGate("mg2")
  }

  test("racing appends land through the Hadoop commit recipes (HadoopFsCommitIo)") {
    withHadoopIo { racingAppendsGate("mg2h") }
  }

  private def racingAppendsGate(tbl: String): Unit = {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView(s"mg_src_$tbl")
    spark.sql(s"""CREATE TABLE psql.tpcds.$tbl TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src_$tbl""".stripMargin)
    val dir = s"$root/$tbl.parquet"
    // 20 consecutive rounds of a 4-way blind-append race (the r11 flake
    // fired roughly once per full suite run — a rerun-stability gate
    // needs repetition, not one lucky interleaving). Worker exceptions
    // are captured and FAIL the test: the r11 lost update died as a
    // silent NumberFormatException inside a bare Thread.
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reps = 20
    (1 to reps).foreach { rep =>
      val threads = (0 until 4).map { i =>
        val df = Seq((1000 * rep + i, s"w$rep-$i")).toDF("k", "v")
        new Thread(() =>
          try GraftVersions.commit(dir, df, overwrite = false)
          catch { case t: Throwable => errs.add(t) })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"round $rep: a racing writer died: ${errs.peek()}")
      assert(GraftVersions.current(dir) == 1 + 4 * rep,
        s"round $rep: a commit was lost (current=${GraftVersions.current(dir)})")
    }
    val expected = Set(1 -> "a") ++
      (1 to reps).flatMap(rep => (0 until 4).map(i => (1000 * rep + i) -> s"w$rep-$i"))
    assert(kvRows(s"SELECT * FROM psql.tpcds.$tbl") == expected)
    // intermediate snapshots are well-formed (no torn manifest): each
    // version adds exactly one row over its predecessor — spot-check
    // the first race's versions and the last five
    val last = 1 + 4 * reps
    ((1 to 5) ++ (last - 4 to last)).foreach { v =>
      assert(spark.sql(
        s"SELECT COUNT(*) FROM psql.tpcds.$tbl VERSION AS OF $v").head.getLong(0) == v)
    }
  }

  test("merge based on a stale snapshot fails loudly, losing no rows") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("mg_src3")
    spark.sql("""CREATE TABLE psql.tpcds.mg3 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src3""".stripMargin)
    val dir = s"$root/mg3.parquet"
    // a writer sneaks in a commit between the merge's snapshot read
    // (simulated: mergeCommit pinned to base=1) and its publish
    GraftVersions.commit(dir, Seq((2, "b")).toDF("k", "v"), overwrite = false)
    val ex = intercept[java.util.ConcurrentModificationException] {
      GraftVersions.mergeCommit(dir, expectedBase = 1, keepNames = Seq.empty,
        Seq((1, "A")).toDF("k", "v"))
    }
    assert(ex.getMessage.contains("conflicts"))
    // the concurrent writer's row survived; the failed merge left no
    // manifest and its staged files were surrendered
    assert(kvRows("SELECT * FROM psql.tpcds.mg3") == Set((1, "a"), (2, "b")))
    assert(GraftVersions.current(dir) == 2)
  }

  test("streaming upsert: each micro-batch is one snapshot, history time-travelable") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("mg_src5")
    spark.sql("""CREATE TABLE psql.tpcds.mg5 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src5""".stripMargin)
    val dir = s"$root/mg5.parquet"
    val srcDir = java.nio.file.Files.createTempDirectory("graft_mgs").toString
    Seq((2, "B"), (3, "c")).toDF("k", "v").coalesce(1)
      .write.parquet(s"$srcDir/batch1.parquet")
    val stream = spark.readStream
      .schema("k INT, v STRING")
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*.parquet")
    val q = graft.streaming.DocsStreaming.mergeStream(dir, "k", stream).start()
    try {
      q.processAllAvailable()
      assert(kvRows("SELECT * FROM psql.tpcds.mg5") ==
        Set((1, "a"), (2, "B"), (3, "c")))
      // second micro-batch arrives; the stream merges it as ANOTHER commit
      Seq((3, "C3"), (4, "d")).toDF("k", "v").coalesce(1)
        .write.parquet(s"$srcDir/batch2.parquet")
      q.processAllAvailable()
    } finally q.stop()
    assert(kvRows("SELECT * FROM psql.tpcds.mg5") ==
      Set((1, "a"), (2, "B"), (3, "C3"), (4, "d")))
    assert(GraftVersions.current(dir) == 3)
    // the intermediate micro-batch boundary is a time-travelable snapshot
    assert(kvRows("SELECT * FROM psql.tpcds.mg5 VERSION AS OF 2") ==
      Set((1, "a"), (2, "B"), (3, "c")))
    assert(kvRows("SELECT * FROM psql.tpcds.mg5 VERSION AS OF 1") ==
      Set((1, "a"), (2, "b")))
  }

  test("expire never vacuums an in-flight commit's files") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("mg_src4")
    spark.sql("""CREATE TABLE psql.tpcds.mg4 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src4""".stripMargin)
    spark.sql("INSERT INTO psql.tpcds.mg4 VALUES (2, 'b')")
    val dir = s"$root/mg4.parquet"
    // an in-flight commit has moved its file into data/ but not yet
    // published its manifest: version prefix beyond the pointer
    val inFlight = new java.io.File(s"$dir/data/v99-0-deadbeef.parquet")
    java.nio.file.Files.write(inFlight.toPath, Array[Byte](1, 2, 3))
    val (_, deleted) = GraftVersions.expire(dir, keepLast = 1)
    assert(!deleted.contains(inFlight.getName) && inFlight.exists(),
      "vacuum deleted an uncommitted snapshot's data file")
  }

  test("expire spares a losing writer's pre-reprefix files (orphan grace window)") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("mg_src6")
    spark.sql("""CREATE TABLE psql.tpcds.mg6 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src6""".stripMargin)
    spark.sql("INSERT INTO psql.tpcds.mg6 VALUES (2, 'b')")
    val dir = s"$root/mg6.parquet"
    // a racing LOSER's staged file: version prefix AT the pointer
    // (the winner of v2 already flipped `_current`), referenced by no
    // manifest, not yet re-prefixed to the next attempt — must survive
    // the vacuum (the r11 window: `prefix > cur` alone vacuums it)
    val loser = new java.io.File(s"$dir/data/v2-9-cafef00d.parquet")
    java.nio.file.Files.write(loser.toPath, Array[Byte](1, 2, 3))
    val (_, del1) = GraftVersions.expire(dir, keepLast = 1)
    assert(!del1.contains(loser.getName) && loser.exists(),
      "vacuum deleted a retrying writer's staged file inside the grace window")
    // once the grace window has passed, the same file is a dead orphan
    // (crashed writer / surrendered merge stage) and IS collected
    assert(loser.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L))
    val (_, del2) = GraftVersions.expire(dir, keepLast = 1)
    assert(del2.contains(loser.getName) && !loser.exists(),
      "vacuum never collected a dead orphan after the grace window")
  }

  test("copy-on-write delete rewrites only touched files; pre-delete snapshot intact") {
    val root = freshRoot()
    import spark.implicits._
    // 4 single-key files → exact touched-file accounting
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_srcA")
    spark.sql("""CREATE TABLE psql.tpcds.mgA TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcA""".stripMargin)
    val dir = s"$root/mgA.parquet"
    val before = GraftVersions.manifest(dir, 1).map(p => new java.io.File(p).getName)
    // no-match predicate: structural no-op, no commit
    val (_, _, rw0) = GraftMerge.deleteFrom(spark, dir, col("k") === 99)
    assert(rw0 == 0 && GraftVersions.current(dir) == 1)
    // delete keys 2 and 4 → only the files holding them are rewritten
    // (hash-partitioning may co-locate keys, so assert the partition,
    // not an exact count), the rest carried by reference
    val (base, reused, rewritten) =
      GraftMerge.deleteFrom(spark, dir, col("k") === 2 || col("k") === 4)
    assert(base == 1 && reused + rewritten == before.size &&
      rewritten >= 1 && reused >= 1,
      s"reused=$reused rewritten=$rewritten of ${before.size}")
    assert(GraftVersions.current(dir) == 2)
    assert(kvRows("SELECT * FROM psql.tpcds.mgA") == Set(1 -> "a", 3 -> "c"))
    // logical-then-physical: the pre-delete snapshot still reads the rows
    assert(kvRows("SELECT * FROM psql.tpcds.mgA VERSION AS OF 1") ==
      Set(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"))
    // untouched files carried into v2 BY NAME
    val after = GraftVersions.manifest(dir, 2).map(p => new java.io.File(p).getName)
    assert(before.toSet.intersect(after.toSet).size == reused)
    // partial-file delete: survivors of the touched file are rewritten
    spark.sql("INSERT INTO psql.tpcds.mgA VALUES (5, 'e'), (6, 'f')")
    GraftMerge.deleteFrom(spark, dir, col("k") === 5)
    assert(kvRows("SELECT * FROM psql.tpcds.mgA") ==
      Set(1 -> "a", 3 -> "c", 6 -> "f"))
    // SQL DELETE null semantics: rows where the predicate is NULL are
    // KEPT, not silently dropped from rewritten files (a bare
    // `!predicate` filter loses them under three-valued logic)
    spark.sql("INSERT INTO psql.tpcds.mgA VALUES (7, NULL), (8, 'x')")
    GraftMerge.deleteFrom(spark, dir, col("v") === "x")
    val withNull = spark.sql("SELECT k, v FROM psql.tpcds.mgA").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSet
    assert(withNull == Set(1 -> Some("a"), 3 -> Some("c"), 6 -> Some("f"),
      7 -> None), s"null-predicate row lost or kept wrong: $withNull")
  }

  test("SQL DELETE FROM routes through the copy-on-write path; untranslatable conditions fail loudly") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
      .createOrReplaceTempView("mg_srcC")
    spark.sql("""CREATE TABLE psql.tpcds.mgC TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcC""".stripMargin)
    val dir = s"$root/mgC.parquet"
    // native SQL statement → SupportsDelete → GraftMerge.deleteFrom
    spark.sql("DELETE FROM psql.tpcds.mgC WHERE k = 2 OR v = 'c'")
    assert(GraftVersions.current(dir) == 2)
    assert(kvRows("SELECT * FROM psql.tpcds.mgC") == Set(1 -> "a"))
    // the pre-delete snapshot is intact (copy-on-write, not in-place)
    assert(kvRows("SELECT * FROM psql.tpcds.mgC VERSION AS OF 1") ==
      Set(1 -> "a", 2 -> "b", 3 -> "c"))
    // a condition that does not translate to source filters must fail
    // loudly, never delete the wrong rows
    val e = intercept[Exception] {
      spark.sql("DELETE FROM psql.tpcds.mgC WHERE k % 2 = 0")
    }
    assert(e.getMessage != null)
    assert(kvRows("SELECT * FROM psql.tpcds.mgC") == Set(1 -> "a"))
    // unconditional SQL DELETE empties the table as a new snapshot
    spark.sql("INSERT INTO psql.tpcds.mgC VALUES (9, 'z')")
    spark.sql("DELETE FROM psql.tpcds.mgC")
    assert(spark.sql("SELECT COUNT(*) FROM psql.tpcds.mgC").head.getLong(0) == 0)
    assert(kvRows("SELECT * FROM psql.tpcds.mgC VERSION AS OF 3") ==
      Set(1 -> "a", 9 -> "z"))
  }

  test("copy-on-write update transforms matching rows in touched files only") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_srcD")
    spark.sql("""CREATE TABLE psql.tpcds.mgD TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcD""".stripMargin)
    val dir = s"$root/mgD.parquet"
    val before = GraftVersions.manifest(dir, 1).map(p => new java.io.File(p).getName)
    val (base, reused, rewritten) = GraftMerge.updateWhere(
      spark, dir, col("k") === 2,
      Seq("v" -> org.apache.spark.sql.functions.concat(col("v"),
        org.apache.spark.sql.functions.lit("!"))))
    assert(base == 1 && reused + rewritten == before.size && rewritten >= 1)
    assert(kvRows("SELECT * FROM psql.tpcds.mgD") ==
      Set(1 -> "a", 2 -> "b!", 3 -> "c", 4 -> "d"))
    assert(kvRows("SELECT * FROM psql.tpcds.mgD VERSION AS OF 1") ==
      Set(1 -> "a", 2 -> "b", 3 -> "c", 4 -> "d"))
    // untouched files carried BY NAME; no-match update is a no-op
    val after = GraftVersions.manifest(dir, 2).map(p => new java.io.File(p).getName)
    assert(before.toSet.intersect(after.toSet).size == reused)
    val (_, _, rw0) = GraftMerge.updateWhere(spark, dir, col("k") === 99,
      Seq("v" -> org.apache.spark.sql.functions.lit("never")))
    assert(rw0 == 0 && GraftVersions.current(dir) == 2)
    // NULL-predicate rows pass through unchanged (SQL UPDATE semantics)
    spark.sql("INSERT INTO psql.tpcds.mgD VALUES (7, NULL)")
    GraftMerge.updateWhere(spark, dir, col("v") === "a",
      Seq("v" -> org.apache.spark.sql.functions.lit("A")))
    val withNull = spark.sql("SELECT k, v FROM psql.tpcds.mgD").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSet
    assert(withNull == Set(1 -> Some("A"), 2 -> Some("b!"), 3 -> Some("c"),
      4 -> Some("d"), 7 -> None), withNull.toString)
    // unknown assignment column fails loudly
    val e = intercept[Exception] {
      GraftMerge.updateWhere(spark, dir, col("k") === 1,
        Seq("nope" -> org.apache.spark.sql.functions.lit("x")))
    }
    assert(e.getMessage.contains("unknown column"), e.getMessage)
  }

  test("merge with retries rebases over concurrent appends; final state is interleaving-independent") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("mg_src9")
    spark.sql("""CREATE TABLE psql.tpcds.mg9 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src9""".stripMargin)
    val dir = s"$root/mg9.parquet"
    // a concurrent appender races the merge; whichever interleaving
    // happens, the FINAL state is the same: appends touch keys 100+,
    // the merge updates key 1 and inserts key 50 — the rebase loop
    // must absorb any conflict instead of failing or dropping rows
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val appender = new Thread(() =>
      try (0 until 3).foreach { i =>
        GraftVersions.commit(dir,
          Seq((100 + i, s"app$i")).toDF("k", "v"), overwrite = false)
      } catch { case t: Throwable => errs.add(t) })
    appender.start()
    val src = Seq((1, "A"), (50, "new")).toDF("k", "v")
    val (_, _, _) = GraftMerge.mergeInto(spark, dir, src, "k", maxRetries = 10)
    appender.join()
    assert(errs.isEmpty, s"appender died: ${errs.peek()}")
    // 1 CTAS + 3 appends + exactly 1 merge commit
    assert(GraftVersions.current(dir) == 5)
    assert(kvRows("SELECT * FROM psql.tpcds.mg9") ==
      Set(1 -> "A", 2 -> "b", 50 -> "new",
        100 -> "app0", 101 -> "app1", 102 -> "app2"))
  }

  test("compaction bin-packs small files with zero logical change; old snapshots keep the fragmented layout") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("mg_src8")
    spark.sql("""CREATE TABLE psql.tpcds.mg8 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src8""".stripMargin)
    (2 to 4).foreach(i => spark.sql(s"INSERT INTO psql.tpcds.mg8 VALUES ($i, 'x$i')"))
    val dir = s"$root/mg8.parquet"
    val fragmented = GraftVersions.manifest(dir, 4)
    assert(fragmented.size >= 4, s"expected >=4 files, got ${fragmented.size}")
    val before = kvRows("SELECT * FROM psql.tpcds.mg8")
    // threshold respected: nothing qualifies as small → structural no-op
    val (_, _, packed0) = GraftMerge.compact(spark, dir, smallBytes = 1L)
    assert(packed0 == 0 && GraftVersions.current(dir) == 4)
    // real compaction: everything is small → one replacement file
    val (base, kept, packed) = GraftMerge.compact(spark, dir, smallBytes = 1L << 30)
    assert(base == 4 && kept == 0 && packed == fragmented.size)
    assert(GraftVersions.current(dir) == 5)
    assert(GraftVersions.manifest(dir, 5).size == 1,
      s"compacted manifest: ${GraftVersions.manifest(dir, 5)}")
    // zero logical change, and the PRE-compaction snapshot still reads
    // the original fragmented files
    assert(kvRows("SELECT * FROM psql.tpcds.mg8") == before)
    assert(kvRows("SELECT * FROM psql.tpcds.mg8 VERSION AS OF 4") == before)
    assert(GraftVersions.manifest(dir, 4) == fragmented)
    // idempotent: a second pass finds a single file and does nothing
    val (_, _, packed2) = GraftMerge.compact(spark, dir, smallBytes = 1L << 30)
    assert(packed2 == 0 && GraftVersions.current(dir) == 5)
  }

  test("a published manifest without a pointer flip (crashed writer) is completed by the next commit") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("mg_srcB")
    spark.sql("""CREATE TABLE psql.tpcds.mgB TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcB""".stripMargin)
    val dir = s"$root/mgB.parquet"
    // simulate a writer that won manifest v2 (file moved in, manifest
    // published) but died before flipping the pointer
    val tmp = java.nio.file.Files.createTempDirectory("graft_crash").toString + "/out"
    Seq((2, "b")).toDF("k", "v").coalesce(1).write.parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    java.nio.file.Files.move(part.toPath,
      new java.io.File(s"$dir/data/v2-0-deadcafe.parquet").toPath)
    val prev = GraftVersions.manifest(dir, 1).map(p => new java.io.File(p).getName)
    java.nio.file.Files.write(
      new java.io.File(s"$dir/_manifests/v2.txt").toPath,
      (prev :+ "v2-0-deadcafe.parquet").mkString("", "\n", "\n").getBytes("UTF-8"))
    // pointer never flipped: readers still see v1
    assert(GraftVersions.current(dir) == 1)
    assert(kvRows("SELECT * FROM psql.tpcds.mgB") == Set(1 -> "a"))
    // the NEXT commit finds manifest v2 taken, builds v3 on it, and
    // thereby completes the crashed writer's commit (its manifest is
    // the durable commit point — Iceberg semantics)
    GraftVersions.commit(dir, Seq((3, "c")).toDF("k", "v"), overwrite = false)
    assert(GraftVersions.current(dir) == 3)
    assert(kvRows("SELECT * FROM psql.tpcds.mgB") ==
      Set(1 -> "a", 2 -> "b", 3 -> "c"),
      "the crashed writer's published manifest was not completed")
  }

  test("expire racing optimistic appends loses no committed rows") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("mg_src7")
    spark.sql("""CREATE TABLE psql.tpcds.mg7 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src7""".stripMargin)
    val dir = s"$root/mg7.parquet"
    // an aggressive retention loop (keepLast=1, default orphan grace)
    // runs continuously while racing writers commit — the exact
    // interleaving the reprefix window exposes: a loser's files carry
    // a prefix <= `_current` between the winner's flip and the retry
    @volatile var stop = false
    val expireErrs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val expirer = new Thread(() =>
      try while (!stop) { GraftVersions.expire(dir, keepLast = 1); Thread.sleep(1) }
      catch { case t: Throwable => expireErrs.add(t) })
    expirer.start()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val reps = 5
    try {
      (1 to reps).foreach { rep =>
        val threads = (0 until 3).map { i =>
          val df = Seq((100 * rep + i, s"e$rep-$i")).toDF("k", "v")
          new Thread(() =>
            try GraftVersions.commit(dir, df, overwrite = false)
            catch { case t: Throwable => errs.add(t) })
        }
        threads.foreach(_.start()); threads.foreach(_.join())
      }
    } finally { stop = true; expirer.join() }
    assert(errs.isEmpty, s"a racing writer died: ${errs.peek()}")
    assert(expireErrs.isEmpty, s"the expirer died: ${expireErrs.peek()}")
    assert(GraftVersions.current(dir) == 1 + 3 * reps)
    val expected = Set(1 -> "a") ++
      (1 to reps).flatMap(rep => (0 until 3).map(i => (100 * rep + i) -> s"e$rep-$i"))
    assert(kvRows("SELECT * FROM psql.tpcds.mg7") == expected,
      "expire vacuumed a concurrently committing writer's data")
  }

  test("native SQL UPDATE statement routes through the copy-on-write update") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_srcU")
    spark.sql("""CREATE TABLE psql.tpcds.mgU TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcU""".stripMargin)
    val dir = s"$root/mgU.parquet"
    val before = GraftVersions.manifest(dir, 1).map(p => new java.io.File(p).getName)
    // the actual SQL text a wire client would issue
    spark.sql("UPDATE psql.tpcds.mgU SET v = v || '!' WHERE k = 2")
    assert(kvRows("SELECT * FROM psql.tpcds.mgU") ==
      Set((1, "a"), (2, "b!"), (3, "c"), (4, "d")))
    assert(kvRows("SELECT * FROM psql.tpcds.mgU VERSION AS OF 1") ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // copy-on-write cost shape survives the statement routing: only the
    // file holding k=2 was rewritten, the others carried by reference
    val after = GraftVersions.manifest(dir, 2).map(p => new java.io.File(p).getName)
    assert(before.toSet.intersect(after.toSet).size == before.size - 1,
      s"expected 1 rewritten file, before=$before after=$after")
    // unconditioned UPDATE touches every file holding rows
    spark.sql("UPDATE psql.tpcds.mgU SET v = upper(v)")
    assert(kvRows("SELECT * FROM psql.tpcds.mgU") ==
      Set((1, "A"), (2, "B!"), (3, "C"), (4, "D")))
    // untranslatable shapes fail LOUDLY, never misapply: subquery condition
    val e = intercept[Exception] {
      spark.sql("UPDATE psql.tpcds.mgU SET v = 'x' " +
        "WHERE k IN (SELECT k FROM mg_srcU)")
    }
    assert(e.getMessage.contains("subquer"), e.getMessage)
  }

  test("native SQL MERGE INTO statement routes through the copy-on-write upsert") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_srcM")
    spark.sql("""CREATE TABLE psql.tpcds.mgM TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcM""".stripMargin)
    Seq((2, "B2"), (9, "NEW")).toDF("k", "v").createOrReplaceTempView("mg_updM")
    val dir = s"$root/mgM.parquet"
    val before = GraftVersions.manifest(dir, 1).map(p => new java.io.File(p).getName)
    spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET *
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(kvRows("SELECT * FROM psql.tpcds.mgM") ==
      Set((1, "a"), (2, "B2"), (3, "c"), (4, "d"), (9, "NEW")))
    assert(kvRows("SELECT * FROM psql.tpcds.mgM VERSION AS OF 1") ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // file accounting: only the k=2 file rewritten; 3 reused by reference
    val after = GraftVersions.manifest(dir, 2).map(p => new java.io.File(p).getName)
    assert(before.toSet.intersect(after.toSet).size == before.size - 1,
      s"expected 1 rewritten file, before=$before after=$after")
    // explicit identical assignments are accepted like SET * / INSERT *
    spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM s
                |ON t.k = s.k
                |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v
                |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    assert(kvRows("SELECT * FROM psql.tpcds.mgM") ==
      Set((1, "a"), (2, "B2"), (3, "c"), (4, "d"), (9, "NEW")))
    // out-of-subset shapes fail LOUDLY at analysis, never misapply
    val e1 = intercept[Exception] {
      spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN DELETE
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e1.getMessage.contains("WHEN MATCHED"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *
                  |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(e2.getMessage.contains("NOT MATCHED BY SOURCE"), e2.getMessage)
    val e3 = intercept[Exception] {
      spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM s
                  |ON t.k = s.k AND t.k > 0
                  |WHEN MATCHED THEN UPDATE SET *
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e3.getMessage.contains("equality"), e3.getMessage)
    // the key column must be assigned the ON condition's OWN source
    // key (ADVICE r13): identical branches assigning k = s.o pass the
    // whole-row check, but mergeInto would join on s.o — different
    // match semantics than the statement declares
    Seq((2, "x", 7), (9, "y", 8)).toDF("k", "v", "o")
      .createOrReplaceTempView("mg_updM3")
    val e4 = intercept[Exception] {
      spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM3 s
                  |ON t.k = s.k
                  |WHEN MATCHED THEN UPDATE SET k = s.o, v = s.v
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.o, s.v)""".stripMargin)
    }
    assert(e4.getMessage.contains("source key"), e4.getMessage)
    // a NARROWING cast in the ON condition is never stripped — the
    // truncated comparison is not the equality mergeInto performs
    val e5 = intercept[Exception] {
      spark.sql("""MERGE INTO psql.tpcds.mgM t USING mg_updM3 s
                  |ON t.k = CAST(s.k AS TINYINT)
                  |WHEN MATCHED THEN UPDATE SET k = s.k, v = s.v
                  |WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)""".stripMargin)
    }
    assert(e5.getMessage.contains("equality"), e5.getMessage)
    // the table is untouched by every rejected statement
    assert(kvRows("SELECT * FROM psql.tpcds.mgM") ==
      Set((1, "a"), (2, "B2"), (3, "c"), (4, "d"), (9, "NEW")))
  }

  test("manifest stats skip untouched files in the discovery pass (sound bounds)") {
    import org.apache.spark.sql.functions.{lit => flit}
    // bounds extraction: conjuncts recognized, OR degrades to no bounds
    assert(GraftMerge.predicateBounds(col("k") === 5) == Map("k" -> (5L, 5L)))
    assert(GraftMerge.predicateBounds(col("k") >= 3 && col("k") < 9) ==
      Map("k" -> (3L, 9L)))
    assert(GraftMerge.predicateBounds(
      col("k").isin(4, 7, 2) && col("v") === "x") == Map("k" -> (2L, 7L)))
    assert(GraftMerge.predicateBounds(col("k") === 5 || col("k") === 9).isEmpty)
    // an unrecognized conjunct contributes nothing but keeps the rest
    assert(GraftMerge.predicateBounds(col("k") > 3 && col("v").contains("a")) ==
      Map("k" -> (3L, Long.MaxValue)))
    // NESTED-FIELD names constrain nothing (ADVICE r13): col("s.b")
    // denotes struct s's field b — keying by the trailing part would
    // prune on an unrelated top-level column b's stats/sidecars
    assert(GraftMerge.predicateBounds(col("s.b") === 5).isEmpty)
    assert(org.apache.spark.sql.GraftBridge
      .conjunctLongPoints(col("s.b") === 5).isEmpty)
    assert(org.apache.spark.sql.GraftBridge
      .conjunctStrPoints(col("s.b") === "x").isEmpty)
    assert(org.apache.spark.sql.GraftBridge
      .conjunctNullness(col("s.b").isNull).isEmpty)
    // …while the single-part conjunct in the same predicate survives
    assert(GraftMerge.predicateBounds(col("s.b") === 5 && col("k") === 9) ==
      Map("k" -> (9L, 9L)))

    val root = freshRoot()
    import spark.implicits._
    // range-clustered table: file i holds keys [10i, 10i+10)
    (0 until 40).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k")).createOrReplaceTempView("mg_srcS")
    spark.sql("""CREATE TABLE psql.tpcds.mgS TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcS""".stripMargin)
    val dir = s"$root/mgS.parquet"
    // the manifest carries per-file k bounds
    val stats = GraftVersions.manifestStats(dir, 1)
    assert(stats.size == 4 && stats.values.forall(_.contains("k")),
      stats.toString)
    // a predicate inside one file's range rewrites exactly that file —
    // and the result is exact (pruning is a skip, not a filter change)
    val (_, reused, rewritten) =
      GraftMerge.deleteFrom(spark, dir, col("k") >= 12 && col("k") <= 14)
    assert(rewritten == 1 && reused == 3, s"reused=$reused rewritten=$rewritten")
    assert(kvRows("SELECT * FROM psql.tpcds.mgS").map(_._1) ==
      (0 until 40).toSet -- Set(12, 13, 14))
    // merge: source keys 35..39 + 100 (insert) bound the candidate set
    val src = Seq((35, "U"), (100, "N")).toDF("k", "v")
    val (_, reusedM, rewrittenM) = GraftMerge.mergeInto(spark, dir, src, "k")
    assert(rewrittenM == 1, s"rewrittenM=$rewrittenM")
    assert(kvRows("SELECT * FROM psql.tpcds.mgS").contains(35 -> "U"))
    assert(kvRows("SELECT * FROM psql.tpcds.mgS").contains(100 -> "N"))
    // null-predicate rows and no-bound predicates still work (fallback)
    GraftMerge.updateWhere(spark, dir, col("v") === flit("v0"),
      Seq("v" -> flit("z0")))
    assert(kvRows("SELECT * FROM psql.tpcds.mgS").contains(0 -> "z0"))

    // STRING channel: byte-bound extraction and pruning on a
    // string-clustered table (the takedown-by-source/tenant shape)
    val sb = org.apache.spark.sql.GraftBridge.conjunctStrBounds(
      col("g") === "g2" && col("k") > 3)
    assert(sb.keySet == Set("g"), sb.toString)
    (0 until 40).map(k => (k, s"g${k / 10}")).toDF("k", "g")
      .repartitionByRange(4, col("g")).createOrReplaceTempView("mg_srcT")
    spark.sql("""CREATE TABLE psql.tpcds.mgT TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcT""".stripMargin)
    val dirT = s"$root/mgT.parquet"
    val statsT = GraftVersions.manifestStats(dirT, 1)
    assert(statsT.values.forall(_.contains("g")), statsT.toString)
    val (_, reusedT, rewrittenT) =
      GraftMerge.deleteFrom(spark, dirT, col("g") === "g2")
    assert(rewrittenT == 1 && reusedT == 3,
      s"string-clustered delete: reused=$reusedT rewritten=$rewrittenT")
    assert(spark.sql("SELECT k FROM psql.tpcds.mgT").collect()
      .map(_.getInt(0)).toSet == ((0 until 20) ++ (30 until 40)).toSet)
  }

  test("re-clustering turns an all-files predicate into a one-file predicate") {
    val root = freshRoot()
    import spark.implicits._
    // k-clustered layout: every g value appears in EVERY file, so a
    // g-predicate delete must touch all of them …
    (0 until 40).map(k => (k, s"g${k % 4}")).toDF("k", "g")
      .repartitionByRange(4, col("k")).createOrReplaceTempView("mg_srcC")
    spark.sql("""CREATE TABLE psql.tpcds.mgC TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_srcC""".stripMargin)
    val dir = s"$root/mgC.parquet"
    val (_, _, rwBefore) = GraftMerge.deleteFrom(spark, dir, col("g") === "g9")
    assert(rwBefore == 0) // no match — but discovery had no g selectivity
    val before = spark.sql("SELECT k, g FROM psql.tpcds.mgC").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    // … re-cluster on g: O(table) once, then g-predicates prune
    val (_, replaced) = GraftMerge.cluster(spark, dir, Seq("g"), 4)
    assert(replaced == 4)
    assert(spark.sql("SELECT k, g FROM psql.tpcds.mgC").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet == before,
      "clustering changed the row set")
    // old snapshot keeps the old layout; new manifest has g-selective stats
    val stats = GraftVersions.manifestStats(dir, GraftVersions.current(dir))
    assert(stats.values.forall(_.contains("g")), stats.toString)
    val (_, reused, rewritten) = GraftMerge.deleteFrom(spark, dir, col("g") === "g2")
    assert(rewritten == 1 && reused == 3,
      s"clustered g-delete: reused=$reused rewritten=$rewritten")
    assert(spark.sql("SELECT g FROM psql.tpcds.mgC").collect()
      .map(_.getString(0)).toSet == Set("g0", "g1", "g3"))
  }

  test("mixed-verb races (merge + delete + compact + expire) converge interleaving-independently") {
    mixedVerbGate("mgX")
  }

  test("mixed-verb races converge through the Hadoop commit recipes (HadoopFsCommitIo)") {
    withHadoopIo { mixedVerbGate("mgXh") }
  }

  private def mixedVerbGate(tbl: String): Unit = {
    val root = freshRoot()
    import spark.implicits._
    // the three read-modify-write verbs share one rebase loop — an
    // interleaving bug there corrupts silently. Each round races a
    // MERGE (inserts key 1000+r, updates key 1), a DELETE (previous
    // round's inserted key), a logically-no-op COMPACT, and (r14) a
    // retention EXPIRE — content-neutral by contract, but it
    // tombstones manifests and vacuums files WHILE the other verbs
    // rebase, the exact interleaving the two-phase grace protects.
    // The verbs touch DISJOINT keys within a round, so the final
    // state is a pure function of the round count, independent of
    // interleaving.
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView(s"mg_src_$tbl")
    spark.sql(s"""CREATE TABLE psql.tpcds.$tbl TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src_$tbl""".stripMargin)
    val dir = s"$root/$tbl.parquet"
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val rounds = 10
    (1 to rounds).foreach { r =>
      val mergeSrc = Seq((1, s"m$r"), (1000 + r, s"new$r")).toDF("k", "v")
      val threads = Seq(
        new Thread(() =>
          try GraftMerge.mergeInto(spark, dir, mergeSrc, "k", maxRetries = 50)
          catch { case t: Throwable => errs.add(t) }),
        new Thread(() =>
          try GraftMerge.deleteFrom(spark, dir, col("k") === (1000 + r - 1),
            maxRetries = 50)
          catch { case t: Throwable => errs.add(t) }),
        new Thread(() =>
          try GraftMerge.compact(spark, dir, smallBytes = 1L << 30,
            maxRetries = 50)
          catch { case t: Throwable => errs.add(t) }),
        new Thread(() =>
          try GraftVersions.expire(dir, keepLast = 2)
          catch { case t: Throwable => errs.add(t) }))
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(errs.isEmpty, s"round $r: a verb died: ${errs.peek()}")
    }
    assert(kvRows(s"SELECT * FROM psql.tpcds.$tbl") ==
      Set((1, s"m$rounds"), (2, "b"), (3, "c"), (4, "d"),
        (1000 + rounds, s"new$rounds")),
      "mixed-verb interleaving corrupted the table")
  }

  test("rollback races expire: the restore wins readable or fails loudly — never corrupts") {
    rollbackExpireGate("mgR")
  }

  test("rollback races expire through the Hadoop commit recipes (HadoopFsCommitIo)") {
    withHadoopIo { rollbackExpireGate("mgRh") }
  }

  private def rollbackExpireGate(tbl: String): Unit = {
    val root = freshRoot()
    import spark.implicits._
    // the r12 orphan-grace design point, now RACED (verdict r13 #5):
    // each round publishes a bad overwrite, then a RESTORE of the
    // good version runs against a concurrent EXPIRE whose retention
    // cutoff covers that exact version. Under the protocol's grace
    // window (expiry is two-phase: tombstone now, vacuum later) the
    // legal outcomes are exactly two: the restore publishes and every
    // restored file reads back (the grace kept them on disk even if
    // the expire tombstoned the source version first), or the restore
    // fails LOUDLY because the target was already tombstoned — never
    // a published-but-unreadable snapshot. (A zero-grace expire
    // deliberately voids this guarantee — that is what the grace IS;
    // the deterministic lost-verification path, tombstone + chain-
    // past, is TimeTravelSpec's abandoned-restore gate.) A current
    // snapshot that fails to read — any round, either winner — is
    // the corruption this gate exists to catch.
    Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v")
      .repartition(2, col("k")).createOrReplaceTempView(s"mg_src_$tbl")
    spark.sql(s"""CREATE TABLE psql.tpcds.$tbl TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src_$tbl""".stripMargin)
    val dir = s"$root/$tbl.parquet"
    val rounds = 10
    var restoresWon = 0
    (1 to rounds).foreach { r =>
      val good = GraftVersions.current(dir)
      val goodRows = kvRows(s"SELECT * FROM psql.tpcds.$tbl")
      spark.sql(s"INSERT OVERWRITE psql.tpcds.$tbl VALUES ($r, 'bad$r')")
      val restored = new java.util.concurrent.atomic.AtomicInteger(-1)
      val hardErr = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
      val restoreT = new Thread(() =>
        try restored.set(GraftVersions.rollback(dir, good))
        catch {
          // both are the LOUD contract: target already expired, or
          // the verification race lost past the grace window
          case _: IllegalArgumentException => ()
          case _: IllegalStateException => ()
          case t: Throwable => hardErr.add(t)
        })
      val expireT = new Thread(() =>
        try GraftVersions.expire(dir, keepLast = 1)
        catch { case t: Throwable => hardErr.add(t) })
      // alternate the start order so BOTH outcomes get airtime
      val threads =
        if (r % 2 == 0) Seq(restoreT, expireT) else Seq(expireT, restoreT)
      threads.foreach(_.start()); threads.foreach(_.join())
      assert(hardErr.isEmpty, s"round $r: unexpected failure: ${hardErr.peek()}")
      // the CURRENT snapshot must read completely, whoever won
      val now = kvRows(s"SELECT * FROM psql.tpcds.$tbl")
      if (restored.get() >= 0) {
        restoresWon += 1
        assert(GraftVersions.current(dir) >= restored.get())
        // if nothing overwrote it since, the restore's content is
        // exactly the good version's rows
        if (GraftVersions.current(dir) == restored.get())
          assert(now == goodRows,
            s"round $r: restore won but content diverged: $now vs $goodRows")
      } else {
        assert(now.nonEmpty, s"round $r: failed restore left table unreadable")
      }
    }
    // the race must actually exercise the win path (zero-grace expire
    // still defers vacuum of files a CONCURRENT restore can win; a
    // suite where every restore loses gates nothing)
    assert(restoresWon > 0, s"no restore ever won in $rounds rounds")
  }

  test("rewrites after ADD COLUMN read with the snapshot schema (no silent column loss)") {
    val root = freshRoot()
    import spark.implicits._
    // v1: 2-column files; v2: ADD COLUMN; v3: rows populating it — the
    // table's files are now schema-HETEROGENEOUS. A footer-inferred
    // read picks an arbitrary file's schema; if a pre-evolution file
    // wins, compaction/delete/update rewrites silently drop the new
    // column's committed values (ADVICE r12). Many small v1 files make
    // the bad pick near-certain without the fix.
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_src8")
    spark.sql("""CREATE TABLE psql.tpcds.mg8 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src8""".stripMargin)
    spark.sql("ALTER TABLE psql.tpcds.mg8 ADD COLUMN note STRING")
    spark.sql("INSERT INTO psql.tpcds.mg8 VALUES (5, 'e', 'keep-me')")
    val dir = s"$root/mg8.parquet"
    def rows() = spark.sql("SELECT k, v, note FROM psql.tpcds.mg8").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSet
    val full = Set((1, "a", null), (2, "b", null), (3, "c", null),
      (4, "d", null), (5, "e", "keep-me"))
    assert(rows() == full)
    // compaction packs ALL files (pre- and post-evolution) together —
    // the committed 'keep-me' must survive the rewrite
    GraftMerge.compact(spark, dir, smallBytes = 1L << 30)
    assert(rows() == full, "compaction dropped an evolved column's values")
    // copy-on-write delete/update across the heterogeneous snapshot
    GraftMerge.deleteFrom(spark, dir, col("k") === 2)
    assert(rows() == full - ((2, "b", null)),
      "delete rewrite dropped an evolved column's values")
    GraftMerge.updateWhere(spark, dir, col("k") === 5,
      Seq("v" -> lit("E")))
    assert(rows() == full - ((2, "b", null)) - ((5, "e", "keep-me")) +
      ((5, "E", "keep-me")),
      "update rewrite dropped an evolved column's values")
    // merge across the heterogeneous snapshot
    val src = Seq((1, "A", "m1")).toDF("k", "v", "note")
    GraftMerge.mergeInto(spark, dir, src, "k")
    assert(rows().contains((5, "E", "keep-me")),
      "merge rewrite dropped an evolved column's values")
    assert(rows().contains((1, "A", "m1")))
  }

  test("SQL DELETE and UPDATE each launch only their discovery and rewrite jobs") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartitionByRange(4, col("k")).createOrReplaceTempView("mg_src12")
    spark.sql("""CREATE TABLE psql.tpcds.mg12 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src12""".stripMargin)
    assert(GraftVersions.manifest(s"$root/mg12.parquet", 1).size == 4)
    // the snapshot schema is read on the driver and discovery has no
    // exchange: one job finds the touched file, one rewrites it
    assert(jobsLaunchedBy { spark.sql("DELETE FROM psql.tpcds.mg12 WHERE k = 2") } == 2)
    assert(kvRows("SELECT * FROM psql.tpcds.mg12") == Set((1, "a"), (3, "c"), (4, "d")))
    assert(jobsLaunchedBy {
      spark.sql("UPDATE psql.tpcds.mg12 SET v = v || '!' WHERE k = 3")
    } == 2)
    assert(kvRows("SELECT * FROM psql.tpcds.mg12") == Set((1, "a"), (3, "c!"), (4, "d")))
    assert(kvRows("SELECT * FROM psql.tpcds.mg12 VERSION AS OF 1") ==
      Set((1, "a"), (2, "b"), (3, "c"), (4, "d")))
  }

  test("the driver-side snapshot schema is exactly Spark's inferred parquet schema") {
    val root = freshRoot()
    import spark.implicits._
    val ts = java.sql.Timestamp.valueOf("2024-01-02 03:04:05.678")
    Seq(
      (Some(1), Some(10L), "a", BigDecimal("1.25"), ts, "x".getBytes("UTF-8"),
        (5L, "s"), Seq(1L, 2L), 7),
      (None, None, null, null, null, null, null, null, 8))
      .toDF("i", "l", "s", "d", "ts", "b", "st", "arr", "req")
      .createOrReplaceTempView("mg_src13")
    spark.sql("""CREATE TABLE psql.tpcds.mg13 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src13""".stripMargin)
    val dir = s"$root/mg13.parquet"
    assert(GraftVersions.schemaAt(dir, 1).isEmpty, "table must be never-evolved")
    val files = GraftVersions.manifest(dir, 1)
    val inferred = spark.read.parquet(files.head).schema
    assert(GraftVersions.snapshotSchema(dir, 1, files).contains(inferred))
    // the footer really carries a non-nullable column, and every type
    // the case names
    val required = GraftVersions.footer(new java.io.File(files.head))
      .getFileMetaData.getSchema.getFields.asScala
      .filter(_.isRepetition(org.apache.parquet.schema.Type.Repetition.REQUIRED))
      .map(_.getName)
    assert(required.contains("req"), required.toString)
    assert(inferred.map(_.dataType.typeName) == Seq("integer", "long", "string",
      "decimal(38,18)", "timestamp", "binary", "struct", "array", "integer"))
  }

  test("UPDATE assignment column names resolve case-insensitively") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("mg_src9")
    spark.sql("""CREATE TABLE psql.tpcds.mg9 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_src9""".stripMargin)
    val dir = s"$root/mg9.parquet"
    // "V" vs schema column "v": validation passed case-insensitively
    // but the apply map was case-sensitive — the UPDATE committed a new
    // snapshot with no rows changed (ADVICE r12). Must actually update.
    val (_, _, rewritten) = GraftMerge.updateWhere(spark, dir,
      col("k") === 2, Seq("V" -> lit("B!")))
    assert(rewritten >= 1)
    assert(kvRows("SELECT * FROM psql.tpcds.mg9") == Set((1, "a"), (2, "B!")),
      "differently-cased assignment key was silently ignored")
    // a genuinely unknown column still fails loudly
    val e = intercept[IllegalArgumentException] {
      GraftMerge.updateWhere(spark, dir, col("k") === 1,
        Seq("nope" -> lit("x")))
    }
    assert(e.getMessage.contains("unknown column"))
    // duplicate assignments (any casing) fail loudly instead of
    // last-writer-wins via silent Map dedup
    intercept[IllegalArgumentException] {
      GraftMerge.updateWhere(spark, dir, col("k") === 1,
        Seq("v" -> lit("x"), "V" -> lit("y")))
    }
  }

  test("OPTIMIZE / VACUUM run as native SQL statements") {
    val root = freshRoot()
    import spark.implicits._
    Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")).toDF("k", "v")
      .repartition(4, col("k")).createOrReplaceTempView("mg_mnt")
    spark.sql("""CREATE TABLE psql.tpcds.mgM TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM mg_mnt""".stripMargin)
    val dir = s"$root/mgM.parquet"
    val n0 = GraftVersions.manifest(dir, 1).size
    assert(n0 >= 2, s"fragmentation precondition: $n0 files")
    val all = Set((1, "a"), (2, "b"), (3, "c"), (4, "d"))
    // OPTIMIZE: the small files bin-pack into 1, committed
    // layout-only; row set and metrics agree
    val opt = spark.sql("OPTIMIZE psql.tpcds.mgM").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(opt == Map("base_version" -> 1L, "files_kept" -> 0L,
      "files_compacted" -> n0.toLong), opt.toString)
    assert(GraftVersions.manifest(dir, 2).size == 1)
    assert(GraftVersions.isLayoutOnly(dir, 2))
    assert(kvRows("SELECT * FROM psql.tpcds.mgM") == all)
    // OPTIMIZE … ZORDER BY: re-cluster through the statement surface
    val zo = spark.sql("OPTIMIZE psql.tpcds.mgM ZORDER BY (k)").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(zo == Map("base_version" -> 2L, "files_replaced" -> 1L), zo.toString)
    assert(GraftVersions.isLayoutOnly(dir, 3))
    assert(kvRows("SELECT * FROM psql.tpcds.mgM") == all)
    // VACUUM RETAIN 1 VERSIONS: only the current snapshot stays live
    val vac = spark.sql("VACUUM psql.tpcds.mgM RETAIN 1 VERSIONS").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(vac("versions_expired") == 2L, vac.toString)
    assert(!GraftVersions.isLive(dir, 1) && !GraftVersions.isLive(dir, 2))
    assert(GraftVersions.isLive(dir, 3))
    assert(kvRows("SELECT * FROM psql.tpcds.mgM") == all)
    // DESCRIBE HISTORY: the commit log as a statement — versions,
    // liveness, the layout-only flags, per-version file counts
    val hist = spark.sql("DESCRIBE HISTORY psql.tpcds.mgM").collect()
      .map(r => (r.getInt(0), r.getBoolean(2), r.getBoolean(3), r.getInt(4)))
    assert(hist.toList == List((1, false, false, 0), (2, false, false, 0),
      (3, true, true, 1)), hist.mkString(","))
    assert(spark.sql("DESC HISTORY psql.tpcds.mgM").count() == 3)
    // a non-graft target is rejected loudly, and ordinary SQL still
    // parses through the delegating parser
    Seq((1, "x")).toDF("k", "v").createOrReplaceTempView("mg_plain")
    intercept[Exception] { spark.sql("OPTIMIZE mg_plain").collect() }
    intercept[Exception] { spark.sql("DESCRIBE HISTORY mg_plain").collect() }
    assert(spark.sql("SELECT 1 + 1 AS two").collect().head.getInt(0) == 2)
    // DESCRIBE of a plain table named `history` still reaches the
    // stock parser (the intercept requires a second identifier)
    Seq((1, "h")).toDF("k", "v").createOrReplaceTempView("history")
    assert(spark.sql("DESCRIBE history").count() >= 2)
    // DESCRIBE DETAIL: the one-row current-snapshot summary
    val det = spark.sql("DESCRIBE DETAIL psql.tpcds.mgM").collect()
    assert(det.length == 1)
    val dr = det.head
    assert(dr.getString(0).endsWith("mgM.parquet"))
    assert(dr.getInt(1) == 3 && dr.getInt(2) == 1, dr.toString) // version, live
    assert(dr.getInt(3) == 1 && dr.getLong(4) > 0, dr.toString) // files, bytes
    assert(dr.getString(5) == "" && dr.getInt(6) == 2, dr.toString)
    intercept[Exception] { spark.sql("DESCRIBE DETAIL mg_plain").collect() }
  }
}
