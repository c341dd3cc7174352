package graft

import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Snapshot versioning + time travel gates (l02's catalog mechanics):
  * commits are manifest-plus-pointer, data files are immutable, held
  * snapshots are isolated from later commits, and time travel on an
  * unversioned table fails loudly. */
class TimeTravelSpec extends SparkSpec {

  test("snapshots accumulate, overwrite replaces, every version stays readable") {
    freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("tt_src")
    spark.sql("""CREATE TABLE psql.tpcds.tt1 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src""".stripMargin)
    spark.sql("INSERT INTO psql.tpcds.tt1 VALUES (3, 'c')")
    spark.sql("INSERT OVERWRITE psql.tpcds.tt1 VALUES (9, 'z')")
    def rows(q: String) = spark.sql(q).collect()
      .map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows("SELECT * FROM psql.tpcds.tt1 VERSION AS OF 1") ==
      Set((1, "a"), (2, "b")))
    assert(rows("SELECT * FROM psql.tpcds.tt1 VERSION AS OF 2") ==
      Set((1, "a"), (2, "b"), (3, "c")))
    assert(rows("SELECT * FROM psql.tpcds.tt1 VERSION AS OF 3") == Set((9, "z")))
    // the bare name serves the current snapshot
    assert(rows("SELECT * FROM psql.tpcds.tt1") == Set((9, "z")))
  }

  test("a held snapshot is isolated from commits made after it was resolved") {
    freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src2")
    spark.sql("""CREATE TABLE psql.tpcds.tt2 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src2""".stripMargin)
    val held = spark.sql("SELECT * FROM psql.tpcds.tt2 VERSION AS OF 1")
    spark.sql("INSERT OVERWRITE psql.tpcds.tt2 VALUES (7, 'q')")
    // the overwrite rewrote the POINTER, not the files the held plan
    // references — the reader is unaffected
    assert(held.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set((1, "a")))
  }

  test("commits never rewrite or delete data files (append reuses v1's files by reference)") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src3")
    spark.sql("""CREATE TABLE psql.tpcds.tt3 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src3""".stripMargin)
    val dataDir = new java.io.File(s"$root/tt3.parquet/data")
    val after1 = dataDir.listFiles().map(_.getName).toSet
    spark.sql("INSERT INTO psql.tpcds.tt3 VALUES (2, 'b')")
    val after2 = dataDir.listFiles().map(_.getName).toSet
    assert(after1.subsetOf(after2), "append deleted or renamed v1 files")
    // v2's manifest references v1's physical files — no copy, no rewrite
    // (names only: lines carry tab-separated data-skipping stats)
    val m2 = scala.io.Source.fromFile(
      s"$root/tt3.parquet/_manifests/v2.txt", "UTF-8").getLines()
      .map(_.split('\t').head).toSet
    assert(after1.subsetOf(m2), s"v2 manifest $m2 does not reuse v1 files $after1")
    spark.sql("INSERT OVERWRITE psql.tpcds.tt3 VALUES (3, 'c')")
    val after3 = dataDir.listFiles().map(_.getName).toSet
    assert(after2.subsetOf(after3), "overwrite deleted data files")
  }

  test("expire drops old manifests but keeps files any survivor references") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src5")
    spark.sql("""CREATE TABLE psql.tpcds.tt5 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src5""".stripMargin)
    spark.sql("INSERT INTO psql.tpcds.tt5 VALUES (2, 'b')")
    spark.sql("INSERT OVERWRITE psql.tpcds.tt5 VALUES (3, 'c')")
    val dir = s"$root/tt5.parquet"
    // keepLast=2 keeps v2 (which REFERENCES v1's files) and v3: v1's
    // manifest goes, but its files survive because v2 still lists them
    val (exp1, del1) = graft.sources.GraftVersions.expire(dir, 2)
    assert(exp1 == Seq(1) && del1.isEmpty, s"$exp1 / $del1")
    // the expired manifest becomes a TOMBSTONE, not a deleted file —
    // its version number must never be winnable by a later commit
    assert(!graft.sources.GraftVersions.isLive(dir, 1))
    assert(new java.io.File(s"$dir/_manifests/v1.txt").exists(),
      "expired manifest was deleted — version number became reusable")
    assert(spark.sql("SELECT * FROM psql.tpcds.tt5 VERSION AS OF 2")
      .collect().map(_.getInt(0)).toSet == Set(1, 2))
    // keepLast=1 keeps only the overwrite snapshot. Physical deletion
    // is TWO-PHASE: this call tombstones v2 but DEFERS deleting the
    // now-unreferenced v1/v2 files for the orphan grace window — an
    // immediate delete raced rollback (a restore that passed its
    // isLive check just before this expire references exactly these
    // files; ADVICE r12)
    val (exp2, del2) = graft.sources.GraftVersions.expire(dir, 1)
    assert(exp2 == Seq(2) && del2.isEmpty, s"$exp2 / $del2")
    assert(new java.io.File(s"$dir/data").listFiles()
      .exists(_.getName.startsWith("v1-")),
      "expire deleted tombstoned files inside the grace window")
    // … and a later expire past the grace window vacuums them
    val (_, del3) = graft.sources.GraftVersions.expire(dir, 1,
      orphanGraceMillis = 0L)
    assert(del3.nonEmpty, "stale tombstoned files were never vacuumed")
    val remaining = new java.io.File(s"$dir/data").listFiles().map(_.getName)
    assert(remaining.forall(_.startsWith("v3-")), remaining.mkString(","))
    assert(spark.sql("SELECT * FROM psql.tpcds.tt5")
      .collect().map(_.getInt(0)).toSet == Set(3))
    // the expired snapshot is gone by contract
    intercept[Exception] {
      spark.sql("SELECT * FROM psql.tpcds.tt5 VERSION AS OF 1").collect()
    }
  }

  test("TIMESTAMP AS OF resolves to the newest snapshot committed at or before the instant") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src6")
    spark.sql("""CREATE TABLE psql.tpcds.tt6 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src6""".stripMargin)
    Thread.sleep(5)
    spark.sql("INSERT OVERWRITE psql.tpcds.tt6 VALUES (2, 'b')")
    val commits = java.nio.file.Files
      .readAllLines(java.nio.file.Paths.get(s"$root/tt6.parquet/_commits"))
      .toArray.map(_.toString.split("=")(1).toLong)
    assert(commits.length == 2 && commits(0) < commits(1))
    def at(micros: Long) = spark.sql(
      s"SELECT k FROM psql.tpcds.tt6 TIMESTAMP AS OF timestamp_micros(${micros}L)")
      .collect().map(_.getInt(0)).toSet
    // exactly at commit 1, and in the gap before commit 2 → snapshot 1
    assert(at(commits(0)) == Set(1))
    assert(at(commits(1) - 1) == Set(1))
    // at/after commit 2 → snapshot 2
    assert(at(commits(1)) == Set(2))
    assert(at(commits(1) + 1000000L) == Set(2))
    // before the first commit: no snapshot existed — loud error
    val e = intercept[Exception] {
      spark.sql(s"SELECT k FROM psql.tpcds.tt6 TIMESTAMP AS OF timestamp_micros(${commits(0) - 1}L)")
        .collect()
    }
    assert(e.getMessage.contains("no snapshot") || e.getMessage != null)
  }

  test("time travel on an unversioned table fails loudly") {
    freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src4")
    spark.sql("CREATE TABLE psql.tpcds.tt4 AS SELECT * FROM tt_src4")
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM psql.tpcds.tt4 VERSION AS OF 1").collect()
    }
    assert(e.getMessage.contains("versioned") ||
      e.getMessage.contains("time travel"), e.getMessage)
  }

  test("ADD COLUMN is metadata-only; each snapshot reads with its own schema") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src7")
    spark.sql("""CREATE TABLE psql.tpcds.tt7 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src7""".stripMargin)
    val dir = s"$root/tt7.parquet"
    val dataDir = new java.io.File(s"$dir/data")
    val filesBefore = dataDir.listFiles().map(_.getName).toSet
    spark.sql("ALTER TABLE psql.tpcds.tt7 ADD COLUMN note STRING")
    // the evolution commit wrote NO data files and advanced the snapshot
    assert(dataDir.listFiles().map(_.getName).toSet == filesBefore,
      "ALTER TABLE ADD COLUMN rewrote data files")
    assert(graft.sources.GraftVersions.current(dir) == 2)
    // post-evolution read: new column present, null-filled for old rows
    val evolved = spark.sql("SELECT * FROM psql.tpcds.tt7").collect()
    assert(spark.table("psql.tpcds.tt7").columns.toSeq == Seq("k", "v", "note"))
    assert(evolved.forall(_.isNullAt(2)), "pre-evolution rows must null-fill")
    // PRE-evolution snapshot reads back with its ORIGINAL schema
    assert(spark.sql("SELECT * FROM psql.tpcds.tt7 VERSION AS OF 1")
      .columns.toSeq == Seq("k", "v"))
    // inserts after the evolution carry the new column; old rows stay null
    spark.sql("INSERT INTO psql.tpcds.tt7 VALUES (2, 'b', 'fresh')")
    val rows = spark.sql("SELECT k, note FROM psql.tpcds.tt7").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSet
    assert(rows == Set(1 -> None, 2 -> Some("fresh")))
    // the evolution snapshot itself (v2) shows the new schema over the
    // old files only
    val v2 = spark.sql("SELECT * FROM psql.tpcds.tt7 VERSION AS OF 2")
    assert(v2.columns.toSeq == Seq("k", "v", "note") && v2.count() == 1)
    // an UPDATE after the evolution rewrites the pre-evolution file
    // through the evolved schema, while the pre-evolution snapshot still
    // reads its original schema and values
    spark.sql("UPDATE psql.tpcds.tt7 SET note = 'upd' WHERE k = 1")
    assert(spark.sql("SELECT k, v, note FROM psql.tpcds.tt7").collect()
      .map(r => (r.getInt(0), r.getString(1), Option(r.getString(2)))).toSet ==
      Set((1, "a", Some("upd")), (2, "b", Some("fresh"))))
    val v1 = spark.sql("SELECT * FROM psql.tpcds.tt7 VERSION AS OF 1")
    assert(v1.columns.toSeq == Seq("k", "v"))
    assert(v1.collect().map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "a")))
    // unsupported changes fail loudly
    val e1 = intercept[Exception] {
      spark.sql("ALTER TABLE psql.tpcds.tt7 ALTER COLUMN note TYPE INT")
    }
    assert(e1.getMessage.contains("unsupported") || e1.getMessage.contains("ALTER"),
      e1.getMessage)
  }

  test("DROP COLUMN is metadata-only; dropped names cannot be resurrected") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src8")
    spark.sql("""CREATE TABLE psql.tpcds.tt8 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src8""".stripMargin)
    val dir = s"$root/tt8.parquet"
    spark.sql("ALTER TABLE psql.tpcds.tt8 ADD COLUMN note STRING")
    spark.sql("INSERT INTO psql.tpcds.tt8 VALUES (2, 'b', 'fresh')")
    val dataDir = new java.io.File(s"$dir/data")
    val filesBefore = dataDir.listFiles().map(_.getName).toSet
    spark.sql("ALTER TABLE psql.tpcds.tt8 DROP COLUMN v")
    // metadata-only: no file touched, snapshot advanced
    assert(dataDir.listFiles().map(_.getName).toSet == filesBefore,
      "DROP COLUMN rewrote data files")
    assert(graft.sources.GraftVersions.current(dir) == 4)
    // current read prunes the dropped column's physical data
    assert(spark.table("psql.tpcds.tt8").columns.toSeq == Seq("k", "note"))
    val rows = spark.sql("SELECT k, note FROM psql.tpcds.tt8").collect()
      .map(r => r.getInt(0) -> Option(r.getString(1))).toSet
    assert(rows == Set(1 -> None, 2 -> Some("fresh")))
    // the PRE-drop snapshot still reads the column and its values
    val v3 = spark.sql("SELECT k, v FROM psql.tpcds.tt8 VERSION AS OF 3")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(v3 == Set(1 -> "a", 2 -> "b"))
    // resurrection guard: parquet resolves by name, so re-adding v
    // would read the OLD values back out of pre-drop files
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE psql.tpcds.tt8 ADD COLUMN v STRING")
    }
    assert(e.getMessage.contains("previously dropped"), e.getMessage)
    // a genuinely new name is fine after the drop
    spark.sql("ALTER TABLE psql.tpcds.tt8 ADD COLUMN v2 STRING")
    assert(spark.table("psql.tpcds.tt8").columns.toSeq == Seq("k", "note", "v2"))
    // dropping everything is refused
    spark.sql("ALTER TABLE psql.tpcds.tt8 DROP COLUMN v2")
    spark.sql("ALTER TABLE psql.tpcds.tt8 DROP COLUMN note")
    val eLast = intercept[Exception] {
      spark.sql("ALTER TABLE psql.tpcds.tt8 DROP COLUMN k")
    }
    assert(eLast.getMessage.contains("last column"), eLast.getMessage)
  }

  test("restore publishes an old snapshot forward; schema rolls back with it") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    import graft.sources.GraftVersions
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("tt_src9")
    spark.sql("""CREATE TABLE psql.tpcds.tt9 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src9""".stripMargin)
    val dir = s"$root/tt9.parquet"
    spark.sql("INSERT OVERWRITE psql.tpcds.tt9 VALUES (9, 'bad')")
    val dataDir = new java.io.File(s"$dir/data")
    val filesBefore = dataDir.listFiles().map(_.getName).toSet
    // restore v1: a NEW commit, zero data files written, content == v1
    assert(GraftVersions.rollback(dir, 1) == 3)
    assert(dataDir.listFiles().map(_.getName).toSet == filesBefore,
      "restore wrote data files")
    def kv(q: String) = spark.sql(q).collect()
      .map(r => r.getInt(0) -> r.getString(1)).toSet
    assert(kv("SELECT k, v FROM psql.tpcds.tt9") == Set(1 -> "a", 2 -> "b"))
    // history moved FORWARD: the bad commit is still time-travelable
    assert(kv("SELECT k, v FROM psql.tpcds.tt9 VERSION AS OF 2") == Set(9 -> "bad"))
    // restoring an expired snapshot fails loudly
    GraftVersions.expire(dir, keepLast = 1)
    val e = intercept[Exception] { GraftVersions.rollback(dir, 2) }
    assert(e.getMessage.contains("expired") || e.getMessage.contains("restore"),
      e.getMessage)
    // schema rolls back too: evolve, then restore the pre-evolution state
    spark.sql("ALTER TABLE psql.tpcds.tt9 ADD COLUMN note STRING")   // v4
    spark.sql("INSERT INTO psql.tpcds.tt9 VALUES (5, 'e', 'n5')")    // v5
    assert(spark.table("psql.tpcds.tt9").columns.toSeq == Seq("k", "v", "note"))
    GraftVersions.rollback(dir, 3)                                   // v6 ≡ v3
    assert(spark.table("psql.tpcds.tt9").columns.toSeq == Seq("k", "v"),
      "restore past an ADD COLUMN kept the evolved schema")
    assert(kv("SELECT k, v FROM psql.tpcds.tt9") == Set(1 -> "a", 2 -> "b"))
    // and the evolved snapshot still reads with ITS schema
    assert(spark.sql("SELECT * FROM psql.tpcds.tt9 VERSION AS OF 5")
      .columns.toSeq == Seq("k", "v", "note"))
  }

  test("abandoned restore tombstones its won manifest; successors chain past it") {
    import spark.implicits._
    import graft.sources.GraftVersions
    val dir = tempDir("graft_tt10").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    // v1: rows A; v2: OVERWRITE — v1's files leave the live manifest
    GraftVersions.commit(dir, Seq((1, "a"), (2, "b")).toDF("k", "v"),
      overwrite = false)
    GraftVersions.commit(dir, Seq((9, "keep")).toDF("k", "v"), overwrite = true)
    // simulate the expire race: v1's data files are vacuumed AFTER the
    // restore passes its isLive check (here: before the call — same
    // observable state, the restore wins its manifest then finds the
    // files gone at re-verification)
    val v1Files = GraftVersions.manifest(dir, 1).map(new java.io.File(_))
    v1Files.foreach(f => assert(f.delete(), s"setup: could not delete $f"))
    val e = intercept[IllegalStateException] { GraftVersions.rollback(dir, 1) }
    assert(e.getMessage.contains("vacuumed"), e.getMessage)
    // the pointer did not flip — and the WON manifest (v3) must not
    // stay live: a successor's append chains onto its predecessor's
    // manifest lines, and the dead manifest references vacuumed files
    // (ADVICE r13 — the next commit would publish a current snapshot
    // that breaks every read)
    assert(GraftVersions.current(dir) == 2)
    assert(new java.io.File(s"$dir/_manifests/v3.txt").exists(),
      "the won version number must stay burned")
    assert(!GraftVersions.isLive(dir, 3), "abandoned manifest left live")
    // an append AFTER the abandoned restore: steps past the burned v3,
    // chains onto v2's LIVE lines, and the table stays fully readable
    GraftVersions.commit(dir, Seq((10, "new")).toDF("k", "v"), overwrite = false)
    assert(GraftVersions.current(dir) == 4)
    val rows = spark.read.parquet(GraftVersions.manifest(dir, 4): _*)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(rows == Set(9 -> "keep", 10 -> "new"), rows.toString)
    // a second abandoned restore (v1's manifest is still live, its
    // files still gone) burns v5…
    intercept[IllegalStateException] { GraftVersions.rollback(dir, 1) }
    assert(!GraftVersions.isLive(dir, 5))
    // …and a LEGITIMATE restore's retry loop steps past it to v6
    val nv = GraftVersions.rollback(dir, 2)
    assert(nv == 6 && GraftVersions.current(dir) == 6)
    val restored = spark.read.parquet(GraftVersions.manifest(dir, 6): _*)
      .collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(restored == Set(9 -> "keep"), restored.toString)
  }

  /** Files under a table dir that a second metadata store would leave:
    * a `_schemas` entry or any `.json` record. */
  private def sideRecords(dir: String): Seq[String] =
    java.nio.file.Files.walk(new java.io.File(dir).toPath).iterator()
      .asScala.map(_.toFile).filter(f =>
        f.getName == "_schemas" || f.getName.endsWith(".json"))
      .map(_.getPath).toSeq

  test("the evolved schema outlives its expired evolution snapshot") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    import graft.sources.GraftVersions
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src11")
    spark.sql("""CREATE TABLE psql.tpcds.tt11 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src11""".stripMargin)
    val dir = s"$root/tt11.parquet"
    spark.sql("ALTER TABLE psql.tpcds.tt11 ADD COLUMN note STRING")  // v2
    spark.sql("INSERT INTO psql.tpcds.tt11 VALUES (2, 'b', 'n2')")     // v3
    spark.sql("VACUUM psql.tpcds.tt11 RETAIN 1 VERSIONS").collect()
    assert(!GraftVersions.isLive(dir, 2), "the evolution snapshot was not tombstoned")
    def notes(q: String) = spark.sql(q).collect()
      .map(r => r.getInt(0) -> Option(r.getString(2))).toSet
    assert(spark.table("psql.tpcds.tt11").columns.toSeq == Seq("k", "v", "note"))
    assert(notes("SELECT * FROM psql.tpcds.tt11") == Set(1 -> None, 2 -> Some("n2")))
    assert(notes("SELECT * FROM psql.tpcds.tt11 VERSION AS OF 3") ==
      Set(1 -> None, 2 -> Some("n2")))
    // the newest snapshot's schema is its own header: no footer read
    assert(GraftVersions.Snapshot(dir, 3).recordedSchema.map(_.fieldNames.toSeq)
      .contains(Seq("k", "v", "note")))
  }

  test("INSERT OVERWRITE after ADD COLUMN keeps the evolved schema") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src12")
    spark.sql("""CREATE TABLE psql.tpcds.tt12 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src12""".stripMargin)
    spark.sql("ALTER TABLE psql.tpcds.tt12 ADD COLUMN note STRING")
    spark.sql("INSERT OVERWRITE psql.tpcds.tt12 VALUES (9, 'z', 'n9')")
    assert(spark.table("psql.tpcds.tt12").columns.toSeq == Seq("k", "v", "note"))
    assert(spark.sql("SELECT k, v, note FROM psql.tpcds.tt12").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq ==
      Seq((9, "z", "n9")))
    // a later DROP + ADD of the same name across the overwrite is refused
    spark.sql("ALTER TABLE psql.tpcds.tt12 DROP COLUMN note")
    spark.sql("INSERT OVERWRITE psql.tpcds.tt12 VALUES (8, 'y')")
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE psql.tpcds.tt12 ADD COLUMN note STRING")
    }
    assert(e.getMessage.contains("previously dropped"), e.getMessage)
    assert(sideRecords(s"$root/tt12.parquet").isEmpty)
  }

  test("a RESTORE that removes a column records the name as dropped") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    import graft.sources.GraftVersions
    Seq((1, "a")).toDF("k", "v").createOrReplaceTempView("tt_src13")
    spark.sql("""CREATE TABLE psql.tpcds.tt13 TBLPROPERTIES('versioned'='true')
                |AS SELECT * FROM tt_src13""".stripMargin)
    val dir = s"$root/tt13.parquet"
    spark.sql("ALTER TABLE psql.tpcds.tt13 ADD COLUMN note STRING")   // v2
    spark.sql("INSERT INTO psql.tpcds.tt13 VALUES (2, 'b', 'n2')")      // v3
    assert(GraftVersions.rollback(dir, 1) == 4)
    assert(spark.table("psql.tpcds.tt13").columns.toSeq == Seq("k", "v"))
    assert(GraftVersions.Snapshot(dir, 4).dropped == Set("note"))
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE psql.tpcds.tt13 ADD COLUMN note STRING")
    }
    assert(e.getMessage.contains("previously dropped"), e.getMessage)
    spark.sql("ALTER TABLE psql.tpcds.tt13 ADD COLUMN note2 STRING")
    assert(spark.table("psql.tpcds.tt13").columns.toSeq == Seq("k", "v", "note2"))
  }

  test("every verb keeps the manifest the only metadata record") {
    val root = freshRoot("graft_tt")
    import spark.implicits._
    import graft.sources.GraftVersions
    Seq((1, "a"), (2, "b")).toDF("k", "v").createOrReplaceTempView("tt_src14")
    Seq((2, "B"), (3, "c")).toDF("k", "v").createOrReplaceTempView("tt_up14")
    val dir = s"$root/tt14.parquet"
    val verbs: Seq[(String, () => Unit)] = Seq(
      "CTAS" -> (() => spark.sql("""CREATE TABLE psql.tpcds.tt14
          |TBLPROPERTIES('versioned'='true') AS SELECT * FROM tt_src14""".stripMargin)),
      "INSERT" -> (() => spark.sql("INSERT INTO psql.tpcds.tt14 VALUES (4, 'd')")),
      "ADD COLUMN" -> (() => spark.sql("ALTER TABLE psql.tpcds.tt14 ADD COLUMN note STRING")),
      "UPDATE" -> (() => spark.sql("UPDATE psql.tpcds.tt14 SET note = 'u' WHERE k = 1")),
      "DELETE" -> (() => spark.sql("DELETE FROM psql.tpcds.tt14 WHERE k = 4")),
      "MERGE" -> (() => spark.sql("""MERGE INTO psql.tpcds.tt14 t
          |USING (SELECT k, v, CAST(NULL AS STRING) AS note FROM tt_up14) s
          |ON t.k = s.k WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)),
      "DROP COLUMN" -> (() => spark.sql("ALTER TABLE psql.tpcds.tt14 DROP COLUMN v")),
      "OPTIMIZE" -> (() => spark.sql("OPTIMIZE psql.tpcds.tt14").collect()),
      "INSERT OVERWRITE" -> (() =>
        spark.sql("INSERT OVERWRITE psql.tpcds.tt14 VALUES (7, 'o')")),
      "RESTORE" -> (() => GraftVersions.rollback(dir, 2)),
      "VACUUM" -> (() =>
        spark.sql("VACUUM psql.tpcds.tt14 RETAIN 1 VERSIONS").collect()))
    verbs.foreach { case (verb, run) =>
      run()
      assert(sideRecords(dir).isEmpty, s"after $verb: ${sideRecords(dir)}")
    }
    // DROP COLUMN v, then the RESTORE of pre-evolution v2 removed note
    assert(spark.table("psql.tpcds.tt14").columns.toSeq == Seq("k", "v"))
    assert(GraftVersions.Snapshot.current(dir).dropped == Set("note", "v"))
  }

  test("ALTER TABLE chains past an abandoned restore's burned version") {
    import spark.implicits._
    import graft.sources.GraftVersions
    import org.apache.spark.sql.types.StringType
    val dir = tempDir("graft_tt15").toString + "/tbl"
    new java.io.File(dir).mkdirs()
    GraftVersions.commit(dir, Seq((1, "a")).toDF("k", "v"), overwrite = false)
    GraftVersions.commit(dir, Seq((9, "keep")).toDF("k", "v"), overwrite = true)
    GraftVersions.manifest(dir, 1).foreach(f => new java.io.File(f).delete())
    intercept[IllegalStateException] { GraftVersions.rollback(dir, 1) }
    assert(!GraftVersions.isLive(dir, 3))
    val base = GraftVersions.Snapshot(dir, 2).schema.get
    assert(GraftVersions.evolveSchema(dir, base.add("note", StringType)) == 4)
    val snap = GraftVersions.Snapshot.current(dir)
    assert(snap.version == 4 && snap.names == GraftVersions.Snapshot(dir, 2).names)
    assert(snap.schema.map(_.fieldNames.toSeq).contains(Seq("k", "v", "note")))
    assert(snap.read(spark).collect().map(r => (r.getInt(0), r.getString(1),
      Option(r.getString(2)))).toSeq == Seq((9, "keep", None)))
  }
}
