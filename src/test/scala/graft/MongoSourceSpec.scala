package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftMongoServer, GraftMongoWire, BDoc}

/** The mongodb WIRE connector (GraftMongoSource/GraftMongoServer):
  * OP_MSG command reads with filter/projection pushdown rendered into
  * the `find` document, `_id`-range partition splits, and cursor
  * batching — the reference's second federation store spoken over its
  * actual protocol (`mongodb.schema-collection=_schema`,
  * ansible/roles/trino/templates/values.yml.j2:59-62). */
class MongoSourceSpec extends SparkSpec {

  private def useRoot(dir: String): Unit =
    spark.conf.set("spark.sql.graft.root", dir)

  test("schema comes from _schema and hides _id") {
    useRoot(sf1)
    val wire = spark.sql("SELECT * FROM mongodb.tpcds.orders").schema
    val direct = Tables.orders(spark, sf1).schema
    assert(wire.fieldNames.toSeq == direct.fieldNames.toSeq)
    assert(wire.fields.map(_.dataType).toSeq ==
      direct.fields.map(_.dataType).toSeq)
  }

  test("wire reads equal the parquet corpus; parallelism is _id ranges") {
    useRoot(sf1)
    val wire = spark.sql("SELECT * FROM mongodb.tpcds.orders")
      .collect().map(_.toSeq).toSet
    val direct = Tables.orders(spark, sf1).collect().map(_.toSeq).toSet
    assert(wire == direct, s"wire=${wire.size} direct=${direct.size}")
    val parts = spark.sql("SELECT o_orderkey FROM mongodb.tpcds.orders")
      .rdd.getNumPartitions
    assert(parts == 4, s"expected 4 _id-range partitions, got $parts")
  }

  test("filters and projection push into the find document") {
    useRoot(sf1)
    val before = GraftMongoServer.findCount("orders")
    val q = spark.sql(
      """SELECT o_orderkey, o_totalprice FROM mongodb.tpcds.orders
        |WHERE o_orderstatus = 'F' AND o_totalprice > 100000.0""".stripMargin)
    val rows = q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftMongoScan"), plan)
    assert(plan.contains("EqualTo(o_orderstatus,F)") &&
      plan.contains("GreaterThan(o_totalprice,100000.0)"), plan)
    // the WIRE saw the rendered filter + pruned projection: 2 _id-edge
    // probes + one find per range partition
    assert(GraftMongoServer.findCount("orders") == before + 6)
    val body = GraftMongoServer.lastFind("orders").get
    assert(body.contains(""""o_orderstatus":"F""""), body)
    assert(body.contains(""""o_totalprice":{"$gt":100000.0}"""), body)
    assert(body.contains(""""projection":{"_id":0,"o_orderkey":1,"o_totalprice":1}"""),
      body)
    val expect = Tables.orders(spark, sf1)
      .filter(col("o_orderstatus") === "F" && col("o_totalprice") > 100000.0)
      .select("o_orderkey", "o_totalprice").collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet == expect)
  }

  test("cursor paging is batchSize-bounded (getMore arithmetic)") {
    useRoot(sf2) // 15000 orders; 4 ranges of 3750; batchSize 1000
    spark.sql("SELECT o_orderkey FROM mongodb.tpcds.orders").count()
    val findsBefore = GraftMongoServer.findCount("orders")
    val batchesBefore = GraftMongoServer.batchCount("orders")
    val n = spark.sql("SELECT o_orderkey FROM mongodb.tpcds.orders").count()
    assert(n == 15000)
    // 2 edge probes + 4 partition finds
    assert(GraftMongoServer.findCount("orders") == findsBefore + 6)
    // edge probes serve 1 batch each; each partition pages
    // ceil(3750/1000) = 4 batches
    assert(GraftMongoServer.batchCount("orders") == batchesBefore + 2 + 16)
  }

  test("sub-millisecond literal on a BSON-datetime column stays residual") {
    useRoot(sf1)
    // o_orderdate is timestamp(3) (BSON datetime): a micros literal is
    // not representable on the wire — the conjunct must stay Spark-side
    // (a wire probe would compare against a value the store cannot
    // hold and silently drop rows on a range)
    val q = spark.sql(
      """SELECT o_orderkey FROM mongodb.tpcds.orders
        |WHERE o_orderdate > TIMESTAMP_NTZ '1995-06-01 00:00:00.000123'""".stripMargin)
    val desc = q.queryExecution.executedPlan.toString
    assert(desc.contains("GraftMongoScan"), desc)
    // IsNotNull(o_orderdate) still pushes ($ne null); the range must not
    assert(!desc.contains("GreaterThan(o_orderdate"), desc)
    assert(!desc.contains("$gt"), desc)
    val expect = Tables.orders(spark, sf1)
      .filter(col("o_orderdate") >
        lit(java.time.LocalDateTime.parse("1995-06-01T00:00:00.000123")))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    assert(q.collect().map(_.getLong(0)).toSet == expect)
  }

  test("epoch-micros timestamps roundtrip exactly and push as int64") {
    useRoot(sf1)
    val wire = spark.sql("SELECT event_id, ts FROM mongodb.tpcds.events")
      .collect().map(_.toSeq).toSet
    val direct = Tables.events(spark, sf1).select("event_id", "ts")
      .collect().map(_.toSeq).toSet
    assert(wire == direct, s"wire=${wire.size} direct=${direct.size}")
    // a ts range renders as $gte over the stored epoch-micros long
    val q = spark.sql(
      """SELECT event_id FROM mongodb.tpcds.events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'""".stripMargin)
    q.collect()
    val body = GraftMongoServer.lastFind("events").get
    val micros = java.time.Instant.parse("2024-01-10T00:00:00Z")
      .getEpochSecond * 1000000L
    assert(body.contains(s""""ts":{"$$gte":$micros}"""), body)
  }

  test("float-array embeddings roundtrip bit-exactly over BSON") {
    useRoot(sf1)
    val wire = spark.sql(
      "SELECT vec_id, embedding, label FROM mongodb.tpcds.embeddings")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
      .toSet
    val direct = Tables.embeddings(spark, sf1)
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1), r.getInt(2)))
      .toSet
    assert(wire == direct)
  }

  test("LIMIT pushes into the find (partial, per cursor)") {
    useRoot(sf1)
    val q = spark.sql("SELECT o_orderkey FROM mongodb.tpcds.orders LIMIT 7")
    assert(q.collect().length == 7)
    val body = GraftMongoServer.lastFind("orders").get
    assert(body.contains(""""limit":7"""), body)
  }

  test("scan reports wire statistics (filtered count)") {
    useRoot(sf1)
    val df = spark.sql(
      "SELECT o_orderkey FROM mongodb.tpcds.orders WHERE o_orderstatus = 'F'")
    val scan = df.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation => r
    }.head
    val expected = Tables.orders(spark, sf1)
      .filter(col("o_orderstatus") === "F").count()
    assert(scan.computeStats().rowCount.contains(BigInt(expected)),
      scan.computeStats().toString)
  }

  test("CTAS over the wire: create + _schema + batched inserts + read-back") {
    useRoot(sf1)
    spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.ctas_spec")
    val before = GraftMongoServer.insertCount("ctas_spec")
    spark.sql(
      """CREATE TABLE mongodb.tpcds.ctas_spec AS
        |SELECT c_custkey, c_name, c_acctbal
        |FROM psql.tpcds.customer WHERE c_custkey <= 120""".stripMargin)
    // the rows went over the wire as batched insert commands
    assert(GraftMongoServer.insertCount("ctas_spec") > before)
    // visible in listTables (dynamic, from _schema)
    val listed = spark.sql("SHOW TABLES IN mongodb.tpcds")
      .collect().map(_.getString(1))
    assert(listed.contains("ctas_spec"), listed.mkString(","))
    // read-back over the cursor equals the source rows, typed
    val back = spark.sql("SELECT * FROM mongodb.tpcds.ctas_spec")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("c_custkey", org.apache.spark.sql.types.LongType),
        ("c_name", org.apache.spark.sql.types.StringType),
        ("c_acctbal", org.apache.spark.sql.types.DoubleType)))
    val expect = Tables.customer(spark, sf1)
      .filter(col("c_custkey") <= 120)
      .select("c_custkey", "c_name", "c_acctbal")
      .collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == expect)
    // INSERT INTO appends over the same wire path
    spark.sql(
      """INSERT INTO mongodb.tpcds.ctas_spec
        |SELECT c_custkey, c_name, c_acctbal
        |FROM psql.tpcds.customer
        |WHERE c_custkey > 120 AND c_custkey <= 130""".stripMargin)
    assert(spark.sql("SELECT COUNT(*) FROM mongodb.tpcds.ctas_spec")
      .head.getLong(0) == expect.size + 10)
    // duplicate CTAS fails loudly
    intercept[Exception] {
      spark.sql("CREATE TABLE mongodb.tpcds.ctas_spec AS " +
        "SELECT c_custkey FROM psql.tpcds.customer LIMIT 1")
    }
    // DROP removes the collection AND its _schema document
    spark.sql("DROP TABLE mongodb.tpcds.ctas_spec")
    val after = spark.sql("SHOW TABLES IN mongodb.tpcds")
      .collect().map(_.getString(1))
    assert(!after.contains("ctas_spec"), after.mkString(","))
    intercept[Exception] {
      spark.sql("SELECT * FROM mongodb.tpcds.ctas_spec").collect()
    }
  }

  /** Write idempotency under task retry (ADVICE r14 #1): rows carry
    * deterministic `_id`s from a per-job findAndModify-reserved block,
    * inserts go `ordered:false`, and the store skips duplicate `_id`s
    * with E11000 writeErrors — so a replayed attempt adds NOTHING. */
  test("write retries are idempotent: deterministic _ids, E11000 skip") {
    useRoot(sf1)
    spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.idem_spec")
    spark.sql(
      """CREATE TABLE mongodb.tpcds.idem_spec AS
        |SELECT c_custkey, c_name FROM psql.tpcds.customer
        |WHERE c_custkey <= 40""".stripMargin)
    try {
      val n0 = spark.sql("SELECT COUNT(*) FROM mongodb.tpcds.idem_spec")
        .head.getLong(0)
      val oracle0 = Tables.customer(spark, sf1)
        .filter(col("c_custkey") <= 40).count()
      assert(n0 == oracle0, s"ctas wrote $n0, oracle $oracle0")
      // simulate a retried attempt: replay the SAME job's flush — an
      // unordered insert whose _ids the store already holds
      val db = GraftMongoServer.database(spark, sf1)
      val (host, port) = GraftMongoServer.address
      val wire = new GraftMongoWire(host, port)
      try {
        // the job that wrote above reserved block 1 for this coll;
        // replaying its partition-0 first rows = same _ids
        val replay = (0 until 5).map { i =>
          BDoc("_id" -> ((1L << 40) | i.toLong),
            "c_custkey" -> (i + 1).toLong, "c_name" -> s"dup$i"): Any
        }
        val reply = wire.command(db, BDoc("insert" -> "idem_spec",
          "documents" -> (replay: Seq[Any]), "ordered" -> false))
        // all five were duplicates: n=0, five E11000 writeErrors, ok:1
        assert(reply.getNum("n").contains(0L), reply.render)
        val errs = reply.get("writeErrors").get.asInstanceOf[Seq[Any]]
        assert(errs.size == 5 && errs.forall(
          _.asInstanceOf[BDoc].getNum("code").contains(11000L)), reply.render)
        // an ORDERED duplicate insert still fails loudly (real-store
        // semantics; nothing silently match-alls)
        val e = intercept[java.io.IOException] {
          wire.command(db, BDoc("insert" -> "idem_spec",
            "documents" -> (replay.take(1): Seq[Any])))
        }
        assert(e.getMessage.contains("E11000"), e.getMessage)
      } finally wire.close()
      // row count unchanged — the replay added nothing
      assert(spark.sql("SELECT COUNT(*) FROM mongodb.tpcds.idem_spec")
        .head.getLong(0) == n0)
      // a second job (INSERT INTO) reserves a NEW block: no collision
      spark.sql(
        """INSERT INTO mongodb.tpcds.idem_spec
          |SELECT c_custkey, c_name FROM psql.tpcds.customer
          |WHERE c_custkey > 40 AND c_custkey <= 55""".stripMargin)
      val oracle1 = Tables.customer(spark, sf1)
        .filter(col("c_custkey") <= 55).count()
      assert(spark.sql("SELECT COUNT(*) FROM mongodb.tpcds.idem_spec")
        .head.getLong(0) == oracle1)
    } finally spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.idem_spec")
  }

  /** The write's DECLARED per-partition ordering must actually be
    * PLANNED (verdict r16 #5): positional `_id` idempotency
    * (`RequiresDistributionAndOrdering` in GraftMongoWrite) is only
    * sound if Spark inserts the local sort between a shuffled upstream
    * and the writer — if a future Spark version or conf stopped
    * honoring the declaration, retries could silently swap row
    * contents between `_id`s with every other test still green. Pins
    * the executed INSERT plan: a non-aligned repartition upstream ⇒
    * exactly the exchange AND a local (non-global) sort over all
    * written columns below the append node. */
  test("a shuffled upstream write plans the declared local sort") {
    useRoot(sf1)
    spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.sortplan_spec")
    spark.sql(
      """CREATE TABLE mongodb.tpcds.sortplan_spec AS
        |SELECT c_custkey, c_name FROM psql.tpcds.customer
        |WHERE c_custkey <= 5""".stripMargin)
    try {
      // REPARTITION by a NON-sort-prefix column: the upstream contains
      // a shuffle whose intra-partition order Spark does not promise
      val qe = spark.sql(
        """INSERT INTO mongodb.tpcds.sortplan_spec
          |SELECT /*+ REPARTITION(4, c_name) */ c_custkey, c_name
          |FROM psql.tpcds.customer
          |WHERE c_custkey > 5 AND c_custkey <= 25""".stripMargin)
        .queryExecution.executedPlan.toString
      assert(qe.contains("Exchange hashpartitioning(c_name"),
        s"upstream shuffle missing — the test no longer tests the hazard:\n$qe")
      // SortExec prints `Sort [cols], global=false` for the required
      // LOCAL ordering DistributionAndOrderingUtils inserts
      val sortLine = qe.linesIterator.find(_.contains("Sort ["))
      assert(sortLine.isDefined, s"no sort planned below the write:\n$qe")
      assert(sortLine.get.contains("false"),
        s"sort is global, expected the cheap per-partition sort: $sortLine")
      assert(sortLine.get.contains("c_custkey") &&
        sortLine.get.contains("c_name"),
        s"sort must cover ALL written columns: $sortLine")
      // and the write still lands correct rows
      val expect = Tables.customer(spark, sf1)
        .filter(col("c_custkey") <= 25).count()
      assert(spark.sql(
        "SELECT COUNT(*) FROM mongodb.tpcds.sortplan_spec")
        .head.getLong(0) == expect)
    } finally
      spark.sql("DROP TABLE IF EXISTS mongodb.tpcds.sortplan_spec")
  }

  /** The retry contract at the WRITER level: a task attempt that dies
    * after a partial mid-task flush is re-run from scratch (Spark's
    * task retry), and the store must end with exactly one copy of
    * every row. Drives the real DataWriter + wire, simulating the
    * attempt lifecycle the scheduler would. */
  test("a replayed writer attempt after a partial flush adds no duplicates") {
    useRoot(sf1)
    val db = GraftMongoServer.database(spark, sf1)
    val (host, port) = GraftMongoServer.address
    val wire = new GraftMongoWire(host, port)
    try {
      wire.command(db, BDoc("create" -> "retry_spec"))
      // the writer's column contract comes from the catalog's _schema
      // machinery; build it directly for the fixture collection
      val cols = Seq(
        graft.sources.MongoCol("k",
          org.apache.spark.sql.types.LongType, "long"),
        graft.sources.MongoCol("v",
          org.apache.spark.sql.types.StringType, "string"))
      val write = new graft.sources.GraftMongoWrite(
        host, port, db, "retry_spec", cols, insertBatch = 100)
      val batchWrite = write.toBatch
      val factory = batchWrite.createBatchWriterFactory(null)
      def internalRow(k: Long): org.apache.spark.sql.catalyst.InternalRow =
        org.apache.spark.sql.catalyst.InternalRow(
          k, org.apache.spark.unsafe.types.UTF8String.fromString(s"v$k"))
      // attempt 0: writes 250 rows (two full flushes + 50 buffered),
      // then DIES before commit — the 200 flushed rows are in the store
      val attempt0 = factory.createWriter(0, 0L)
      (0L until 250L).foreach(k => attempt0.write(internalRow(k)))
      attempt0.abort(); attempt0.close()
      val countAfterFailure = wire.command(db,
        BDoc("count" -> "retry_spec")).getNum("n").get
      assert(countAfterFailure == 200,
        s"expected the two flushed batches, got $countAfterFailure")
      // attempt 1 (the retry): same partition, same rows, full run
      val attempt1 = factory.createWriter(0, 1L)
      (0L until 250L).foreach(k => attempt1.write(internalRow(k)))
      attempt1.commit(); attempt1.close()
      // exactly one copy of each row — the 200 replayed ones deduped
      assert(wire.command(db, BDoc("count" -> "retry_spec"))
        .getNum("n").get == 250)
      // and a SECOND job (new id block) appends without collision
      val write2 = new graft.sources.GraftMongoWrite(
        host, port, db, "retry_spec", cols, insertBatch = 100)
      val w2 = write2.toBatch.createBatchWriterFactory(null)
        .createWriter(0, 2L)
      (250L until 300L).foreach(k => w2.write(internalRow(k)))
      w2.commit(); w2.close()
      assert(wire.command(db, BDoc("count" -> "retry_spec"))
        .getNum("n").get == 300)
    } finally {
      try wire.command(db, BDoc("drop" -> "retry_spec"))
      catch { case _: Exception => () }
      wire.close()
    }
  }

  /** Runtime dynamic filtering into the wire scan — the reference's
    * q003 mongo scan carries exactly this (`constraint on
    * [cs_sold_date_sk]`, results/q003/workers-1/explain.txt:53-54).
    * Pins the r14 regression shape too: the scan prunes columns (no
    * o_orderkey), so filterAttributes MUST stay within the pruned read
    * schema or planning dies in PartitionPruning. */
  test("runtime dynamic filter folds build-side keys into the find document") {
    useRoot(sf1)
    import spark.implicits._
    val root = tempDir("graft-mongo-rtf").toString
    val conf = spark.conf
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      // selective on-disk dim: 3 of 150 custkeys survive `pick = 1`
      val keys = Seq(3L, 7L, 11L)
      Tables.customer(spark, sf1).select(col("c_custkey").as("ckey"))
        .withColumn("pick", when(col("ckey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      // pruned-column wire scan: only (o_custkey, o_totalprice) read
      val fact = spark.table("mongodb.tpcds.orders")
        .select("o_custkey", "o_totalprice")
      val docsBefore = GraftMongoServer.docCount("orders")
      val q = fact.join(dim, col("o_custkey") === col("ckey"))
        .agg(sum(col("o_totalprice")).as("s"))
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no runtime filter planned into the mongo scan:\n$plan")
      // (b) the evaluated IN-set rendered into the find document
      val body = GraftMongoServer.lastFind("orders").get
      assert(body.contains("$in"), body)
      keys.foreach(k => assert(body.contains(k.toString), s"key $k absent: $body"))
      // (c) fewer rows crossed the wire than the collection holds
      val total = Tables.orders(spark, sf1).count()
      val crossed = GraftMongoServer.docCount("orders") - docsBefore
      assert(crossed < total,
        s"runtime filter did not reduce wire rows: $crossed vs table $total")
      // correctness: equals the parquet-side oracle
      val expect = Tables.orders(spark, sf1)
        .filter(col("o_custkey").isin(keys: _*))
        .agg(sum(col("o_totalprice"))).head.getDouble(0)
      assert(rows.length == 1 && math.abs(rows(0).getDouble(0) - expect) < 1e-6,
        s"got ${rows.mkString}, expected $expect")
    } finally conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  /** The runtime-filter SIZE guard: past
    * `spark.sql.graft.wire.runtimeFilterMaxKeys` literals the IN-set
    * stops being selective enough to pay its wire bytes, so the scan
    * must NOT fold it into the find document — and the join must stay
    * correct Spark-side (runtime filtering is an optimization). */
  test("an oversized runtime IN-set is not sent over the wire") {
    useRoot(sf1)
    import spark.implicits._
    val root = tempDir("graft-mongo-cap").toString
    val conf = spark.conf
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    conf.set("spark.sql.graft.wire.runtimeFilterMaxKeys", "2")
    try {
      val keys = Seq(3L, 7L, 11L) // 3 keys > cap of 2
      Tables.customer(spark, sf1).select(col("c_custkey").as("ckey"))
        .withColumn("pick", when(col("ckey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      val fact = spark.table("mongodb.tpcds.orders")
        .select("o_custkey", "o_totalprice")
      val q = fact.join(dim, col("o_custkey") === col("ckey"))
        .agg(sum(col("o_totalprice")).as("s"))
      val rows = q.collect()
      val body = GraftMongoServer.lastFind("orders").get
      assert(!body.contains("$in"),
        s"oversized runtime IN-set crossed the wire: $body")
      val expect = Tables.orders(spark, sf1)
        .filter(col("o_custkey").isin(keys: _*))
        .agg(sum(col("o_totalprice"))).head.getDouble(0)
      assert(rows.length == 1 && math.abs(rows(0).getDouble(0) - expect) < 1e-6,
        s"got ${rows.mkString}, expected $expect")
    } finally {
      conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      conf.unset("spark.sql.graft.wire.runtimeFilterMaxKeys")
    }
  }

  /** Runtime predicates name the column AS THE QUERY SPELLED it; the
    * shared admission rule maps it back to the schema's spelling, so a
    * case-mismatched join key (`spark.sql.caseSensitive` stays false)
    * still folds its IN-set into the find document. */
  test("a runtime filter on a key spelled in another case reaches the wire") {
    useRoot(sf1)
    val root = tempDir("graft-mongo-case").toString
    val conf = spark.conf
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val keys = Seq(3L, 7L, 11L)
      Tables.customer(spark, sf1).select(col("c_custkey").as("ckey"))
        .withColumn("pick", when(col("ckey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      val fact = spark.table("mongodb.tpcds.orders")
        .select(col("O_CUSTKEY"), col("o_totalprice"))
      val q = fact.join(dim, col("O_CUSTKEY") === col("ckey"))
        .agg(sum(col("o_totalprice")).as("s"))
      val rows = q.collect()
      val body = GraftMongoServer.lastFind("orders").get
      assert(body.contains(""""o_custkey":{"$in":"""), body)
      keys.foreach(k => assert(body.contains(k.toString), s"key $k absent: $body"))
      val expect = Tables.orders(spark, sf1)
        .filter(col("o_custkey").isin(keys: _*))
        .agg(sum(col("o_totalprice"))).head.getDouble(0)
      assert(rows.length == 1 && math.abs(rows(0).getDouble(0) - expect) < 1e-6,
        s"got ${rows.mkString}, expected $expect")
    } finally conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  test("unknown commands and operators fail loudly, never match-all") {
    useRoot(sf1)
    val (host, port) = GraftMongoServer.address
    GraftMongoServer.database(spark, sf1)
    val wire = new GraftMongoWire(host, port)
    try {
      val e1 = intercept[java.io.IOException] {
        wire.command("tpcds_" + sf1.replaceAll("[^a-zA-Z0-9]", "_"),
          BDoc("aggregate" -> "orders"))
      }
      assert(e1.getMessage.contains("no such command"))
      val e2 = intercept[java.io.IOException] {
        wire.command("tpcds_" + sf1.replaceAll("[^a-zA-Z0-9]", "_"),
          BDoc("find" -> "orders",
            "filter" -> BDoc("o_orderkey" -> BDoc("$regex" -> "x"))))
      }
      assert(e2.getMessage.contains("unsupported operator"))
    } finally wire.close()
  }
}
