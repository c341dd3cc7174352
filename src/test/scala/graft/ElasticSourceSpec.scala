package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftElasticHttp, GraftElasticServer}

/** The elastic WIRE connector (GraftElasticSource/GraftElasticServer):
  * scroll-paged HTTP reads with filter/projection pushdown rendered
  * into the request — the reference's third federation store spoken
  * over its actual protocol (scroll-size=1000,
  * ansible/roles/trino/templates/values.yml.j2:53). */
class ElasticSourceSpec extends SparkSpec {

  private def useRoot(dir: String): Unit =
    spark.conf.set("spark.sql.graft.root", dir)

  private def index(dir: String): String =
    GraftElasticServer.documentsIndex(spark, dir)

  test("wire reads equal the parquet corpus (full scan over slices)") {
    useRoot(sf1)
    val wire = spark.sql(
      "SELECT doc_id, text, lang, source, n_chars FROM elastic.default.documents")
      .collect().map(_.toSeq).toSet
    val direct = Tables.documents(spark, sf1)
      .select("doc_id", "text", "lang", "source", "n_chars")
      .collect().map(_.toSeq).toSet
    assert(wire == direct, s"wire=${wire.size} direct=${direct.size}")
    // parallelism is the sliced scroll: one input partition per slice
    val parts = spark.sql("SELECT doc_id FROM elastic.default.documents")
      .rdd.getNumPartitions
    assert(parts == 4, s"expected 4 slices, got $parts")
  }

  test("filters and projection push into the search request") {
    useRoot(sf1)
    val idx = index(sf1)
    val before = GraftElasticServer.searchCount(idx)
    val q = spark.sql(
      """SELECT doc_id, n_chars FROM elastic.default.documents
        |WHERE lang = 'en' AND n_chars > 100""".stripMargin)
    val rows = q.collect()
    // plan carries the pushed filters (DSv2 explain description)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("GraftElasticScan"), plan)
    assert(plan.contains("EqualTo(lang,en)") && plan.contains("GreaterThan(n_chars,100)"),
      plan)
    // the WIRE saw the rendered query DSL and the pruned _source —
    // one search per slice
    assert(GraftElasticServer.searchCount(idx) == before + 4)
    val body = GraftElasticServer.lastSearchBody(idx).get
    assert(body.contains(""""term":{"lang":"en"}"""), body)
    assert(body.contains(""""range":{"n_chars":{"gt":100}}"""), body)
    assert(body.contains(""""_source":["doc_id","n_chars"]"""), body)
    // and the server-side evaluation matches Spark's
    val expect = Tables.documents(spark, sf1)
      .filter(col("lang") === "en" && col("n_chars") > 100)
      .select("doc_id", "n_chars").collect().map(_.toSeq).toSet
    assert(rows.map(_.toSeq).toSet == expect)
  }

  test("unsupported conjuncts stay Spark-side residuals (sound split)") {
    useRoot(sf1)
    val q = spark.sql(
      """SELECT doc_id FROM elastic.default.documents
        |WHERE lang = 'en' AND n_chars % 7 = 0""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(lang,en)"), plan)
    val expect = Tables.documents(spark, sf1)
      .filter(col("lang") === "en" && col("n_chars") % 7 === 0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(q.collect().map(_.getLong(0)).toSet == expect)
  }

  test("scroll paging: page count follows size and slice arithmetic") {
    useRoot(sf1)
    val idx = index(sf1)
    // a dedicated one-slice, 7-row-page reader over the same server
    val total = Tables.documents(spark, sf1).count().toInt
    spark.conf.set("spark.sql.catalog.espage",
      "graft.sources.GraftElasticCatalog")
    spark.conf.set("spark.sql.catalog.espage.pageSize", "7")
    spark.conf.set("spark.sql.catalog.espage.slices", "1")
    val before = GraftElasticServer.pageCount(idx)
    val n = spark.sql("SELECT doc_id FROM espage.default.documents")
      .collect().length
    assert(n == total)
    val pages = GraftElasticServer.pageCount(idx) - before
    // ceil(total / 7) pages, ±1 when the tail lands exactly on a
    // boundary (the reader stops at the first SHORT page)
    val expect = (total + 6) / 7
    assert(pages == expect || pages == expect + 1,
      s"pages=$pages expected≈$expect for $total rows @7")
    // the same 7-row scroll paged with the reader's own client over
    // one kept-alive connection: the follow-up `_search/scroll`
    // requests answer without the ~40 ms delayed-ACK stall Nagle
    // caused on every response
    val url = GraftElasticServer.url
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val ms = Seq.newBuilder[Double]
    def timed(u: String, body: String): (String, Int) = {
      val t0 = System.nanoTime()
      val root = mapper.readTree(GraftElasticHttp.send(u, "POST", body))
      ms += (System.nanoTime() - t0) / 1e6
      (root.get("_scroll_id").asText, root.get("hits").get("hits").size)
    }
    var (scrollId, hits) = timed(s"$url/$idx/_search?scroll=1m",
      """{"size":7,"_source":["doc_id"],"query":{"match_all":{}}}""")
    var seen = hits
    while (hits == 7) {
      val (sid, h) = timed(s"$url/_search/scroll",
        s"""{"scroll":"1m","scroll_id":"$scrollId"}""")
      scrollId = sid; hits = h; seen += h
    }
    GraftElasticHttp.send(s"$url/_search/scroll", "DELETE",
      s"""{"scroll_id":["$scrollId"]}""")
    val times = ms.result()
    assert(seen == total && times.size >= 10, s"$seen rows in ${times.size} pages")
    val mean = times.sum / times.size
    assert(mean < 20.0, f"mean scroll request $mean%.1f ms over " +
      s"${times.size} pages: ${times.map(t => f"$t%.1f").mkString(",")}")
  }

  test("IN, prefix and IS NOT NULL render; empty result stays correct") {
    useRoot(sf1)
    val idx = index(sf1)
    val q = spark.sql(
      """SELECT doc_id FROM elastic.default.documents
        |WHERE lang IN ('de', 'fr') AND source LIKE 'src1%'""".stripMargin)
    val got = q.collect().map(_.getLong(0)).toSet
    val body = GraftElasticServer.lastSearchBody(idx).get
    assert(body.contains(""""terms":{"lang":["de","fr"]}"""), body)
    assert(body.contains(""""prefix":{"source":"src1"}"""), body)
    val expect = Tables.documents(spark, sf1)
      .filter(col("lang").isin("de", "fr") && col("source").startsWith("src1"))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got == expect && got.nonEmpty)
    // a pushed filter matching nothing returns empty, not an error
    assert(spark.sql(
      "SELECT doc_id FROM elastic.default.documents WHERE lang = 'xx'")
      .collect().isEmpty)
  }

  /** Bulk-load failure atomicity + retry idempotency (ADVICE r14 #2):
    * a load that dies after creating its index must delete it (so the
    * guarded `hasIndex → load` callers re-load instead of aggregating
    * a half-loaded index), and a replayed batch with the same
    * deterministic `_id`s must overwrite, not duplicate. */
  test("bulk load is failure-atomic; replayed batches upsert by _id") {
    useRoot(sf1)
    import org.apache.spark.sql.functions.udf
    val idx = "atomic_spec_idx"
    assert(!GraftElasticServer.hasIndex(idx))
    // a source that explodes mid-load
    val boom = udf((id: Long) =>
      if (id == 150L) throw new RuntimeException("mid-load failure")
      else id)
    val bad = Tables.events(spark, sf1)
      .select(boom(col("event_id")).as("event_id"), col("event_type"))
      .filter(col("event_id") <= 200)
    intercept[Exception] {
      graft.sources.GraftElasticBulk.bulkIndex(bad, idx, batchRows = 50)
    }
    // the half-written index did NOT survive
    assert(!GraftElasticServer.hasIndex(idx),
      "failed bulk load left a partially loaded index behind")
    // a clean load now fully loads (the hasIndex guard can't skip it)
    val good = Tables.events(spark, sf1)
      .select("event_id", "event_type").filter(col("event_id") <= 200)
    val shipped = graft.sources.GraftElasticBulk.bulkIndex(good, idx)
    val expect = good.count()
    assert(shipped == expect)
    def countNow(): Long = {
      val resp = graft.sources.GraftElasticHttp
        .get(s"${GraftElasticServer.url}/$idx/_count")
      """"count":(\d+)""".r.findFirstMatchIn(resp).get.group(1).toLong
    }
    assert(countNow() == expect)
    // replay: re-send a batch with already-present _ids — upsert, not
    // append (what a retried task attempt does)
    val body = new StringBuilder()
    (0 until 5).foreach { i =>
      // the job token is random per load; probe replace semantics with
      // explicitly chosen ids instead: first insert, then overwrite
      body.append(s"""{"index":{"_index":"$idx","_id":"probe-$i"}}""")
        .append('\n')
        .append(s"""{"event_id":${900000 + i},"event_type":"probe"}""")
        .append('\n')
    }
    graft.sources.GraftElasticHttp.send(
      s"${GraftElasticServer.url}/_bulk", "POST", body.toString)
    val afterFirst = countNow()
    assert(afterFirst == expect + 5)
    graft.sources.GraftElasticHttp.send(
      s"${GraftElasticServer.url}/_bulk", "POST", body.toString)
    assert(countNow() == afterFirst,
      "replayed bulk batch with identical _ids duplicated documents")
  }

  /** Runtime dynamic filtering into the scroll scan — the reference
    * applies dynamic filters inside the ES scan
    * (results/q005/workers-1/explain.txt:212-219). Pruned-column scan
    * (no `text`), so filterAttributes must stay within the pruned
    * read schema; the evaluated build-side keys render as a `terms`
    * clause in `bool.filter` and fewer hits ride the scroll pages. */
  test("runtime dynamic filter folds build-side keys into bool.filter terms") {
    useRoot(sf1)
    val idx = index(sf1)
    val root = tempDir("graft-es-rtf").toString
    val conf = spark.conf
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val keys = Seq(2L, 5L, 8L)
      Tables.documents(spark, sf1).select(col("doc_id").as("dkey"))
        .withColumn("pick", when(col("dkey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      val fact = spark.table("elastic.default.documents")
        .select("doc_id", "n_chars")
      val hitsBefore = GraftElasticServer.hitCount(idx)
      val q = fact.join(dim, col("doc_id") === col("dkey"))
        .agg(sum(col("n_chars")).as("s"))
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no runtime filter planned into the elastic scan:\n$plan")
      // the evaluated IN-set rendered as a terms clause
      val body = GraftElasticServer.lastSearchBody(idx).get
      assert(body.contains(""""terms":{"doc_id":"""), body)
      keys.foreach(k => assert(body.contains(k.toString), s"key $k absent: $body"))
      // fewer hits crossed the wire than the index holds
      val total = Tables.documents(spark, sf1).count()
      val crossed = GraftElasticServer.hitCount(idx) - hitsBefore
      assert(crossed < total,
        s"runtime filter did not reduce wire hits: $crossed vs index $total")
      val expect = Tables.documents(spark, sf1)
        .filter(col("doc_id").isin(keys: _*))
        .agg(sum(col("n_chars"))).head.getLong(0)
      assert(rows.length == 1 && rows(0).getLong(0) == expect,
        s"got ${rows.mkString}, expected $expect")
    } finally conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  /** Runtime predicates name the column AS THE QUERY SPELLED it; the
    * shared admission rule maps it back to the schema's spelling, so a
    * case-mismatched join key (`spark.sql.caseSensitive` stays false)
    * still becomes a `terms` clause. */
  test("a runtime filter on a key spelled in another case reaches the wire") {
    useRoot(sf1)
    val idx = index(sf1)
    val root = tempDir("graft-es-case").toString
    val conf = spark.conf
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    try {
      val keys = Seq(2L, 5L, 8L)
      Tables.documents(spark, sf1).select(col("doc_id").as("dkey"))
        .withColumn("pick", when(col("dkey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      val fact = spark.table("elastic.default.documents")
        .select(col("DOC_ID"), col("n_chars"))
      val q = fact.join(dim, col("DOC_ID") === col("dkey"))
        .agg(sum(col("n_chars")).as("s"))
      val rows = q.collect()
      val body = GraftElasticServer.lastSearchBody(idx).get
      assert(body.contains(""""terms":{"doc_id":"""), body)
      keys.foreach(k => assert(body.contains(k.toString), s"key $k absent: $body"))
      val expect = Tables.documents(spark, sf1)
        .filter(col("doc_id").isin(keys: _*))
        .agg(sum(col("n_chars"))).head.getLong(0)
      assert(rows.length == 1 && rows(0).getLong(0) == expect,
        s"got ${rows.mkString}, expected $expect")
    } finally conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
  }

  /** The runtime-filter SIZE guard: past
    * `spark.sql.graft.wire.runtimeFilterMaxKeys` literals the IN-set
    * is not folded into the request body, and the join stays correct
    * Spark-side (runtime filtering is an optimization). */
  test("an oversized runtime IN-set is not sent over the wire") {
    useRoot(sf1)
    val idx = index(sf1)
    val root = tempDir("graft-es-cap").toString
    val conf = spark.conf
    conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
    conf.set("spark.sql.graft.wire.runtimeFilterMaxKeys", "2")
    try {
      val keys = Seq(2L, 5L, 8L) // 3 keys > cap of 2
      Tables.documents(spark, sf1).select(col("doc_id").as("dkey"))
        .withColumn("pick", when(col("dkey").isin(keys: _*), 1).otherwise(0))
        .write.mode("overwrite").parquet(s"$root/dim")
      val dim = spark.read.parquet(s"$root/dim").filter(col("pick") === 1)
      val fact = spark.table("elastic.default.documents")
        .select("doc_id", "n_chars")
      val q = fact.join(dim, col("doc_id") === col("dkey"))
        .agg(sum(col("n_chars")).as("s"))
      val rows = q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dynamicpruning"),
        s"no runtime filter planned into the elastic scan:\n$plan")
      val body = GraftElasticServer.lastSearchBody(idx).get
      assert(!body.contains(""""terms""""),
        s"oversized runtime IN-set crossed the wire: $body")
      val expect = Tables.documents(spark, sf1)
        .filter(col("doc_id").isin(keys: _*))
        .agg(sum(col("n_chars"))).head.getLong(0)
      assert(rows.length == 1 && rows(0).getLong(0) == expect,
        s"got ${rows.mkString}, expected $expect")
    } finally {
      conf.unset("spark.sql.optimizer.dynamicPartitionPruning.useStats")
      conf.unset("spark.sql.graft.wire.runtimeFilterMaxKeys")
    }
  }

  /** Idle-scroll reaping (r15 verdict #3): a crashed client that never
    * pages or DELETEs its scroll must not pin the matched-row iterator
    * for the JVM's life. The sweep runs on scroll OPEN and only evicts
    * cursors idle past the 600 s window (back-dated via the test
    * hook). */
  test("abandoned scrolls are reaped after the idle window") {
    useRoot(sf1)
    val idx = index(sf1)
    def openScroll(): String = {
      val resp = graft.sources.GraftElasticHttp.send(
        s"${GraftElasticServer.url}/$idx/_search?scroll=1m", "POST",
        """{"size":1,"query":{"match_all":{}}}""")
      """"_scroll_id":"([^"]+)"""".r.findFirstMatchIn(resp).get.group(1)
    }
    def getMore(sid: String): String =
      graft.sources.GraftElasticHttp.send(
        s"${GraftElasticServer.url}/_search/scroll", "POST",
        s"""{"scroll":"1m","scroll_id":"$sid"}""")
    val first = openScroll()
    // a paging client's touch refreshes lastUsed
    getMore(first)
    // a herd of 33 more open cursors
    val herd = (0 until 33).map(_ => openScroll())
    // below the idle window nothing is evicted
    openScroll()
    assert(getMore(first).contains("_scroll_id"))
    // age EVERY cursor past 600 s; the next scroll open sweeps them
    GraftElasticServer.scrolls.ageForTest(700L * 1000 * 1000 * 1000)
    val survivor = openScroll()
    val e = intercept[java.io.IOException] { getMore(first) }
    assert(e.getMessage.contains("unknown or expired"), e.getMessage)
    val e2 = intercept[java.io.IOException] { getMore(herd.head) }
    assert(e2.getMessage.contains("unknown or expired"), e2.getMessage)
    // the freshly opened cursor itself survives the sweep that ran
    // at its own open
    assert(getMore(survivor).contains("_scroll_id"))
    // clean up the survivor
    graft.sources.GraftElasticHttp.send(
      s"${GraftElasticServer.url}/_search/scroll", "DELETE",
      s"""{"scroll_id":["$survivor"]}""")
  }

  /** Drain and clear-scroll release the scroll: a full sliced scan
    * (every slice ends on a short page), a LIMIT scan whose readers
    * close after a full page, and a short first page with no clear all
    * leave the live count where it was. */
  test("drained and early-closed scrolls are released") {
    useRoot(sf1)
    val before = GraftElasticServer.scrolls.liveCount
    val all = spark.sql("SELECT doc_id FROM elastic.default.documents").collect()
    assert(all.nonEmpty)
    assert(GraftElasticServer.scrolls.liveCount == before,
      "a full scan left its slices' scrolls open")
    spark.conf.set("spark.sql.catalog.esearly",
      "graft.sources.GraftElasticCatalog")
    spark.conf.set("spark.sql.catalog.esearly.pageSize", "7")
    val some = spark.sql("SELECT doc_id FROM esearly.default.documents LIMIT 3")
      .collect()
    assert(some.length == 3)
    assert(GraftElasticServer.scrolls.liveCount == before,
      "readers that closed early left their scrolls open")
    // a client that stops at the short page and never clears the scroll
    GraftElasticHttp.send(s"${GraftElasticServer.url}/${index(sf1)}/_search?scroll=1m",
      "POST", """{"size":10000,"query":{"match_all":{}}}""")
    assert(GraftElasticServer.scrolls.liveCount == before,
      "a drained scroll stayed registered")
  }

  /** `terms` type bracketing (r15 ADVICE): booleans and nulls must not
    * leak into the numeric sets (true≠1, null≠0), while a TEXTUAL term
    * that parses as a number matches numeric rows — real ES coerces
    * "5"→5 against a numeric-mapped field. */
  test("terms clause brackets types: bool/null never match numerics, text coerces") {
    useRoot(sf1)
    val idx = index(sf1)
    def search(terms: String): Set[Long] = {
      val resp = graft.sources.GraftElasticHttp.send(
        s"${GraftElasticServer.url}/$idx/_search?scroll=1m", "POST",
        s"""{"size":10000,"_source":["doc_id"],"query":{"bool":{"filter":[
           |{"terms":{"doc_id":$terms}}]}}}""".stripMargin)
      """"doc_id":(\d+)""".r.findAllMatchIn(resp).map(_.group(1).toLong).toSet
    }
    // true→1 and null→0 coercions must NOT happen; "5" and 7 match
    assert(search("""[true,null,"5",7]""") == Set(5L, 7L))
    // integral double matches the long row; fractional does not
    assert(search("""[3.0,4.5]""") == Set(3L))
  }

  test("the catalog is DDL-immutable and never leaks per-dir corpus names") {
    useRoot(sf1)
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog}
    val cat = spark.sessionState.catalogManager.catalog("elastic")
      .asInstanceOf[TableCatalog]
    val tables = cat.listTables(Array("default")).map(_.name()).toSeq
    // the corpus fixture appears ONLY as `documents`; bulk-created
    // indexes may also be listed, internal seeded names never
    assert(tables.contains("documents"))
    assert(!tables.exists(_.startsWith("documents_")), tables.mkString(","))
    assert(!cat.dropTable(Identifier.of(Array("default"), "documents")))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM elastic.default.nosuch").collect()
    }
    assert(e.getMessage.contains("nosuch") ||
      e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"), e.getMessage)
  }

  test("_bulk sink: PUT + ndjson batches + dynamic mapping + scroll read-back") {
    useRoot(sf1)
    val idx = "bulk_spec_idx"
    val src = Tables.events(spark, sf1)
      .select("event_id", "event_type", "value", "ts")
      .filter(col("event_id") <= 200)
    val before = GraftElasticServer.bulkCount(idx)
    val total = src.count()
    val shipped = graft.sources.GraftElasticBulk
      .bulkIndex(src.repartition(2), idx, batchRows = 50)
    assert(shipped == total && total > 0)
    // round-robin repartition(2) splits n into halves differing by ≤1
    val (a, b) = ((total / 2).toInt, (total - total / 2).toInt)
    val expectBulks = (a + 49) / 50 + (b + 49) / 50
    assert(GraftElasticServer.bulkCount(idx) == before + expectBulks)
    // mapping was inferred from the first document: numerics native,
    // the timestamp rendered default=str → keyword
    val back = spark.sql(s"SELECT * FROM elastic.default.$idx")
    assert(back.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("event_id", org.apache.spark.sql.types.LongType),
        ("event_type", org.apache.spark.sql.types.StringType),
        ("value", org.apache.spark.sql.types.DoubleType),
        ("ts", org.apache.spark.sql.types.StringType)))
    val expect = src
      .select(col("event_id"), col("event_type"), col("value"),
        col("ts").cast("string"))
      .collect().map(_.toSeq).toSet
    assert(back.collect().map(_.toSeq).toSet == expect)
    // duplicate create fails loudly
    val e = intercept[java.io.IOException] {
      graft.sources.GraftElasticHttp.send(
        GraftElasticServer.url + s"/$idx", "PUT", "{}")
    }
    assert(e.getMessage.contains("already exists"), e.getMessage)
    // a document drifting from the fixed mapping fails the whole bulk
    val drift = intercept[java.io.IOException] {
      graft.sources.GraftElasticHttp.send(
        GraftElasticServer.url + "/_bulk", "POST",
        s"""{"index":{"_index":"$idx"}}\n{"event_id":"not-a-long","event_type":"x","value":1.0,"ts":"t"}\n""")
    }
    assert(drift.getMessage.contains("does not conform"), drift.getMessage)
  }
}
