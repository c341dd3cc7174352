package graft

import org.apache.spark.sql.functions._

/** Verification gates for the three operators whose driver entries are
  * rows-only by design (not SQL-oracle-expressible in DuckDB): each gets
  * an independent correctness bound here so a silent regression cannot
  * hide behind the weaker rows-only check.
  *
  *  - q46: the t-digest estimates must land inside the exact quantile
  *    envelope implied by the sketch's rank-error guarantee;
  *  - t03: the language-ID heuristic is scored against the fixture's own
  *    `lang` labels (the corpus generator draws text per-language, so
  *    labels are ground truth);
  *  - t04: the rolling rotate-xor fingerprint is recomputed token by
  *    token in plain Scala from seed-0 XXH64 word hashes (the hash layer
  *    itself is pinned to public vectors in TrinoFunctionsSpec) and must
  *    match the operator's output exactly, every document.
  */
class QualityGatesSpec extends SparkSpec {

  test("q46: approx percentiles sit inside the exact rank-error envelope") {
    // approx_percentile(x, p, 1000) guarantees rank error <= n/1000,
    // i.e. the estimate is an exact quantile at some p' with
    // |p' - p| <= 0.001. Gate against the exact quantile envelope at
    // p +/- 0.005 (5x the guarantee, still ~200x tighter than the
    // inter-decile spread) per group.
    val eps = 0.005
    val rows = spark.read.parquet(s"$sf2/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_quantity, 0.5, 1000)").as("a50"),
        expr("approx_percentile(l_quantity, 0.9, 1000)").as("a90"),
        expr(s"percentile(l_quantity, ${0.5 - eps})").as("lo50"),
        expr(s"percentile(l_quantity, ${0.5 + eps})").as("hi50"),
        expr(s"percentile(l_quantity, ${0.9 - eps})").as("lo90"),
        expr(s"percentile(l_quantity, ${0.9 + eps})").as("hi90"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val flag = r.getString(0)
      def d(i: Int) = r.getDouble(i)
      assert(d(1) >= d(3) && d(1) <= d(4),
        s"group $flag: approx p50 ${d(1)} outside exact envelope [${d(3)}, ${d(4)}]")
      assert(d(2) >= d(5) && d(2) <= d(6),
        s"group $flag: approx p90 ${d(2)} outside exact envelope [${d(5)}, ${d(6)}]")
    }
  }

  test("t03: classifies a corpus with genuine per-language signal") {
    // The driver fixture CANNOT gate accuracy: its lang column is
    // statistically independent of the text (all languages draw from
    // one vocabulary — per-language word-frequency deviations have
    // ~zero correlation across disjoint doc_id splits, measured round
    // 6), so no classifier beats the majority-class baseline there.
    // The accuracy gate instead runs on a corpus with real signal:
    // three languages with disjoint vocabularies, deterministic
    // composition, written in the driver's documents.parquet shape so
    // the operator runs unmodified. The heuristic must be near-perfect
    // where separation exists — that gates profile learning AND
    // scoring, which the fixture's rows-only check never did.
    val vocab = Map(
      "aa" -> Seq("avaro", "amindel", "asturn", "abellane", "arvointi"),
      "bb" -> Seq("borgen", "bruckveld", "bestim", "binnerst", "brauwerk"),
      "cc" -> Seq("czilene", "cvetko", "czarnil", "cestovny", "crnovek"))
    val docs = for {
      (lang, ws) <- vocab.toSeq
      i <- 0 until 40
    } yield {
      val id = vocab.keys.toSeq.sorted.indexOf(lang) * 1000L + i
      val text = (0 until 30).map(j => ws((i * 7 + j * 3) % ws.size)).mkString(" ")
      (id, text, lang, "synthetic", text.length.toLong)
    }
    import spark.implicits._
    val dir = tempDir("t03gate").toString
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .repartition(4).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("t03_lang_id")(spark, dir)
      .agg(count(lit(1)).as("n"), avg(col("correct")).as("acc")).head()
    assert(out.getLong(0) == docs.size.toLong,
      s"only ${out.getLong(0)} of ${docs.size} docs scored")
    assert(out.getDouble(1) >= 0.95,
      s"lang-id accuracy ${out.getDouble(1)} below 0.95 on separable languages")
  }

  test("t03: full coverage on the driver fixture") {
    // accuracy is ungateable on the fixture (labels independent of
    // text — see above), but every document must still receive exactly
    // one prediction
    val total = spark.read.parquet(s"$sf2/documents.parquet").count()
    val out = SparkEntry.queries("t03_lang_id")(spark, sf2)
    assert(out.count() == total)
    assert(out.select(col("doc_id")).distinct().count() == total)
  }

  test("t04: fingerprints match a token-by-token Scala recomputation") {
    // independent reference: per-word seed-0 XXH64 from the registered
    // expression (pinned to public test vectors in TrinoFunctionsSpec),
    // folded left with the same rotate-5/xor combine in plain Scala.
    import graft.functions.TrinoFunctions.trino_xxhash64
    val docs = spark.read.parquet(s"$sf1/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(docs.nonEmpty)
    // Spark's split(text, ' ') keeps trailing empty strings (limit -1)
    val words = docs.values.flatMap(_.split(" ", -1)).toSeq.distinct
    val hash: Map[String, Long] = {
      import spark.implicits._
      words.toDF("w").select(col("w"), trino_xxhash64(col("w")).as("h"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    def rollRef(text: String): Long =
      text.split(" ", -1).foldLeft(0L) { (acc, w) =>
        ((acc << 5) | (acc >>> 59)) ^ hash(w)
      }
    val got = SparkEntry.queries("t04_fingerprint")(spark, sf1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet == docs.keySet)
    got.foreach { case (id, fp) =>
      assert(fp == rollRef(docs(id)), s"doc $id fingerprint mismatch")
    }
  }
}
