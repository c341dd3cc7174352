package graft

/** Dataset-card gates (p19) on a crafted corpus with known statistics:
  * exact lower median (odd and even group sizes), duplicate counting
  * via content digests, and token totals. */
class DatasetCardSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graft_card").toString
    import spark.implicits._
    // group (web, en): 3 docs, lengths 10/20/30 -> median 20; one
    //   exact duplicate pair -> n_unique 2, dup_rate 1/3
    // group (book, en): 2 docs, lengths 10/40 -> lower median 10
    Seq(
      (0L, "a b c", "en", "web", 10L),
      (1L, "a b c", "en", "web", 20L),
      (2L, "x y", "en", "web", 30L),
      (3L, "p q r s", "en", "book", 10L),
      (4L, "p q", "en", "book", 40L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("p19 card matches hand-computed stats per (source, lang)") {
    val got = SparkEntry.queries("p19_dataset_card")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5),
          r.getLong(6), r.getLong(7), r.getLong(8))))
      .toMap
    assert(got(("web", "en")) == ((3L, 8L, 2L, 1.0 / 3.0, 10L, 20L, 30L)),
      s"web card: ${got(("web", "en"))}")
    assert(got(("book", "en")) == ((2L, 6L, 2L, 0.0, 10L, 10L, 40L)),
      s"book card: ${got(("book", "en"))}")
  }

  test("p19 groups partition the corpus and medians are real lengths") {
    val docs = Tables.documents(spark, sf2)
    val rows = SparkEntry.queries("p19_dataset_card")(spark, sf2).collect()
    assert(rows.map(_.getLong(2)).sum == docs.count())
    rows.foreach { r =>
      assert(r.getLong(6) <= r.getLong(7) && r.getLong(7) <= r.getLong(8),
        s"median outside [min,max] for ${r.getString(0)}/${r.getString(1)}")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) < 1.0)
    }
  }
}
