package graft

/** Unigram-LM NLL gates (t15). The DuckDB oracle proves engine parity
  * at sf0.01; this spec proves the SEMANTICS on a corpus small enough
  * to hand-compute: doc0 = "a a b", doc1 = "a c" →
  * counts a=3, b=1, c=1; N=5, V=3; smoothed p(w) = (c_w+1)/8.
  * Fixed-point: K = round(ln 8·10⁶), L = round(ln(c+1)·10⁶);
  * nll(d) = (n·K − Σ m·L) / (n·10⁶) exactly. */
class UnigramLmSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graft_ulm").toString
    import spark.implicits._
    Seq((0L, "a a b", "en", "web", 5L), (1L, "a c", "en", "web", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  test("t15 matches the hand-computed fixed-point NLL") {
    val k = math.round(math.log(8) * 1e6)      // 2079442
    val la = math.round(math.log(4) * 1e6)     // 1386294
    val l1 = math.round(math.log(2) * 1e6)     // 693147
    val exp = Map(
      0L -> (3L, (3 * k - (2 * la + l1)).toDouble / (3.0 * 1e6)),
      1L -> (2L, (2 * k - (la + l1)).toDouble / (2.0 * 1e6)))
    val got = SparkEntry.queries("t15_unigram_nll")(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2))))
      .toMap
    assert(got == exp, s"got $got, expected $exp")
  }

  test("t15 scores rare-word docs above corpus-typical docs at sf0.001") {
    val rows = SparkEntry.queries("t15_unigram_nll")(spark, sf1).collect()
    val ln2 = math.log(2.0)
    rows.foreach { r =>
      val nll = r.getDouble(2)
      assert(nll > ln2 && nll.isFinite,
        s"doc ${r.getLong(0)}: nll=$nll outside (ln 2, inf)")
    }
    // the corpus's own docs sit well below the all-hapax worst case
    val worst = rows.map(_.getDouble(2)).max
    val n = rows.map(_.getLong(1)).sum.toDouble
    assert(worst < math.log(n), s"worst=$worst vs ln(N)=${math.log(n)}")
  }
}
