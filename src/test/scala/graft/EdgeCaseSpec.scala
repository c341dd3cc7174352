package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Degenerate-corpus gates for the round-9 operators: crafted parquet
  * corpora (written to a temp dir with the driver schemas) prove the
  * paragraph family and the filtered/persisted ANN entries degrade
  * gracefully instead of throwing or silently mis-answering — the
  * WinnowingSpec synthetic-herd recipe applied to the new surface. */
class EdgeCaseSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graft_edge").toString
    import spark.implicits._
    // documents: an empty text, a single word, a 20-word exact chunk
    // boundary, and a 3-doc herd sharing ONE boilerplate paragraph
    // (df=3 > boilerplateMaxDf) with distinct tails
    val boiler = (1 to 20).map(i => s"b$i").mkString(" ")
    Seq(
      (0L, "", "en", "web", 0L),
      (1L, "solo", "en", "web", 4L),
      (2L, (1 to 20).map(i => s"w$i").mkString(" "), "en", "web", 80L),
      (3L, s"$boiler tail3a tail3b", "en", "web", 300L),
      (4L, s"$boiler tail4a tail4b", "en", "web", 300L),
      (5L, s"$boiler tail5a tail5b", "zh", "web", 300L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    // embeddings: ids aligned with doc_ids; queries are 0-1, corpus 2-5
    val vecs = Seq(0L, 1L, 2L, 3L, 4L, 5L).map { i =>
      (i, Array.tabulate(64)(j => if (j == (i % 8).toInt) 1f else 0.01f * j), "l")
    }
    vecs.toDF("vec_id", "embedding", "label").write.parquet(s"$d/embeddings.parquet")
    d
  }

  test("chunker: empty text is one empty paragraph; exact-boundary doc splits clean") {
    val p = Dedup.paragraphs(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getInt(1)), r.getString(2)))
    assert(p.count(_._1._1 == 0L) == 1 && p.find(_._1._1 == 0L).get._2 == "")
    assert(p.count(_._1._1 == 1L) == 1 && p.find(_._1._1 == 1L).get._2 == "solo")
    // 20 words = exactly one full chunk, no empty trailing chunk
    assert(p.count(_._1._1 == 2L) == 1)
  }

  test("d16 on the herd: boilerplate paragraph has one survivor, dups=3") {
    val rows = SparkEntry.queries("d16_paragraph_dedup")(spark, dir).collect()
    val herd = rows.filter(_.getLong(3) == 3L)
    assert(herd.length == 1, s"expected one df=3 digest, got ${herd.length}")
    assert(herd.head.getLong(0) == 3L && herd.head.getLong(1) == 0L,
      "survivor is not the lexicographically-first bearer (doc 3, para 0)")
  }

  test("d18 strips the herd's boilerplate but keeps every tail") {
    val got = SparkEntry.queries("d18_boilerplate_strip")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    // herd docs survive with ONLY their tails; unique docs unchanged
    assert(got(3L) == "tail3a tail3b" && got(4L) == "tail4a tail4b" &&
      got(5L) == "tail5a tail5b", s"herd reassembly wrong: $got")
    assert(got(1L) == "solo" && got(2L).startsWith("w1 "))
  }

  test("s10 with a nothing-matches predicate returns empty, not an error") {
    // the edge corpus has no doc with lang=en AND n_chars>=200 among
    // corpus ids >= 10 — in fact no ids >= 10 at all, so the eligible
    // corpus is empty end-to-end (empty seed set, empty centroids)
    val rows = SparkEntry.queries("s10_ann_filtered")(spark, dir).collect()
    assert(rows.isEmpty, s"expected empty result, got ${rows.length} rows")
  }

  test("d17 on a tiny corpus still verifies exactly (herd tails share no shingles)") {
    val rows = SparkEntry.queries("d17_paragraph_neardup")(spark, dir).collect()
    // the only sharable shingles live in the identical boilerplate
    // chunks; every reported pair must be jaccard 1.0 among them
    rows.foreach { r =>
      assert(r.getDouble(2) == 1.0, s"unexpected partial match: $r")
    }
  }

  test("t15 scores the empty document finitely (empty text is one empty token)") {
    val rows = SparkEntry.queries("t15_unigram_nll")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(rows.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L), rows.toString)
    val (n0, nll0) = rows(0L)
    // split("", " ") = [""] in both engines: one token of the "" type
    assert(n0 == 1L, s"empty doc token count $n0")
    assert(nll0 > 0 && nll0.isFinite, s"empty doc nll $nll0")
  }

  test("p19 card handles 1-doc groups (median = the only length)") {
    val rows = SparkEntry.queries("p19_dataset_card")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(6), r.getLong(7), r.getLong(8)))).toMap
    // the zh group has exactly one doc (300 chars)
    assert(rows(("web", "zh")) == ((1L, 300L, 300L, 300L)), rows.toString)
    assert(rows(("web", "en"))._1 == 5L, rows.toString)
  }

  test("p20 pack: the empty document still costs its separators and empty image") {
    val rows = SparkEntry.queries("p20_multimodal_pack")(spark, dir).collect()
    // 6 docs total across buckets; doc 0 contributes 1 text token
    // (the "" token), 0 patches (h = 0), + 2 separators
    assert(rows.map(_.getLong(2)).sum == 6L, rows.mkString(", "))
    val docs0bucket = rows.filter(_.getLong(0) == 0L)
    assert(docs0bucket.map(_.getLong(5)).sum >= 3L, rows.mkString(", "))
  }

  test("t14 redacts EVERY occurrence when a document carries multiple PII spans") {
    import spark.implicits._
    val d = tempDir("graft_pii").toString
    Seq((1L, "mail a.user@x.org then b_2@y.co.uk and ids 1234567 890123456 end",
        "en", "web", 60L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    val r = SparkEntry.queries("t14_redact")(spark, d).collect().head
    // 2 crafted emails + the synthesizer's own = 3; 2 long digit runs
    // (the id-derived 997 number is only 3 digits for doc 1)
    assert(r.getAs[Int]("n_emails") == 3, r.toString)
    assert(r.getAs[Int]("n_longnums") == 2, r.toString)
    val red = r.getAs[String]("redacted")
    assert(!red.contains("@") && !red.matches(".*[0-9]{6,}.*"), red)
    assert(red.contains("<EMAIL> then <EMAIL>") && red.contains("<NUM> <NUM>"), red)
  }

  test("d22 novelty: sub-3-word docs are absent; herd docs share their boilerplate grams") {
    val rows = SparkEntry.queries("d22_ngram_novelty")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_novel"))).toMap
    // docs 0 ("" = 1 empty token) and 1 ("solo") have no 3-grams
    assert(!rows.contains(0L) && !rows.contains(1L))
    // first herd doc owns all its grams; later herd docs only the
    // grams their distinct tails introduce (boiler spans are seen)
    val (n3, nov3) = rows(3L); val (n4, nov4) = rows(4L)
    assert(nov3 == n3, "first herd bearer should be fully novel")
    assert(nov4 < n4 && nov4 > 0, s"later bearer: $nov4 of $n4")
  }

  test("t16/t17 on degenerate docs: finite scores, no crash, empty-doc conventions hold") {
    val t16 = SparkEntry.queries("t16_readability")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("flesch")).toMap
    // empty text = one empty word (1 syllable floor), no sentences →
    // finite score; single word likewise
    assert(t16.keySet == Set(0L, 1L, 2L, 3L, 4L, 5L))
    t16.values.foreach(v => assert(!v.isNaN && !v.isInfinite))
    val t17 = SparkEntry.queries("t17_char_entropy")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getAs[Double]("entropy_nats")).toMap
    // the empty doc has NO characters → absent (matches the oracle's
    // unnest-of-empty-list); one-char-alphabet entropy is exactly 0
    assert(!t17.contains(0L))
    assert(t17.keySet == Set(1L, 2L, 3L, 4L, 5L))
    t17.values.foreach(v => assert(v >= 0.0 && !v.isNaN))
  }

  test("p22 masks the empty doc's single empty token deterministically") {
    val rows = SparkEntry.queries("p22_loss_mask")(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getAs[Int]("n_tokens"),
        r.getAs[Int]("n_masked"))).toMap
    // "" splits to one empty token: exactly one maskable position
    val (n0, m0) = rows(0L)
    assert(n0 == 1 && (m0 == 0 || m0 == 1))
    rows.values.foreach { case (n, m) => assert(m <= n) }
  }
}
