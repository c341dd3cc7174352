package graft

import org.apache.spark.sql.functions._

/** p16 DSIR importance-weighting gates: a crafted corpus whose target
  * (en) and off-target (de) documents use disjoint vocabularies must
  * split cleanly by weight sign, and one document's weight must be
  * EXACTLY recomputable from raw bucket counts via the entry's
  * nano-quantized integer sum (r11: log-ratios freeze to round(lr·10⁹)
  * so the fold is order-free integer arithmetic and the DuckDB oracle
  * is exact despite libm ulp differences). */
class DsirSpec extends SparkSpec {

  private val enVocab = Seq("apple", "banana", "cherry", "date", "elder", "fig")
  private val deVocab = Seq("rot", "grun", "blau", "gelb", "weiss", "schwarz")
  private val docLen = 200

  private def cycleText(v: Seq[String]): String =
    (0 until docLen).map(i => v(i % v.size)).mkString(" ")

  /** 10 target-language docs on one vocabulary, 2 off-target docs on a
    * disjoint one — the margin between distributions is enormous, so
    * the sign split is robust to everything except a hash collision
    * between an en and a de gram bucket (gated as a precondition). */
  private lazy val dir: String = {
    val d = tempDir("graft_dsir").toString
    import spark.implicits._
    val docs = (0L until 10L).map(i => (i, cycleText(enVocab), "en", "web", 0L)) ++
      (10L until 12L).map(i => (i, cycleText(deVocab), "de", "web", 0L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  /** All gram types (unigrams + bigrams) of a text. */
  private def grams(text: String): Seq[String] = {
    val w = text.split(" ")
    w.toSeq ++ w.zip(w.drop(1)).map { case (a, b) => s"${a}_$b" }
  }

  /** Buckets via the engine's own hash (the spec must agree with the
    * entry on bucketing, not re-implement xxhash64). */
  private def buckets(gs: Seq[String]): Map[String, Long] = {
    import spark.implicits._
    gs.distinct.toDF("g")
      .select(col("g"), pmod(xxhash64(col("g")), lit(1024L)).as("b"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("precondition: crafted vocabularies are bucket-collision-free") {
    val all = (grams(cycleText(enVocab)) ++ grams(cycleText(deVocab))).distinct
    val b = buckets(all)
    assert(b.values.toSeq.distinct.size == all.size,
      "crafted grams collide under the bucket hash — pick a different vocab")
  }

  test("weights split by sign between target-like and off-target docs") {
    val rows = SparkEntry.queries("p16_dsir_weights")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.length == 12)
    val (en, de) = rows.partition(_._1 < 10L)
    assert(en.map(_._3).min > de.map(_._3).max,
      "an off-target doc outweighs a target-like doc")
    assert(en.forall(_._3 > 0), s"target-like doc with non-positive weight: $en")
    assert(de.forall(_._3 < 0), s"off-target doc with non-negative weight: $de")
    rows.foreach { case (id, _, w, sel) =>
      assert(sel == (w > 0), s"selected flag inconsistent for doc $id")
    }
    // n_feats = unigrams + bigrams = 2·tokens − 1
    rows.foreach { case (id, nf, _, _) =>
      assert(nf == 2L * docLen - 1, s"doc $id n_feats = $nf")
    }
  }

  test("a document's weight is exactly recomputable from raw bucket counts") {
    val rows = SparkEntry.queries("p16_dsir_weights")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(2)).toMap
    // independent recompute from first principles (same bucketing, the
    // entry's exact expression shapes, scala doubles)
    val texts = (0L until 10L).map(i => (i, cycleText(enVocab), true)) ++
      (10L until 12L).map(i => (i, cycleText(deVocab), false))
    val b = buckets(texts.flatMap(t => grams(t._2)).distinct)
    val instances = texts.flatMap { case (id, t, isEn) =>
      grams(t).map(g => (id, isEn, b(g)))
    }
    val cr = instances.groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val ct = instances.filter(_._2).groupBy(_._3).map { case (k, v) => k -> v.size.toLong }
    val tr = cr.values.sum
    val tt = ct.values.sum
    def lrNano(bk: Long): Long =
      math.round((math.log((ct.getOrElse(bk, 0L) + 1).toDouble / (tt + 1024)) -
        math.log((cr(bk) + 1).toDouble / (tr + 1024))) * 1e9)
    texts.foreach { case (id, t, _) =>
      val wn = grams(t).map(g => lrNano(b(g))).sum
      val expected = wn.toDouble / 1e9
      assert(rows(id) == expected,
        s"doc $id weight ${rows(id)} != recomputed $expected")
    }
  }
}
