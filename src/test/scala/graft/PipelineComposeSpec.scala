package graft

import graft.operators.{Dedup, Pipeline}
import org.apache.spark.sql.GraftBridge.materialize
import org.apache.spark.sql.functions._

/** p12/p13 composed-pipeline chain-algebra gates. p12's values are
  * driver-oracled (exact SQL spine); these gates cover what the oracle
  * cannot: that the manifest really packs the spine's survivor set,
  * and that p13's probabilistic near-dup stage drops exactly the
  * larger ids of verified ≥0.85 pairs — nothing more, nothing less. */
class PipelineComposeSpec extends SparkSpec {

  private def manifestTotals(name: String): (Long, Long) = {
    val m = SparkEntry.queries(name)(spark, sf1).collect()
    (m.map(_.getLong(2)).sum, m.map(_.getLong(3)).sum)
  }

  test("p12 manifest packs exactly the gate→strip→dedup survivors") {
    val surv = Pipeline.composeSurvivors(spark, sf1)
      .select(col("doc_id"), size(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    val (nDocs, toks) = manifestTotals("p12_pipeline_compose")
    assert(nDocs == surv.length,
      s"manifest covers $nDocs docs, spine has ${surv.length}")
    assert(toks == surv.map(_._2.toLong).sum, "manifest token total drifted")
    // the chain actually filters: some documents must have been gated,
    // stripped empty, or deduplicated away relative to the raw corpus
    val raw = spark.read.parquet(s"$sf1/documents.parquet").count()
    assert(nDocs < raw, s"composed pipeline dropped nothing ($nDocs of $raw)")
  }

  test("p18 chunks tile every document at the declared stride") {
    val texts = spark.read.parquet(s"$sf1/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1)).toMap
    val byDoc = SparkEntry.queries("p18_chunk_split")(spark, sf1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
      .groupBy(_._1)
    assert(byDoc.keySet == texts.keySet, "chunker lost or invented documents")
    byDoc.foreach { case (doc, rows) =>
      val sorted = rows.sortBy(_._2)
      val nw = texts(doc).length.toLong
      // geometry: starts at 1, stride exactly chunkStride, indexes dense
      sorted.zipWithIndex.foreach { case ((_, idx, start, _, _), i) =>
        assert(idx == i && start == i * Pipeline.chunkStride + 1,
          s"doc $doc chunk $i geometry ($idx, $start)")
      }
      // every chunk but the last is full-length; the last ends at nw
      sorted.dropRight(1).foreach { case (_, _, _, n, _) =>
        assert(n == Pipeline.chunkLen, s"doc $doc short interior chunk")
      }
      val (_, _, lastStart, lastN, _) = sorted.last
      assert(lastStart + lastN - 1 == nw,
        s"doc $doc last chunk ends at ${lastStart + lastN - 1}, nw $nw")
      // digests: each chunk hashes exactly its token slice
      sorted.foreach { case (_, _, start, n, digest) =>
        val slice = texts(doc).slice(start.toInt - 1, start.toInt - 1 + n.toInt)
        val expect = java.security.MessageDigest.getInstance("SHA-256")
          .digest(slice.mkString(" ").getBytes("UTF-8"))
          .map("%02x".format(_)).mkString
        assert(digest == expect, s"doc $doc chunk at $start digest mismatch")
      }
    }
  }

  test("p20 manifest conserves every modality's tokens and bins densely") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf2)
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1))
    // independent per-doc recompute of the m05-dim patch arithmetic
    val perDoc = docs.map { case (id, text) =>
      val toks = text.split(" ", -1).length.toLong
      val w = 8 + (id % 9)
      val h = text.getBytes("UTF-8").length / (3 * w)
      val patches = ((w + 13) / 14) * ((h + 13) / 14)
      (id, toks, patches, toks + patches + 2)
    }
    val got = SparkEntry.queries("p20_multimodal_pack")(spark, sf2).collect()
    assert(got.map(_.getLong(2)).sum == docs.length, "manifest lost documents")
    assert(got.map(_.getLong(3)).sum == perDoc.map(_._2).sum, "text tokens")
    assert(got.map(_.getLong(4)).sum == perDoc.map(_._3).sum, "image tokens")
    assert(got.map(_.getLong(5)).sum == perDoc.map(_._4).sum, "total tokens")
    got.groupBy(_.getLong(0)).foreach { case (b, rows) =>
      val bins = rows.map(_.getLong(1)).sorted.toSeq
      assert(bins == (0L until bins.length).toSeq, s"bucket $b bins not dense: $bins")
    }
  }

  test("p13 drops exactly the larger ids of verified pairs and re-packs the rest") {
    val surv = materialize(Pipeline.composeSurvivors(spark, sf1))
    val pairs = Dedup.minhashVerifiedPairs(surv)
      .filter(col("jaccard") >= 0.85)
      .select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the drop rule is keep-first: every verified pair is oriented
    pairs.foreach { case (a, b) => assert(a < b, s"pair ($a, $b) misoriented") }
    val drop = pairs.map(_._2).toSet
    val p12ids = surv.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(drop.subsetOf(p12ids), "p13 dropped a doc that never survived the spine")
    val kept = surv
      .select(col("doc_id"), size(split(col("text"), " ")).as("t"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .filter(p => !drop.contains(p._1))
    val (nDocs, toks) = manifestTotals("p13_pipeline_full")
    assert(nDocs == kept.length,
      s"p13 manifest covers $nDocs docs, expected ${kept.length}")
    assert(toks == kept.map(_._2.toLong).sum, "p13 token total drifted")
  }
}
