package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** s16 gates: the drift monitor's flags must be a pure function of its
  * emitted statistics (recomputed row-by-row), its counts must account
  * for every vector exactly once, and a CRAFTED drifted batch — every
  * arriving vector aimed at one cell — must flag that cell and spare
  * the aligned ones. */
class IndexDriftSpec extends SparkSpec {

  test("s16 on testdata: counts partition the corpus, flags recompute from columns") {
    val rows = SparkEntry.queries("s16_index_drift")(spark, sf2).collect()
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    val arriving = e.filter(col("vec_id") % 10 === 7 && col("vec_id") >= 10).count()
    val base = e.filter(col("vec_id") % 10 =!= 7 && col("vec_id") >= 10).count()
    assert(rows.map(_.getAs[Long]("base_n")).sum == base)
    assert(rows.map(_.getAs[Long]("new_n")).sum == arriving)
    assert(rows.nonEmpty && rows.forall { r =>
      val ratio = Option(r.getAs[java.lang.Double]("share_ratio")).map(_.doubleValue)
      val drop = Option(r.getAs[java.lang.Double]("cos_drop")).map(_.doubleValue)
      val expected = ratio.forall(_ >= Similarity.driftShareBand) ||
        ratio.forall(_ <= 1.0 / Similarity.driftShareBand) ||
        drop.exists(_ >= Similarity.driftCosDrop)
      r.getAs[Boolean]("retrain") == expected
    })
  }

  test("s16 on a crafted drifted batch: the absorbing cell flags for retrain") {
    import spark.implicits._
    val dir = tempDir("graft_drift").toString
    // base: 80 vectors spread uniformly over 8 axis directions, ids
    // ≥ 10 with id % 10 ∈ 0..6 (never the arriving mod); arriving
    // batch (vec_id ≡ 7 mod 10): every vector near axis 0 — maximal
    // share drift into one cell
    def axis(a: Int, jitter: Float): Array[Float] =
      Array.tabulate(64)(j => if (j == a) 1f else if (j == (a + 8) % 64) jitter else 0f)
    val base = (0 until 80).map(i => (100L + i * 10L + (i % 7), axis(i % 8, 0.05f), "l"))
    val drifted = (0 until 16).map(i => (17L + i * 10L, axis(0, 0.02f * i), "l"))
    (base ++ drifted).toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    val rows = SparkEntry.queries("s16_index_drift")(spark, dir).collect()
    // the cell absorbing the drifted batch must flag (its share ratio
    // is far beyond the band); cells the batch abandoned flag as share
    // collapse — that asymmetry IS the monitor's signal
    val hot = rows.maxBy(_.getAs[Long]("new_n"))
    assert(hot.getAs[Long]("new_n") >= 8L, s"drift did not concentrate: ${rows.toSeq}")
    assert(hot.getAs[Boolean]("retrain"),
      s"cell absorbing the drifted batch not flagged: $hot")
    assert(rows.map(_.getAs[Long]("new_n")).sum == 16L)
  }
}
