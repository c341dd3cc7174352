package graft

import graft.functions.VectorFunctions.cosine_similarity
import graft.operators.Similarity
import org.apache.spark.sql.GraftBridge.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** s17 gates: the greedy MMR selection is recomputed INDEPENDENTLY in
  * Scala from the engine's own cosine values (pool relevances and all
  * pairwise pool similarities collected once) — the DataFrame loop must
  * reproduce that reference selection exactly, query by query, rank by
  * rank. Plus the property MMR exists for: the selected set is no more
  * self-similar than the plain top-k. */
class MmrSpec extends SparkSpec {

  test("s17 equals a driver-side greedy MMR over the engine's own similarities") {
    val res = SparkEntry.queries("s17_ann_mmr")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, rs) =>
        q -> rs.sortBy(_._3).map(_._2).toSeq }
    // rebuild the candidate pool with the same expressions
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pool = e.filter(col("vec_id") >= 10).crossJoin(broadcast(q))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= Similarity.mmrPool)
      .select(col("qid"), col("vec_id"), col("embedding"), col("cos"))
    val rel = pool.select(col("qid"), col("vec_id"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val p2 = pool.select(col("qid"), col("vec_id").as("b_id"),
      col("embedding").as("be"))
    val sims = pool.join(p2, Seq("qid"))
      .filter(col("vec_id") < col("b_id"))
      .withColumn("sim", cosine_similarity(col("embedding"), col("be")))
      .collect().flatMap { r =>
        val (qid, a, b, s) = (r.getLong(0), r.getLong(1),
          r.getAs[Long]("b_id"), r.getAs[Double]("sim"))
        Seq((qid, a, b) -> s, (qid, b, a) -> s)
      }.toMap
    // independent greedy reference, ties by vec_id
    val expected = rel.keys.map(_._1).toSeq.distinct.sorted.map { qid =>
      val cands = rel.keys.filter(_._1 == qid).map(_._2).toSeq
      var sel = Seq.empty[Long]
      (1 to Similarity.mmrK).foreach { k =>
        val pick = cands.filterNot(sel.contains).map { c =>
          val score =
            if (k == 1) rel((qid, c))
            else Similarity.mmrLambda * rel((qid, c)) -
              (1 - Similarity.mmrLambda) * sel.map(s0 => sims((qid, c, s0))).max
          (c, score)
        }.minBy { case (c, sc) => (-sc, c) }._1
        sel = sel :+ pick
      }
      qid -> sel
    }.toMap
    assert(res == expected,
      s"diverging selections: ${res.toSeq.sortBy(_._1).zip(expected.toSeq.sortBy(_._1))
        .filter(p => p._1 != p._2).take(2)}")
  }

  test("s17 selections are less self-similar than the plain top-5") {
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    def meanPairSim(sets: Map[Long, Seq[Long]]): Double = {
      import spark.implicits._
      val pairs = sets.toSeq.flatMap { case (qid, ids) =>
        for (a <- ids; b <- ids if a < b) yield (a, b)
      }.distinct
      val df = pairs.toDF("a", "b")
        .join(e.select(col("vec_id").as("a"), col("embedding").as("ea")), "a")
        .join(e.select(col("vec_id").as("b"), col("embedding").as("eb")), "b")
        .select(cosine_similarity(col("ea"), col("eb")).as("s"))
      df.agg(avg(col("s"))).head.getDouble(0)
    }
    def collectSets(name: String): Map[Long, Seq[Long]] =
      SparkEntry.queries(name)(spark, sf2).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
        .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val mmr = collectSets("s17_ann_mmr")
    val top5 = collectSets("s01_ann_bruteforce")
    assert(mmr.keySet == top5.keySet && mmr.nonEmpty)
    val (dm, dt) = (meanPairSim(mmr), meanPairSim(top5))
    assert(dm <= dt + 1e-12,
      s"MMR selection MORE self-similar than top-5: $dm vs $dt")
  }

  test("s20 composes the filtered stored-index probe with the shared MMR rerank") {
    // running the entry builds + persists the index and runs the
    // composed probe→filter→pool→MMR plan
    val res = SparkEntry.queries("s20_retrieval_pipeline")(spark, sf2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // stage-1 equivalence: rebuild the pool from the STORED relations
    // with the same expressions, rerank through the same shared loop —
    // if the entry's inline pool diverged anywhere (probe rule,
    // eligibility posture, pool bound), some row differs
    val idxDir = Similarity.indexDir(spark, "s20", sf2)
    val e = spark.read.parquet(s"$sf2/embeddings.parquet")
    val centS = spark.read.parquet(s"$idxDir/centroids")
    val qprobe = e.filter(col("vec_id") < 10).crossJoin(broadcast(centS))
      .withColumn("cs", cosine_similarity(col("ce"), col("embedding")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cid"))))
      .filter(col("crn") <= Similarity.ivfProbes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cid").as("cluster"))
    val pool = materialize(spark.read.parquet(s"$idxDir/cells")
      .filter(col("vec_id") >= 10)
      .join(broadcast(qprobe), Seq("cluster"))
      .join(Similarity.filteredEligible(spark, sf2), Seq("vec_id"), "left_semi")
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= Similarity.mmrPool)
      .select(col("qid"), col("vec_id"), col("embedding"), col("cos")))
    val rebuilt = Similarity.mmrSelect(pool).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(res == rebuilt,
      s"diverging rows: ${res.zip(rebuilt).filter(p => p._1 != p._2).take(3)}")
    // predicate soundness + selection shape
    val eligible = Similarity.filteredEligible(spark, sf2)
      .collect().map(_.getLong(0)).toSet
    assert(res.forall(r => eligible(r._2)), "ineligible vector selected")
    res.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._3).sorted.toSeq == Seq(1, 2, 3, 4, 5),
        s"query $q selection shape ${rs.map(_._3).toSeq}")
    }
  }
}
