package graft

import org.apache.spark.sql.functions._

/** d12 gates. The driver fixture has no cross-batch exact duplicates,
  * so its oracle row only proves the all-novel path; this spec builds a
  * corpus WITH cross-batch duplicates and checks the parts that matter:
  * the output equals d07's (bloom false positives are disconfirmed,
  * bloom negatives really are novel — no false negatives), and the
  * filter actually prunes (bloom-positive sliver ≪ batch). */
class BloomDedupSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    // 400 seen docs; batch of 400 incoming of which 50 duplicate a seen
    // text exactly and 350 are novel
    val seen = (0L until 400L).map(i => (i, s"seen text number ${i % 380} padded"))
    val dup = (400L until 450L).map(i => (i, s"seen text number ${i % 50} padded"))
    val novel = (450L until 800L).map(i => (i, s"novel text number $i"))
    val out = tempDir("bloomdedup").toString
    (seen ++ dup ++ novel).toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("synthetic"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(4).write.mode("overwrite").parquet(s"$out/documents.parquet")
    out
  }

  test("d12 equals d07 on a corpus with real cross-batch duplicates") {
    val d12 = SparkEntry.queries("d12_bloom_incremental_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    val d07 = SparkEntry.queries("d07_incremental_dedup")(spark, dir)
      .collect().map(_.getLong(0)).toSet
    assert(d12 == d07)
    // the 50 duplicating docs are excluded, the 350 novel ones survive
    assert((400L until 450L).forall(!d12.contains(_)))
    assert((450L until 800L).forall(d12.contains))
  }

  test("bloom layer prunes: positives are dups plus a small FP sliver") {
    import graft.functions.BloomFunctions.{bloom_agg, might_contain}
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .withColumn("h", xxhash64(col("digest")))
    val bf = docs.filter(col("doc_id") < 250)
      .agg(bloom_agg(col("h"), 4096L, 32768L)).scalar()
    val flagged = docs.filter(col("doc_id") >= 250)
      .withColumn("hit", might_contain(bf, col("h")))
    val trueDup = docs.filter(col("doc_id") >= 250).as("n")
      .join(docs.filter(col("doc_id") < 250).select(col("digest")).distinct(),
        Seq("digest"), "left_semi")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    val rows = flagged.select(col("doc_id"), col("hit")).collect()
    // no false negatives: every true duplicate is bloom-positive
    rows.filter(r => trueDup.contains(r.getLong(0))).foreach(r => assert(r.getBoolean(1)))
    // pruning: false positives are a small fraction of the non-dup batch
    val nonDup = rows.filterNot(r => trueDup.contains(r.getLong(0)))
    val fp = nonDup.count(_.getBoolean(1)).toDouble / nonDup.length
    info(f"bloom FP rate: $fp%.4f over ${nonDup.length} non-dup docs")
    assert(fp <= 0.05, f"FP rate $fp%.4f too high — filter not pruning")
  }
}
