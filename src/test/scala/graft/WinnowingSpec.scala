package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** d13 winnowing guarantee: with k=3-word grams and window w=4, any two
  * documents sharing a contiguous run of >= k+w-1 = 6 words must share
  * at least one fingerprint (the window fully inside the shared run
  * selects the same minimum in both), while documents with no shared
  * 3-gram share nothing. */
class WinnowingSpec extends SparkSpec {

  private def fps(docs: Seq[(Long, String)]): Map[Long, Set[String]] = {
    import spark.implicits._
    val dir = tempDir("winnow").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("d13_winnowing")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
  }

  test("documents sharing a 6-word run share a fingerprint; disjoint docs don't") {
    val shared = "alpha bravo charlie delta echo foxtrot"
    val m = fps(Seq(
      1L -> s"one two three four five $shared six seven eight nine",
      2L -> s"ten eleven twelve $shared thirteen fourteen fifteen",
      3L -> "sixteen seventeen eighteen nineteen twenty twentyone twentytwo"))
    assert((m(1L) intersect m(2L)).nonEmpty, "shared run produced no common fingerprint")
    assert((m(1L) intersect m(3L)).isEmpty, "disjoint docs share a fingerprint")
    assert((m(2L) intersect m(3L)).isEmpty)
  }

  test("selection density is ~2/(w+1), never empty") {
    val words = (1 to 500).map(i => s"w$i").mkString(" ")
    val m = fps(Seq(1L -> words))
    val n = m(1L).size
    // 498 k-grams, 495 windows; distinct minima for random-ish hashes
    // concentrate near 2/(w+1) of positions = ~200; allow wide slack
    assert(n > 50 && n < 400, s"selected $n fingerprints from 500 words")
  }

  // ---- d14 clone pairs (the MOSS report step over d13's fingerprints) ----

  private def clones(docs: Seq[(Long, String)]): Map[(Long, Long), (Long, Long, Long, Long, Long)] = {
    import spark.implicits._
    val dir = tempDir("clones").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    SparkEntry.queries("d14_clone_pairs")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))
      .toMap
  }

  test("d14 reports a clone pair with positional evidence bounding the clone") {
    // 20-word shared run buried at different offsets; a long-enough run
    // yields >= cloneMinShared shared fingerprints with certainty (one
    // per winnowing window fully inside the run, density ~2/(w+1)).
    val run = (1 to 20).map(i => s"c$i").mkString(" ")
    val m = clones(Seq(
      1L -> s"${(1 to 10).map(i => s"a$i").mkString(" ")} $run ${(1 to 10).map(i => s"z$i").mkString(" ")}",
      2L -> s"${(1 to 3).map(i => s"b$i").mkString(" ")} $run ${(1 to 30).map(i => s"y$i").mkString(" ")}",
      3L -> (1 to 40).map(i => s"u$i").mkString(" ")))
    assert(m.contains((1L, 2L)), s"clone pair not reported: $m")
    assert(!m.keySet.exists { case (a, b) => a == 3L || b == 3L },
      "unrelated doc reported as a clone")
    val (shared, aStart, aEnd, bStart, bEnd) = m((1L, 2L))
    assert(shared >= Dedup.cloneMinShared.toLong)
    // doc 1's run spans word positions 11..30 -> k-gram windows within
    // [11-? .. 30]; evidence must sit inside the doc and overlap the run
    assert(aStart >= 1L && aEnd <= 38L && aEnd >= 11L, s"a-span [$aStart,$aEnd]")
    assert(bStart >= 1L && bEnd <= 51L && bEnd >= 4L, s"b-span [$bStart,$bEnd]")
    assert(aStart <= aEnd && bStart <= bEnd)
  }

  test("d14 drops boilerplate fingerprints shared by > cloneMaxDf docs") {
    // 40 docs (> cloneMaxDf = 32) share ONLY a boilerplate header run;
    // every fingerprint of that run has df = 40 and must be suppressed,
    // so NO pair is reported — while two true clones (df = 2) survive.
    val boiler = (1 to 12).map(i => s"lic$i").mkString(" ")
    val clone = (1 to 20).map(i => s"body$i").mkString(" ")
    val herd = (1L to 40L).map(i =>
      i -> s"$boiler ${(1 to 8).map(j => s"u${i}_$j").mkString(" ")}")
    val m = clones(herd ++ Seq(
      100L -> s"$clone ${(1 to 8).map(j => s"p$j").mkString(" ")}",
      101L -> s"${(1 to 8).map(j => s"q$j").mkString(" ")} $clone"))
    assert(m.keySet == Set((100L, 101L)),
      s"expected only the true clone pair, got ${m.keySet.take(10)}")
  }
}
