package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** d19 duplicated-span gates. The entry is driver-oracled (exact
  * integer SQL), so these cover the definitional property no hash
  * compare states explicitly — a reported span really IS a verbatim
  * token-for-token match at the reported offsets — plus the crafted
  * edge behaviors: sub-threshold spans stay silent, boilerplate grams
  * (df > dupSpanMaxDf) never pair, and a degenerate looping document
  * is bounded by the position cap instead of squaring. */
class DupSpanSpec extends SparkSpec {

  /** Crafted corpus: a known 15-token shared span at distinct offsets,
    * an 11-token shared span (below dupSpanMinLen = 12), a 20-doc
    * boilerplate herd sharing ONE 8-gram (df = 20 > dupSpanMaxDf), and
    * a degenerate looping pair. */
  private lazy val dir: String = {
    val d = tempDir("graft_dupspan").toString
    import spark.implicits._
    val span15 = (1 to 15).map(i => s"a$i").mkString(" ")
    val span11 = (1 to 11).map(i => s"c$i").mkString(" ")
    val boiler8 = (1 to 8).map(i => s"h$i").mkString(" ")
    val loop = Seq.fill(100)("r").mkString(" ")
    val base = Seq(
      // doc 0: span15 at token offset 12; doc 1: span15 at offset 6
      (0L, (1 to 11).map(i => s"p$i").mkString(" ") + " " + span15 + " tail0", "en", "web", 0L),
      (1L, (1 to 5).map(i => s"q$i").mkString(" ") + " " + span15 + " tail1a tail1b", "en", "web", 0L),
      // docs 2/3 share only an 11-token span — below the report floor
      (2L, span11 + " " + (1 to 9).map(i => s"u$i").mkString(" "), "en", "web", 0L),
      (3L, span11 + " " + (1 to 9).map(i => s"v$i").mkString(" "), "en", "web", 0L),
      // docs 4/5: the same token 100 times — the t12 degenerate case
      (4L, loop, "en", "web", 0L),
      (5L, loop, "en", "web", 0L))
    val herd = (10L until 30L).map(i =>
      (i, boiler8 + " " + (1 to 10).map(j => s"z${i}_$j").mkString(" "), "en", "web", 0L))
    (base ++ herd).toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$d/documents.parquet")
    d
  }

  private def spans(d: String): Map[(Long, Long), (Long, Long, Long)] =
    SparkEntry.queries("d19_dup_spans")(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap

  test("a known 15-token shared span is reported with exact length and offsets") {
    val got = spans(dir)
    assert(got.contains((0L, 1L)), s"missing the known span pair: ${got.keySet}")
    assert(got((0L, 1L)) == ((15L, 12L, 6L)),
      s"span (len, start_a, start_b) wrong: ${got((0L, 1L))}")
  }

  test("an 11-token shared span stays below the report floor") {
    assert(!spans(dir).contains((2L, 3L)),
      "sub-threshold span was reported")
  }

  test("boilerplate grams (df > dupSpanMaxDf) never generate pairs") {
    val herdPairs = spans(dir).keySet.filter { case (a, b) => a >= 10L && b >= 10L }
    assert(herdPairs.isEmpty, s"boilerplate herd paired: $herdPairs")
  }

  test("degenerate looping pair is bounded by the position cap, not squared") {
    // both docs are 100× one token; the cap keeps 32 positions per
    // (doc, gram), so the longest surviving diagonal run is 32 grams =
    // a 32 + 7 token span — bounded output, no blow-up
    val got = spans(dir)
    assert(got.get((4L, 5L)).map(_._1).contains(Dedup.dupSpanMaxPos + 7L),
      s"degenerate pair span: ${got.get((4L, 5L))}")
  }

  test("every reported span on the real corpus is a verbatim token match") {
    val texts = spark.read.parquet(s"$sf1/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ")).toMap
    val got = SparkEntry.queries("d19_dup_spans")(spark, sf1).collect()
    assert(got.nonEmpty, "no spans found on sf0.001 (corpus has exact dups)")
    got.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val (len, sa, sb) = (r.getLong(2).toInt, r.getLong(3).toInt, r.getLong(4).toInt)
      val fromA = texts(a).slice(sa - 1, sa - 1 + len)
      val fromB = texts(b).slice(sb - 1, sb - 1 + len)
      assert(fromA.length == len, s"span ($a,$b) overruns doc $a")
      assert(fromA.sameElements(fromB),
        s"span ($a,$b) at ($sa,$sb) len $len is not a verbatim match")
    }
  }
}
