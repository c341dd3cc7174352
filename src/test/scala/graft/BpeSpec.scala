package graft

import org.apache.spark.sql.functions._

/** p08's BPE merge training against an independent in-JVM reference:
  * plain-collections BPE (count weighted adjacent pairs → argmax by
  * (count desc, pair lex) → leftmost-nonoverlapping merge) on the
  * classic low/lower/newest/widest corpus, plus hand-derived constants
  * for the first merges so the spec is not two implementations agreeing
  * on the same mistake. The DuckDB oracle separately replays all 10
  * rounds on the real documents table (Verify gate). */
class BpeSpec extends SparkSpec {

  /** Reference BPE on (word → count), returning (pa, pb, count) per merge. */
  private def naive(words: Map[String, Long], steps: Int): Seq[(String, String, Long)] = {
    var ws: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, n) => (w.map(_.toString).toVector, n) }
    val out = Seq.newBuilder[(String, String, Long)]
    for (_ <- 1 to steps) {
      val counts = scala.collection.mutable.LinkedHashMap[(String, String), Long]()
      for ((syms, n) <- ws; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        counts(k) = counts.getOrElse(k, 0L) + n
      }
      if (counts.nonEmpty) {
        val ((pa, pb), c) = counts.toSeq.sortBy { case ((a, b), n) => (-n, a, b) }.head
        out += ((pa, pb, c))
        ws = ws.map { case (syms, n) =>
          val nb = Vector.newBuilder[String]
          var i = 0
          while (i < syms.length) {
            if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
              nb += pa + pb; i += 2
            } else { nb += syms(i); i += 1 }
          }
          (nb.result(), n)
        }
      }
    }
    out.result()
  }

  private val corpus = Map("low" -> 5L, "lower" -> 2L, "newest" -> 6L, "widest" -> 3L)

  private def rules(words: Seq[(String, Long)], steps: Int)
      : Seq[(Long, String, String, String, Long)] = {
    import spark.implicits._
    graft.operators.Pipeline.bpeMerges(words.toDF("w", "n"), steps).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
      .toSeq
  }

  private def trained(steps: Int): Seq[(Long, String, String, String, Long)] =
    rules(corpus.toSeq, steps)

  test("first two merges match the hand-derived classic-example answer") {
    // pairs at round 1: es=6+3=9, st=9, we=2+6=8, lo=5+2=7, ow=7 … —
    // (e,s) wins the 9-tie lexicographically; round 2 then has (es,t)=9
    val got = trained(2)
    assert(got(0) == ((1L, "e", "s", "es", 9L)), got.toString)
    assert(got(1) == ((2L, "es", "t", "est", 9L)), got.toString)
  }

  test("10-merge sequence matches the independent naive implementation") {
    val expected = naive(corpus, 10).zipWithIndex.map { case ((a, b, c), i) =>
      (i + 1L, a, b, a + b, c)
    }
    assert(trained(10) == expected)
  }

  test("merge application is leftmost-nonoverlapping ('aaa' + (a,a) → aa,a)") {
    import spark.implicits._
    // 'aaaa' has 3 overlapping (a,a) pairs counted, but merging yields
    // exactly two 'aa' symbols; round 2's top pair is then (aa,aa)
    val words = Seq(("aaaa", 4L), ("ab", 1L)).toDF("w", "n")
    val got = graft.operators.Pipeline.bpeMerges(words, 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(got(0) == ((1L, "a", "a", "aa", 12L)), got.mkString(","))
    assert(got(1) == ((2L, "aa", "aa", "aaaa", 4L)), got.mkString(","))
  }

  test("pair tie-break is UTF-8 byte order, not UTF-16 code-unit order") {
    // (ﬀ,x) and (𝐀,x) tie at 1. U+FB00 is EF AC 80 in UTF-8 and U+1D400
    // is F0 9D 90 80, so ﬀ sorts first in byte order (Spark, DuckDB);
    // in UTF-16 the surrogate D835 sorts before FB00, so a trainer
    // comparing java.lang.String would pick 𝐀
    val got = rules(Seq(("\uFB00x", 1L), ("\uD835\uDC00x", 1L)), 1)
    assert(got == Seq((1L, "\uFB00", "x", "\uFB00x", 1L)), got.toString)
  }

  test("building the merge plan launches no Spark job until it is collected") {
    import spark.implicits._
    val words = corpus.toSeq.toDF("w", "n")
    var merges: org.apache.spark.sql.DataFrame = null
    assert(jobsLaunchedBy { merges = graft.operators.Pipeline.bpeMerges(words, 10) } == 0)
    var rules = 0
    assert(jobsLaunchedBy { rules = merges.collect().length } > 0)
    assert(rules == 10)
  }

  test("degenerate lexicons: empty, or all one-character words, learn 0 rules") {
    assert(rules(Seq.empty, 10).isEmpty)
    assert(rules(Seq(("a", 3L), ("b", 1L), ("\uD835\uDC00", 2L)), 10).isEmpty)
  }

  test("p09 on degenerate corpora: empty gives no rows, one-char words one token each") {
    val empty = corpusDir(Seq.empty)
    assert(SparkEntry.queries("p09_bpe_encode")(spark, empty).collect().isEmpty)
    val single = corpusDir(Seq(1L -> "a b a", 2L -> "c", 3L -> "b b b b"))
    val got = SparkEntry.queries("p09_bpe_encode")(spark, single).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 3L, 3L), (2L, 1L, 1L), (3L, 4L, 4L)), got.toString)
  }

  /** A temp table root holding `docs` as its documents table. */
  private def corpusDir(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = tempDir("bpe9").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("t"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Reference encoder: apply the trained merges greedily left-to-right
    * (same loop as [[naive]]'s application step) and count symbols. */
  private def naiveEncode(word: String, rules: Seq[(String, String)]): Int = {
    var syms = word.map(_.toString).toVector
    for ((pa, pb) <- rules) {
      val nb = Vector.newBuilder[String]
      var i = 0
      while (i < syms.length) {
        if (i + 1 < syms.length && syms(i) == pa && syms(i + 1) == pb) {
          nb += pa + pb; i += 2
        } else { nb += syms(i); i += 1 }
      }
      syms = nb.result()
    }
    syms.length
  }

  test("p09 token counts match the independent encoder on a synthetic corpus") {
    val docs = Seq(
      1L -> "low low low low low lower lower",
      2L -> "newest newest newest newest newest newest widest",
      3L -> "widest widest lowest newest")
    val dir = corpusDir(docs)
    val wordFreq = docs.flatMap(_._2.split(" ")).groupBy(identity)
      .map { case (w, g) => w -> g.size.toLong }
    val rules = naive(wordFreq, 10).map { case (a, b, _) => (a, b) }
    val expected = docs.map { case (id, text) =>
      val words = text.split(" ").filter(_.nonEmpty)
      id -> ((id, words.map(w => naiveEncode(w, rules).toLong).sum, words.length.toLong))
    }.toMap
    val got = SparkEntry.queries("p09_bpe_encode")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(0), r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet == expected.keySet)
    expected.foreach { case (id, e) =>
      assert(got(id) == e, s"doc $id: got ${got(id)}, expected $e")
    }
  }
}
