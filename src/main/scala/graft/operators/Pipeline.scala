package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.Column
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data pipeline operators beyond dedup/similarity: test-set
  * decontamination, stratified sampling, token-aware sequence packing,
  * and repetition-based quality filtering — the corpus-preparation
  * steps between "raw crawl" and "training shards".
  *
  * All four are pure DataFrame compositions (codegen'd built-ins, no
  * UDFs) with exact DuckDB oracles. Scale notes per operator; the
  * common thread is that nothing ever carries full document text
  * through an exchange — shingles travel as sha256 digests, packing
  * aggregates token COUNTS, sampling exchanges (stratum, digest) pairs.
  */
object Pipeline {

  private val ws = split(col("text"), " ")

  /** Test-set decontamination: flag training documents sharing any
    * word 5-gram with the held-out probe set (doc_id < 50), with the
    * count of distinct shared shingles as evidence. The n-gram-overlap
    * decontamination rule used when preparing corpora against
    * evaluation benchmarks.
    *
    * At scale: shingles are sha256 digests (32 bytes) from the map
    * side, never raw text; the probe set's distinct shingles are tiny
    * (benchmarks, not corpora) and BROADCAST, so the corpus-side scan
    * streams once with no shuffle before the per-doc count — which
    * aggregates only matched (doc_id, digest) pairs. */
  val decontaminate: QueryEntry = QueryEntry(
    "p01_decontaminate",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |g AS (SELECT doc_id, unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
      |          i -> sha256(array_to_string(ws[i:i+4], ' ')))) AS sh FROM w),
      |test AS (SELECT DISTINCT sh FROM g WHERE doc_id < 50)
      |SELECT g.doc_id, COUNT(DISTINCT g.sh) AS shared
      |FROM g JOIN test USING (sh) WHERE g.doc_id >= 50
      |GROUP BY g.doc_id ORDER BY g.doc_id""".stripMargin
  ) { (s, d) =>
    val g = Tables.documents(s, d).select(col("doc_id"),
      explode(when(size(ws) >= 5, expr(
          "zip_with(zip_with(zip_with(zip_with(" +
            "slice(split(text, ' '), 1, size(split(text, ' ')) - 4), " +
            "slice(split(text, ' '), 2, size(split(text, ' ')) - 4), (a, b) -> concat(a, ' ', b)), " +
            "slice(split(text, ' '), 3, size(split(text, ' ')) - 4), (x, c) -> concat(x, ' ', c)), " +
            "slice(split(text, ' '), 4, size(split(text, ' ')) - 4), (x, d) -> concat(x, ' ', d)), " +
            "slice(split(text, ' '), 5, size(split(text, ' ')) - 4), (x, e) -> sha2(concat(x, ' ', e), 256))"))
        .otherwise(array().cast("array<string>"))).as("sh"))
    val test = g.filter(col("doc_id") < 50).select(col("sh")).distinct()
    g.filter(col("doc_id") >= 50)
      .join(broadcast(test), Seq("sh"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("sh")).as("shared"))
      .orderBy(col("doc_id"))
  }

  /** Stratified exact-quota sampling: per language stratum, keep the
    * ceil(20%) of documents with the smallest doc_id-digest — a
    * deterministic, seedless sample that is reproducible across
    * engines and partitionings (the property a training-data freeze
    * needs; rand()-based sampling is neither).
    *
    * Ranking goes through the GroupedTopK physical operator
    * (plans/GroupedTopK.scala): a bounded per-stratum heap of the
    * current-best k rows replaces WindowExec's full per-stratum sort,
    * so stratum-partition memory is O(max quota) ranked (doc_id, dg)
    * pairs instead of the whole stratum materialized and sorted. The
    * heap bound k = the largest stratum's quota, learned in a cheap
    * pre-pass that scans ONLY the lang column (one scalar to the
    * driver — plan sizing, not data); each stratum's exact quota is
    * then enforced by a broadcast join of the per-stratum counts.
    *
    * At scale the residual ceiling is the heap itself: exact-quota
    * ranking of a p% sample fundamentally holds p% of the largest
    * stratum on one executor. When that stops fitting, the quota
    * switches to a digest THRESHOLD (keep dg below the stratum's
    * ~p-quantile digest) — fully map-side parallel, approximate
    * quota — the documented trade between "exactly ceil(0.2·n) rows"
    * and unbounded stratum size. */
  val stratifiedSample: QueryEntry = QueryEntry(
    "p02_stratified_sample",
    """WITH d AS (SELECT doc_id, lang, sha256(CAST(doc_id AS VARCHAR)) AS dg FROM documents),
      |r AS (SELECT doc_id, lang, ROW_NUMBER() OVER (PARTITION BY lang ORDER BY dg, doc_id) AS rk,
      |             COUNT(*) OVER (PARTITION BY lang) AS n FROM d)
      |SELECT lang, doc_id FROM r WHERE rk <= CEIL(n * 0.2)
      |ORDER BY lang, doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // stratum sizes: column-pruned scan of lang only; strata are
    // language-sized (a handful of rows), so the max-quota scalar and
    // the broadcast below are both tiny
    val counts = docs.groupBy(col("lang"))
      .agg(ceil(count(lit(1)) * 0.2).as("quota"))
    val maxQuota = counts.agg(max(col("quota"))).head().getLong(0).toInt
    val ranked = graft.plans.GroupedTopK.topK(
      docs.select(col("doc_id"), col("lang"),
        sha2(col("doc_id").cast("string"), 256).as("dg")),
      groupCols = Seq("lang"),
      orderCols = Seq(("dg", false), ("doc_id", false)),
      k = maxQuota)
    ranked.join(broadcast(counts), Seq("lang"))
      .filter(col("rank") <= col("quota"))
      .select(col("lang"), col("doc_id"))
      .orderBy(col("lang"), col("doc_id"))
  }

  /** Token-aware sequence packing: documents are routed to one of 8
    * independent packing buckets (hash of doc_id), and within each
    * bucket a running token cumsum assigns contiguous ~2048-token bins
    * — the streaming-packing approximation of bin packing used to
    * build fixed-length training sequences. Output is per-bin document
    * count and token total (the packing manifest).
    *
    * At scale the bucket count is the parallelism dial: B buckets pack
    * independently (window partitions on bucket), so set B ≈ cluster
    * cores; packing quality is unaffected since bins never span
    * buckets. The window carries (doc_id, toks) only — token COUNTS,
    * not text. */
  val packSequences: QueryEntry = QueryEntry(
    "p03_pack_sequences",
    """WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
      |                  len(string_split(text, ' ')) AS toks FROM documents),
      |c AS (SELECT doc_id, bucket, toks,
      |        SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
      |                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior FROM t)
      |SELECT bucket, CAST(FLOOR(COALESCE(prior, 0) / 2048) AS BIGINT) AS bin,
      |       COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tokens
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    packManifest(Tables.documents(s, d).select(col("doc_id"), size(ws).as("toks")))
  }

  /** p03's packing over any (doc_id, toks) relation — the manifest
    * (bucket, bin, n_docs, tokens), ordered. Factored so the composed
    * pipeline (p12/p13) can pack its deduplicated survivors. */
  private[graft] def packManifest(toks: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .select(col("doc_id"), (col("doc_id") % 8).as("bucket"), col("toks"))
      .withColumn("prior", coalesce(sum(col("toks")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prior") / 2048))
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
      .orderBy(col("bucket"), col("bin"))
  }

  /** Repetition-based quality metrics (the "repetitious text" filter
    * family): per document, the duplicate-word ratio, the share of the
    * single most frequent word, and the share of the most frequent
    * bigram. High values mark boilerplate/spam for removal before
    * training.
    *
    * At scale: the word and bigram frequency maxima aggregate exploded
    * (doc_id, token) pairs — two shuffles keyed by doc_id whose width
    * is one token per row; ratios join back on doc_id. All built-ins,
    * fully codegen'd. */
  val repetitionScore: QueryEntry = QueryEntry(
    "p04_repetition_score",
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |wc AS (SELECT doc_id, unnest(ws) AS w FROM w),
      |top1 AS (SELECT doc_id, MAX(c) AS topw FROM
      |           (SELECT doc_id, w, COUNT(*) AS c FROM wc GROUP BY 1, 2) GROUP BY 1),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(ws)),
      |           i -> ws[i] || ' ' || ws[i+1])) AS b FROM w),
      |top2 AS (SELECT doc_id, MAX(c) AS topb FROM
      |           (SELECT doc_id, b, COUNT(*) AS c FROM bg GROUP BY 1, 2) GROUP BY 1)
      |SELECT w.doc_id, len(ws) AS n_words,
      |       CAST(len(ws) - len(list_distinct(ws)) AS DOUBLE) / len(ws) AS dup_ratio,
      |       CAST(top1.topw AS DOUBLE) / len(ws) AS top_word_share,
      |       CAST(top2.topb AS DOUBLE) / (len(ws) - 1) AS top_bigram_share
      |FROM w JOIN top1 USING (doc_id) JOIN top2 USING (doc_id)
      |ORDER BY w.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val base = docs.select(col("doc_id"), size(ws).as("n_words"),
      size(array_distinct(ws)).as("n_distinct"))
    val top1 = docs.select(col("doc_id"), explode(ws).as("w"))
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("topw"))
    val top2 = docs.select(col("doc_id"),
        explode(when(size(ws) >= 2, expr(
          "zip_with(slice(split(text, ' '), 1, size(split(text, ' ')) - 1), " +
            "slice(split(text, ' '), 2, size(split(text, ' ')) - 1), " +
            "(a, b) -> concat(a, ' ', b))"))
          .otherwise(array().cast("array<string>"))).as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id")).agg(max(col("c")).as("topb"))
    base.join(top1, Seq("doc_id")).join(top2, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"),
        ((col("n_words") - col("n_distinct")).cast("double") / col("n_words")).as("dup_ratio"),
        (col("topw").cast("double") / col("n_words")).as("top_word_share"),
        (col("topb").cast("double") / (col("n_words") - 1)).as("top_bigram_share"))
      .orderBy(col("doc_id"))
  }

  /** Corpus mixture statistics: per (lang, source) cell, document
    * count, token total, and the cell's share of all corpus tokens —
    * the table a training-mix design starts from (and the denominator
    * for any up/down-sampling decision).
    *
    * At scale: one corpus pass aggregates to |langs|×|sources| cells;
    * the global total is an unpartitioned window over those CELLS —
    * the one place a single-partition window is the RIGHT tool,
    * because its input is the cell table (≈100 rows at any corpus
    * size), and it guarantees the corpus is scanned once (a scalar-
    * subquery formulation plans a second scan and only AQE exchange
    * reuse collapses it). The share division is one integer-valued
    * double over another — bit-identical in any engine, so the oracle
    * is exact. */
  val mixtureStats: QueryEntry = QueryEntry(
    "p05_mixture_stats",
    """WITH s AS (SELECT lang, source, COUNT(*) AS n_docs,
      |                  SUM(len(string_split(text, ' '))) AS toks
      |           FROM documents GROUP BY 1, 2)
      |SELECT lang, source, n_docs, CAST(toks AS BIGINT) AS tokens,
      |       CAST(toks AS DOUBLE) / (SELECT SUM(toks) FROM s) AS token_share
      |FROM s ORDER BY lang, source""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("lang"), col("source"), size(ws).as("toks"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("tokens"))
      .select(col("lang"), col("source"), col("n_docs"), col("tokens"),
        (col("tokens").cast("double") /
          sum(col("tokens")).over(Window.partitionBy())).as("token_share"))
      .orderBy(col("lang"), col("source"))
  }

  /** Weighted mixture sampling: each source is down-sampled at its own
    * rate (a literal source→rate table — the "3× books, 0.25× crawl"
    * knob of a training mix), deterministically and seedlessly: a
    * document survives iff the first 6 hex chars of sha256(doc_id)
    * fall below the rate's threshold. Selection is a pure function of
    * (doc_id, source) — the same frozen sample in any engine, on any
    * cluster, at any partitioning, which is what makes the mix
    * reproducible AND lets DuckDB verify it row-for-row.
    *
    * At scale: fully map-side — a filter over the scan with no
    * exchange at all (the one shape guaranteed to survive any corpus
    * size); the hex-string threshold compare is lexicographic, so no
    * engine-specific float or integer parsing is involved. */
  val mixtureSample: QueryEntry = {
    // rate → 6-hex-digit threshold: keep iff substr(digest,1,6) <= thr.
    // Computed once here and embedded as LITERALS in both the Spark
    // plan and the oracle SQL, so both engines compare identical
    // strings (never re-derive the threshold from a float at runtime).
    def thr(rate: Double): String =
      f"${math.min((rate * (1 << 24)).toLong, (1L << 24) - 1)}%06x"
    val rates = Seq("src0" -> 1.0, "src1" -> 0.75, "src2" -> 0.5,
      "src3" -> 0.1).toMap
    val defaultRate = 0.25
    val sqlCase = rates.toSeq.sorted
      .map { case (src, r) => s"WHEN source = '$src' THEN '${thr(r)}'" }
      .mkString("CASE ", " ", s" ELSE '${thr(defaultRate)}' END")
    QueryEntry(
      "p06_mixture_sample",
      s"""WITH t AS (SELECT doc_id, lang, source,
        |                  substr(sha256(CAST(doc_id AS VARCHAR)), 1, 6) AS dg,
        |                  $sqlCase AS thr
        |           FROM documents)
        |SELECT doc_id, lang, source FROM t WHERE dg <= thr
        |ORDER BY doc_id""".stripMargin
    ) { (s, d) =>
      val thrCol = rates.toSeq.sorted.foldRight(lit(thr(defaultRate)): Column) {
        case ((src, r), e) => when(col("source") === src, lit(thr(r))).otherwise(e)
      }
      Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), col("source"),
          substring(sha2(col("doc_id").cast("string"), 256), 1, 6).as("dg"),
          thrCol.as("thr"))
        .filter(col("dg") <= col("thr"))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy(col("doc_id"))
    }
  }

  /** Vocabulary build (tokenizer prep): corpus word frequencies,
    * thresholded at min-count 5, with contiguous ids assigned by
    * (count desc, word) — the frequency-sorted id layout tokenizers
    * expect (low id = frequent token).
    *
    * At scale: the corpus-sized work is the (word → count) aggregation
    * — partial aggregation absorbs most duplicates map-side since word
    * frequency is Zipfian. Id assignment is a global rank over the
    * THRESHOLDED VOCABULARY, which is vocab-sized (10⁵–10⁶ rows at any
    * corpus size — bounded by the lexicon, not the corpus), so the
    * single-partition sort it needs is as cheap as p05's cell window. */
  /** The thresholded, frequency-ranked vocabulary (p07's core; also the
    * model side of t10's lexical scoring). */
  private[operators] def vocab(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.documents(s, d)
      .select(explode(ws).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 5)
      .withColumn("token_id",
        (row_number().over(Window.orderBy(col("n").desc, col("w"))) - 1).cast("long"))

  val vocabBuild: QueryEntry = QueryEntry(
    "p07_vocab_build",
    """WITH c AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |f AS (SELECT w, COUNT(*) AS n FROM c GROUP BY 1 HAVING COUNT(*) >= 5)
      |SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) - 1 AS BIGINT) AS token_id, w, n
      |FROM f ORDER BY token_id""".stripMargin
  ) { (s, d) =>
    vocab(s, d)
      .select(col("token_id"), col("w"), col("n"))
      .orderBy(col("token_id"))
  }

  /** One BPE round of the DuckDB oracle: count adjacent symbol pairs
    * weighted by word frequency, pick the winner (count desc, pair
    * lexicographic), apply the merge via literal string replace over
    * the delimiter-wrapped symbol encoding (see [[bpeMerges]]). */
  private def bpeOracleRound(r: Int): String = {
    val prev = s"w${r - 1}"
    s"""p$r AS (
       |  SELECT l.sy[i.i] AS pa, l.sy[i.i+1] AS pb, CAST(SUM(l.n) AS BIGINT) AS c
       |  FROM (SELECT string_split(substring(ws, 2, length(ws)-2), chr(31)||chr(31)) AS sy, n FROM $prev) l,
       |       UNNEST(range(1, len(l.sy))) AS i(i)
       |  GROUP BY 1, 2),
       |b$r AS (SELECT pa, pb, c FROM p$r ORDER BY c DESC, pa, pb LIMIT 1),
       |w$r AS (SELECT replace(ws, chr(31)||pa||chr(31)||chr(31)||pb||chr(31), chr(31)||pa||pb||chr(31)) AS ws, n
       |        FROM $prev CROSS JOIN b$r)""".stripMargin
  }

  private val bpeSteps = 10

  /** The shared oracle prelude: lexicon word frequencies wrapped into
    * the delimiter encoding, then the [[bpeSteps]] merge rounds
    * unrolled as chained CTEs — DuckDB replays the exact algorithm
    * (same tiebreak, same leftmost-nonoverlapping replace semantics).
    * After it, `w<bpeSteps>` holds every lexicon word fully merged. */
  private val bpeCtePrefix: String =
    """WITH w0 AS (
      |  SELECT regexp_replace(w, '(.)', chr(31)||'\1'||chr(31), 'g') AS ws, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
      |  WHERE w <> '' GROUP BY 1),
      |""".stripMargin +
      (1 to bpeSteps).map(bpeOracleRound).mkString(",\n")

  /** p08 oracle: the full merge SEQUENCE, exact. */
  private val bpeOracle: String =
    bpeCtePrefix + "\n" +
      "SELECT * FROM (\n" +
      (1 to bpeSteps).map(r =>
        s"SELECT CAST($r AS BIGINT) AS step, pa, pb, pa||pb AS merged, c AS cnt FROM b$r")
        .mkString("\nUNION ALL ") +
      "\n) ORDER BY step"

  /** p09 oracle: decode each fully-merged lexicon entry back to its
    * word (delimiters strip to the original characters — merges only
    * ever concatenate), count its symbols, and join the per-word token
    * count onto the corpus word occurrences. */
  private val bpeEncodeOracle: String =
    bpeCtePrefix + ",\n" +
      s"""enc AS (
        |  SELECT replace(ws, chr(31), '') AS w,
        |         len(string_split(substring(ws, 2, length(ws)-2), chr(31)||chr(31))) AS toks
        |  FROM w$bpeSteps),
        |occ AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
        |SELECT doc_id, CAST(SUM(toks) AS BIGINT) AS n_tokens,
        |       CAST(COUNT(*) AS BIGINT) AS n_words
        |FROM occ JOIN enc USING (w) WHERE w <> ''
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** BPE merge-training core over a (w, n) word-frequency relation.
    *
    * Symbol sequences are encoded as a single STRING with every symbol
    * wrapped in a U+001F delimiter pair ("ab" → ␟a␟␟b␟), so applying a
    * merge is one codegen'd literal `replace` of ␟a␟␟b␟ with ␟ab␟ —
    * and because each symbol carries its OWN delimiters, consecutive
    * matches share no boundary characters, which makes SQL replace's
    * leftmost-nonoverlapping scan EXACTLY standard BPE merge semantics
    * ("aaa" + (a,a) → "aa","a") in both engines with no regex and no
    * UDF.
    *
    * Each round: explode adjacent pairs (lexicon-bounded, see below),
    * one grouped count, one TakeOrdered argmax — a single winner row
    * read on the driver (the p02-quota O(1) pattern), then a map-side
    * replace + `localCheckpoint`. The checkpoint per round is the
    * d03/Clustering posture: it truncates the 10-round lineage (no
    * quadratic plan re-derivation, no re-execution of earlier rounds'
    * argmax jobs) and its blocks are ContextCleaner-released; an
    * executor lost mid-round recomputes that round's stage.
    *
    * Scale: the corpus is touched ONCE (the word-frequency aggregate a
    * caller supplies — Zipfian, so map-side partials absorb most of
    * it). Every merge round is bounded by the LEXICON's total character
    * count (Σ |word| over distinct words — ~10⁶–10⁷ rows at any corpus
    * size), not the corpus: pair counting stays corpus-linear overall
    * and vocab-linear per round. */
  private[graft] def bpeMerges(
      words0: org.apache.spark.sql.DataFrame, steps: Int): org.apache.spark.sql.DataFrame = {
    val s = words0.sparkSession
    import s.implicits._
    bpeTrainRounds(words0, steps).toDF("step", "pa", "pb", "merged", "cnt")
      .orderBy(col("step"))
  }

  /** The training loop behind [[bpeMerges]], returning the learned
    * rounds as local (step, pa, pb, merged, cnt) rows -- each round's
    * winner is a single driver-read row by construction, so the rule
    * list is driver-local for free and p09's encoder can splice the
    * merges into a literal replace chain. */
  private[graft] def bpeTrainRounds(
      words0: org.apache.spark.sql.DataFrame,
      steps: Int): Seq[(Long, String, String, String, Long)] = {
    val S = "\u001F" // chr(31); never occurs in document text
    var words = words0
      .select(regexp_replace(col("w"), "(.)", S + "$1" + S).as("ws"), col("n"))
      .localCheckpoint()
    val merges = Seq.newBuilder[(Long, String, String, String, Long)]
    for (step <- 1 to steps) {
      val winner = words
        .select(col("n"),
          split(col("ws").substr(lit(2), length(col("ws")) - 2), S + S).as("sy"))
        .filter(size(col("sy")) >= 2)
        .select(col("n"), col("sy"),
          explode(sequence(lit(1), size(col("sy")) - 1)).as("i"))
        .select(col("n"), element_at(col("sy"), col("i")).as("pa"),
          element_at(col("sy"), col("i") + 1).as("pb"))
        .groupBy(col("pa"), col("pb")).agg(sum(col("n")).as("c"))
        .orderBy(col("c").desc, col("pa"), col("pb"))
        .limit(1).collect()
      if (winner.nonEmpty) {
        val (pa, pb, c) =
          (winner(0).getString(0), winner(0).getString(1), winner(0).getLong(2))
        merges += ((step.toLong, pa, pb, pa + pb, c))
        val next = words
          .select(replace(col("ws"), lit(S + pa + S + S + pb + S),
            lit(S + pa + pb + S)).as("ws"), col("n"))
          .localCheckpoint()
        // the superseded word-table snapshot is dead once the merged
        // one materializes — release it now (Spark frees checkpoint
        // blocks only on GC; without this the loop holds one
        // LEXICON-sized snapshot per learned rule, the d20-at-r18
        // residency class)
        org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(words)
        words = next
      }
    }
    // the rule list is already driver-local; the final snapshot's
    // blocks are not part of the result
    org.apache.spark.sql.GraftBridge.unpersistLocalCheckpoint(words)
    merges.result()
  }

  /** BPE-merge tokenizer training: learn the first 10 merge rules from
    * corpus word frequencies — the capstone on p07's vocabulary
    * (Sennrich et al. 2016's algorithm, driver-coordinated the way
    * Clustering's k-means is: one bounded relational job per round).
    * Deterministic tiebreak: count desc, then pair lexicographic. */
  val bpeTrain: QueryEntry = QueryEntry("p08_bpe_train", bpeOracle) { (s, d) =>
    bpeMerges(
      Tables.documents(s, d)
        .select(explode(ws).as("w"))
        .filter(col("w") =!= "")
        .groupBy(col("w")).agg(count(lit(1)).as("n")),
      bpeSteps)
  }

  /** BPE tokenizer APPLICATION (p09) — encode the corpus with the
    * rules p08 learns, reporting per-document token counts under the
    * trained tokenizer (the sizing signal every training pipeline
    * needs before packing/pricing a corpus).
    *
    * The encode is LEXICON-bounded, never corpus-bounded: each
    * distinct word is wrapped into the delimiter encoding and pushed
    * through the [[bpeSteps]] merges as one chained, codegen'd
    * literal-replace expression (no per-round jobs — the rules are
    * already driver-local from training), and the corpus only pays a
    * broadcast join of (word → token count) onto its word
    * occurrences plus one doc_id-keyed aggregation. At 100 TB the
    * lexicon is ~10⁶–10⁷ rows regardless of corpus size, so encoding
    * work is a rounding error next to the occurrence scan, and no
    * document text ever crosses an exchange. Greedy left-to-right
    * merge application is exactly SQL replace's leftmost-
    * nonoverlapping scan in both engines (see [[bpeMerges]]), so the
    * token counts are exact-oracled. */
  val bpeEncode: QueryEntry = QueryEntry("p09_bpe_encode", bpeEncodeOracle) { (s, d) =>
    val S = "\u001F"
    val lex = Tables.documents(s, d)
      .select(explode(ws).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("n"))
    val rules = bpeTrainRounds(lex, bpeSteps)
    var wsCol: org.apache.spark.sql.Column =
      regexp_replace(col("w"), "(.)", S + "$1" + S)
    rules.foreach { case (_, pa, pb, _, _) =>
      wsCol = replace(wsCol, lit(S + pa + S + S + pb + S), lit(S + pa + pb + S))
    }
    val enc = lex.select(col("w"),
      size(split(wsCol.substr(lit(2), length(wsCol) - 2), S + S)).as("toks"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(ws).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(enc), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("toks")).as("n_tokens"), count(lit(1)).as("n_words"))
      .orderBy(col("doc_id"))
  }

  /** Quality-filter funnel with first-fail attribution (p10): every
    * document gets exactly one verdict — the FIRST rule it fails in
    * pipeline order (too short → too repetitive → words too short) or
    * 'pass' — and the output is the funnel report (docs and corpus
    * share per verdict) that tells a pipeline owner which rule is
    * eating their data. First-fail attribution (vs. flag-all) is what
    * makes shares sum to 1 and rule-reordering experiments readable.
    * All three rules are integer cross-multiplications of exact counts
    * (word count, distinct-word count, char count), so no float
    * threshold can straddle an ulp and the oracle is exact.
    *
    * At scale: one corpus scan computes the per-doc signals map-side
    * (array ops on the already-read text, no exchange), the verdict
    * CASE collapses to ≤4 cells before any shuffle, and the corpus
    * total for the share arrives by BROADCAST of a scalar aggregate —
    * not a single-partition window (ExchangeAuditSpec's tripwire
    * stays clean). */
  val qualityFunnel: QueryEntry = QueryEntry(
    "p10_quality_funnel",
    """WITH s AS (SELECT n_chars, len(string_split(text, ' ')) AS nw,
      |                  len(list_distinct(string_split(text, ' '))) AS nd
      |           FROM documents),
      |r AS (SELECT CASE WHEN nw < 20 THEN 'too_short'
      |                  WHEN (nw - nd) * 20 > 13 * nw THEN 'repetitive'
      |                  WHEN (n_chars - nw + 1) * 5 < 20 * nw THEN 'short_words'
      |                  ELSE 'pass' END AS verdict FROM s),
      |c AS (SELECT verdict, COUNT(*) AS n_docs FROM r GROUP BY 1),
      |t AS (SELECT COUNT(*) AS total FROM documents)
      |SELECT verdict, n_docs, CAST(n_docs AS DOUBLE) / total AS share
      |FROM c CROSS JOIN t ORDER BY verdict""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val sig = docs.select(col("n_chars"), size(ws).as("nw"),
      size(array_distinct(ws)).as("nd"))
    val cells = sig.select(
      when(col("nw") < 20, "too_short")
        .when((col("nw") - col("nd")) * 20 > col("nw") * 13, "repetitive")
        .when((col("n_chars") - col("nw") + 1) * 5 < col("nw") * 20, "short_words")
        .otherwise("pass").as("verdict"))
      .groupBy(col("verdict")).agg(count(lit(1)).as("n_docs"))
    val total = docs.agg(count(lit(1)).as("total"))
    cells.crossJoin(broadcast(total))
      .select(col("verdict"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).as("share"))
      .orderBy(col("verdict"))
  }

  /** Temperature-reweighted mixture shares (p11): per (lang, source)
    * cell, the natural share n/total and the α = 0.5 temperature share
    * √n / Σ√n — the unigram-LM-style rebalancing that upsamples tail
    * domains and flattens head domains when designing a multilingual /
    * multi-source training mix (α = 1 is natural sampling, α = 0 is
    * uniform; √ is the conventional midpoint). The only FP hazard is
    * Σ√n, whose value depends on ADDITION ORDER: both engines compute
    * it as an EXPLICIT left fold over the cells sorted by (lang,
    * source) — Spark `aggregate(array_sort(collect_list(…)))`, DuckDB
    * `list_reduce(list(… ORDER BY …))` — the same addition sequence,
    * hence the same double. (A window running-sum is NOT enough:
    * DuckDB evaluates window aggregates with a segment tree, whose
    * tree-shaped addition order diverged from Spark's fold in the last
    * ulp — caught by the oracle on first run.) √ of an integer and the
    * final divisions are single correctly-rounded IEEE ops, so the
    * oracle is exact.
    *
    * At scale: the corpus collapses to |langs|×|sources| cells in one
    * scan (p05's shape); the fold is a SCALAR aggregate over those
    * O(100) cells (structural single-partition — one partial row per
    * upstream partition), broadcast back, interpreted-HOF only over
    * the cell array. */
  val mixtureTemperature: QueryEntry = QueryEntry(
    "p11_mixture_temperature",
    """WITH c AS (SELECT lang, source, COUNT(*) AS n_docs FROM documents GROUP BY 1, 2),
      |a AS (SELECT list_reduce(list(sqrt(CAST(n_docs AS DOUBLE)) ORDER BY lang, source),
      |                         (x, y) -> x + y) AS den,
      |             SUM(n_docs) AS total FROM c)
      |SELECT lang, source, n_docs,
      |       CAST(n_docs AS DOUBLE) / total AS share,
      |       sqrt(CAST(n_docs AS DOUBLE)) / den AS t_share
      |FROM c CROSS JOIN a ORDER BY lang, source""".stripMargin
  ) { (s, d) =>
    val cells = Tables.documents(s, d)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("w", sqrt(col("n_docs").cast("double")))
    val denom = cells.agg(
      expr("aggregate(array_sort(collect_list(struct(lang, source, w))), " +
        "0D, (acc, s) -> acc + s.w)").as("den"),
      sum(col("n_docs")).as("total"))
    cells.crossJoin(broadcast(denom))
      .select(col("lang"), col("source"), col("n_docs"),
        (col("n_docs").cast("double") / col("total")).as("share"),
        (col("w") / col("den")).as("t_share"))
      .orderBy(col("lang"), col("source"))
  }

  /** p10's three rules as a KEEP predicate (verdict = pass) over any
    * (doc_id, text, n_chars, …) relation — the gate stage of the
    * composed pipeline. Map-only: every signal derives from the
    * already-read text. */
  private[graft] def qualityPass(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    docs
      .withColumn("nw", size(ws))
      .withColumn("nd", size(array_distinct(ws)))
      .filter(col("nw") >= 20 &&
        (col("nw") - col("nd")) * 20 <= col("nw") * 13 &&
        (col("n_chars") - col("nw") + 1) * 5 >= col("nw") * 20)
      .select(col("doc_id"), col("text"))

  /** End-to-end composed pipeline, deterministic spine (p12): raw
    * documents → quality gate (p10's pass rules) → boilerplate strip
    * (d18) → exact dedup (d01's keep-min-id rule on the STRIPPED text)
    * → sequence packing (p03), as ONE declarative plan — how a real
    * training run consumes these operators, proving they chain without
    * per-stage rescans or materialization. PlanAuditSpec counts the
    * corpus scans in the executed plan: exactly THREE — d18's df
    * diamond (digest aggregation + keep-set join side, 48-byte rows
    * only through their exchanges) plus the text spine — constant in
    * the number of stages, not one per stage. The diamond's extra
    * columnar scan is the deliberate scale trade: the alternative
    * (count-distinct window keyed on digest) buffers whole
    * boilerplate-herd partitions on single tasks.
    *
    * Stage fusion is Catalyst's, not hand-scheduled: the gate is a
    * map-only filter fused into both scans; the strip exchanges
    * digests and one doc_id-keyed text pass (d18's shape); the dedup
    * is a window over sha256(text) — stripped text crosses that one
    * digest-keyed exchange, survivors flow straight into the packing
    * window without touching storage. Every rule is integer-exact →
    * full DuckDB oracle. */
  /** p12's survivor spine as oracle CTEs (quality gate → boilerplate
    * strip → exact dedup), ending in `surv(doc_id, text)` — shared by
    * the p12 and p13 mirrors. */
  private def composeSurvivorCtes: String =
    s"""g AS (
       |  SELECT doc_id, text FROM (
       |    SELECT doc_id, text, n_chars,
       |           len(string_split(text, ' ')) AS nw,
       |           len(list_distinct(string_split(text, ' '))) AS nd
       |    FROM documents)
       |  WHERE nw >= 20 AND (nw - nd) * 20 <= 13 * nw
       |    AND (n_chars - nw + 1) * 5 >= 20 * nw),
       |a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM g),
       |idx AS (SELECT doc_id, arr,
       |               unnest(range(0, CAST(ceil(len(arr) / ${Dedup.paraWords}.0) AS BIGINT))) AS i
       |        FROM a),
       |paras AS (SELECT doc_id, i AS para_idx,
       |                 array_to_string(arr[(i * ${Dedup.paraWords} + 1):(i * ${Dedup.paraWords} + ${Dedup.paraWords})], ' ') AS para
       |          FROM idx),
       |dfq AS (SELECT sha256(para) AS digest, COUNT(DISTINCT doc_id) AS nd
       |        FROM paras GROUP BY 1),
       |keep AS (SELECT p.doc_id, p.para_idx, p.para
       |         FROM paras p JOIN dfq ON sha256(p.para) = dfq.digest
       |         WHERE dfq.nd <= ${Dedup.boilerplateMaxDf}),
       |stripped AS (SELECT doc_id, string_agg(para, ' ' ORDER BY para_idx) AS text
       |             FROM keep GROUP BY doc_id),
       |surv AS (SELECT doc_id, text FROM (
       |           SELECT doc_id, text,
       |                  ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) AS rn
       |           FROM stripped) WHERE rn = 1)""".stripMargin

  /** The pack-manifest oracle tail over a `kept(doc_id, text)` CTE. */
  private def packManifestSql(src: String): String =
    s"""t AS (SELECT doc_id, doc_id % 8 AS bucket,
       |             len(string_split(text, ' ')) AS toks FROM $src),
       |c AS (SELECT doc_id, bucket, toks,
       |             SUM(toks) OVER (PARTITION BY bucket ORDER BY doc_id
       |                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior FROM t)
       |SELECT bucket, CAST(FLOOR(COALESCE(prior, 0) / 2048) AS BIGINT) AS bin,
       |       COUNT(*) AS n_docs, CAST(SUM(toks) AS BIGINT) AS tokens
       |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  val pipelineCompose: QueryEntry = QueryEntry(
    "p12_pipeline_compose",
    s"""WITH $composeSurvivorCtes,
       |${packManifestSql("surv")}""".stripMargin
  ) { (s, d) =>
    val surv = composeSurvivors(s, d)
    packManifest(surv.select(col("doc_id"), size(ws).as("toks")))
  }

  /** The deterministic spine shared by p12/p13: gate → strip → exact
    * dedup, yielding surviving (doc_id, text). */
  private[graft] def composeSurvivors(s: org.apache.spark.sql.SparkSession, d: String)
      : org.apache.spark.sql.DataFrame =
    Dedup.stripBoilerplateOf(qualityPass(Tables.documents(s, d)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(sha2(col("text"), 256)).orderBy(col("doc_id"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("text"))

  /** Composed pipeline, full chain (p13): p12's spine plus the
    * NEAR-dup removal stage between exact dedup and packing — d03's
    * MinHash→LSH→exact-verify pairs at the d02 report threshold
    * (0.85), dropping the larger id of every verified pair (greedy
    * keep-first, the same survivor rule as the exact tier). Oracled
    * r11: the whole chain is a composition of already-transcribed
    * mirrors — p12's survivor spine, d03's MinHash/band/verify CTEs
    * over the SURVIVOR relation, the ≥0.85 drop, and the pack tail —
    * so the five-stage pipeline is hash-gated end-to-end.
    * PipelineComposeSpec still gates the chain algebra (survivor ⊆
    * p12's, dropped docs have smaller-id partners, totals re-add).
    * The survivor relation is localCheckpoint'd once — consumed by
    * both the pair generator and the final anti-join, the one diamond
    * in the chain. */
  val pipelineFull: QueryEntry = QueryEntry(
    "p13_pipeline_full",
    s"""WITH $composeSurvivorCtes,
       |dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM surv),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)),
       |         i -> ws[i] || '_' || ws[i+1]))) AS s FROM dd),
       |${XxhOracle.minhashSigCtes("doc_id", 32)},
       |${XxhOracle.minhashPairCtes("doc_id", 32, "0.25")},
       |drop0 AS (SELECT DISTINCT b_doc_id AS doc_id FROM jac WHERE jaccard >= 0.85),
       |kept AS (SELECT surv.doc_id, surv.text FROM surv
       |         LEFT JOIN drop0 USING (doc_id) WHERE drop0.doc_id IS NULL),
       |${packManifestSql("kept")}""".stripMargin
  ) { (s, d) =>
    val surv = composeSurvivors(s, d).localCheckpoint()
    val drop = Dedup.minhashVerifiedPairs(surv)
      .filter(col("jaccard") >= 0.85)
      .select(col("b_id").as("doc_id")).distinct()
    packManifest(surv.join(drop, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), size(ws).as("toks")))
  }

  /** Seeded global shuffle + shard assignment (p14) — the data-order
    * freeze a training run needs: every document gets a deterministic
    * pseudo-random key md5(seed ‖ doc_id), its shard is the key's
    * first hex nibble (16 shards), and its position within the shard
    * is the rank of its key there. Reproducible across engines,
    * partitionings, and re-runs (the p02 seedless-determinism rule —
    * rand() is none of those), and GLOBALLY unordered: any id-range or
    * source-locality correlation in the raw corpus is destroyed by the
    * hash, which is what epoch shuffling exists for.
    *
    * Deliberately NOT a total sort: a global ORDER BY md5 ranks the
    * full corpus through one range exchange; hash-sharding needs only
    * a 16-way exchange on the shard nibble and per-shard sorts — at
    * 100 TB each shard is an independent sort a cluster runs in
    * parallel, and shard files are exactly what the training loader
    * consumes. All strings and integers → exact oracle. */
  val globalShuffle: QueryEntry = QueryEntry(
    "p14_global_shuffle",
    """WITH h AS (SELECT doc_id, md5('s42:' || CAST(doc_id AS VARCHAR)) AS hk FROM documents)
      |SELECT doc_id, substring(hk, 1, 1) AS shard,
      |       ROW_NUMBER() OVER (PARTITION BY substring(hk, 1, 1) ORDER BY hk, doc_id) AS pos
      |FROM h ORDER BY shard, pos""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        md5(concat(lit("s42:"), col("doc_id").cast("string"))).as("hk"))
      .withColumn("shard", substring(col("hk"), 1, 1))
      .withColumn("pos", row_number().over(
        Window.partitionBy(col("shard")).orderBy(col("hk"), col("doc_id"))))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  /** Token-budget waterfill (p15) — the data-budgeting step between
    * mixture statistics (p05) and sampling (p06): given a total
    * training budget B (here half the corpus tokens) and a per-source
    * repeat cap (2 epochs of each source), allocate tokens per source
    * by waterfilling — small sources contribute their full cap, large
    * sources are leveled at a common water line λ chosen so the
    * allocations exactly exhaust B. The classic closed form: process
    * sources in ascending cap order; the first index where
    * cap_i ≥ (B − Σ smaller caps)/(sources remaining) is where the
    * water line sits, and every source from there on gets λ.
    *
    * All statistics are exact integers (token counts, running cap
    * sums); λ is ONE division applied to identical operands in both
    * engines, so the oracle is IEEE-exact (the t05/p11 rule). Scale
    * shape: the corpus scan reduces to O(sources) rows map-side before
    * the single exchange; the waterfill itself is window arithmetic
    * over those O(sources) rows plus two broadcast scalars — at 100 TB
    * the budget computation costs one aggregation pass, like p05. */
  val tokenBudget: QueryEntry = QueryEntry(
    "p15_token_budget",
    """WITH tok AS (SELECT source, CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n
      |             FROM documents GROUP BY 1),
      |tot AS (SELECT CAST(SUM(n) AS DOUBLE) / 2 AS budget FROM tok),
      |ord AS (SELECT source, n, 2 * n AS cap,
      |               ROW_NUMBER() OVER (ORDER BY 2 * n, source) AS i,
      |               CAST(COALESCE(SUM(2 * n) OVER (ORDER BY 2 * n, source
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cumb,
      |               COUNT(*) OVER () AS k
      |        FROM tok),
      |lam AS (SELECT ord.*, (budget - cumb) / (k - i + 1) AS lami FROM ord, tot),
      |cr AS (SELECT MIN(i) AS ci FROM lam WHERE cap >= lami),
      |lv AS (SELECT lami AS lam FROM lam, cr WHERE i = ci)
      |SELECT source, n, cap,
      |       CASE WHEN (SELECT ci FROM cr) IS NOT NULL AND i >= (SELECT ci FROM cr)
      |            THEN (SELECT lam FROM lv) ELSE CAST(cap AS DOUBLE) END AS alloc,
      |       CASE WHEN (SELECT ci FROM cr) IS NOT NULL AND i >= (SELECT ci FROM cr)
      |            THEN (SELECT lam FROM lv) / cap ELSE 1.0 END AS utilization
      |FROM lam ORDER BY source""".stripMargin
  ) { (s, d) =>
    val tok = Tables.documents(s, d)
      .select(col("source"), size(split(col("text"), " ")).as("t"))
      .groupBy(col("source")).agg(sum(col("t")).cast("long").as("n"))
    val budget = tok.agg((sum(col("n")).cast("double") / 2).as("budget"))
    val w = Window.orderBy(col("cap"), col("source"))
    val ord = tok.withColumn("cap", col("n") * 2)
      .withColumn("i", row_number().over(w))
      .withColumn("cumb", coalesce(
        sum(col("cap")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)).cast("long"))
      .withColumn("k", count(lit(1)).over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    val lam = ord.crossJoin(broadcast(budget))
      .withColumn("lami", (col("budget") - col("cumb")) / (col("k") - col("i") + 1))
    val cr = lam.filter(col("cap") >= col("lami"))
      .agg(min(col("i")).as("ci"))
    val lv = lam.join(broadcast(cr), col("i") === col("ci"))
      .select(col("lami").as("lam"), col("ci"))
    lam.crossJoin(broadcast(lv))
      .select(col("source"), col("n"), col("cap"),
        when(col("i") >= col("ci"), col("lam"))
          .otherwise(col("cap").cast("double")).as("alloc"),
        when(col("i") >= col("ci"), col("lam") / col("cap"))
          .otherwise(lit(1.0)).as("utilization"))
      .orderBy(col("source"))
  }

  /** Hashed-feature buckets for [[dsirWeights]] — fixed at 2¹⁰, the
    * knob that keeps BOTH language-model tables O(B) regardless of
    * corpus size (DSIR's own trick for making the n-gram LMs cheap). */
  private[graft] val dsirBuckets = 1024

  /** DSIR-style importance weighting (p16) — data selection via
    * importance resampling (Xie et al. 2023): score every raw document
    * by how much more likely its hashed n-gram features are under a
    * TARGET distribution than under the RAW corpus distribution, then
    * keep the target-like slice. Here the target is the `lang = 'en'`
    * subcorpus (stand-in for "curated high-quality set"); features are
    * word unigrams + bigrams hashed into [[dsirBuckets]] buckets; both
    * bucket LMs are add-one smoothed; a document's weight is its
    * log-likelihood ratio Σ ln(p_target(b)/p_raw(b)) over feature
    * instances, and `selected` keeps weight > 0 — "more target-like
    * than raw-like", a scale-free threshold needing no global rank
    * (the deterministic analogue of DSIR's Gumbel resampling).
    *
    * Determinism (r11, the t15/s22 fixed-point discipline): each
    * bucket's log-ratio is frozen to integer NANO-UNITS
    * (round(lr·10⁹)) the moment it leaves ln(), so the per-doc weight
    * is an integer sum — order-free under any partitioning, no sorted
    * fold needed — and the emitted double is one exact nano→unit
    * division. This also makes the entry fully DuckDB-oracled: the
    * raw ln() differs between Java's Math.log and the oracle engine's
    * libm at the last ulp (measured: 212/500 docs at sf0.01 before
    * quantization), but a 1-ulp input wobble cannot move round(x·10⁹)
    * except exactly at a .5 boundary — and the sign threshold, the
    * decision the operator exists for, is unaffected entirely.
    *
    * At 100 TB: both LM tables are capped at [[dsirBuckets]] rows by
    * construction (broadcast, declared in BroadcastAuditSpec); feature
    * instances travel as (doc_id, int bucket) pairs — text never
    * crosses an exchange — and collapse to per-(doc, bucket) counts
    * map-side; the per-doc fold array is ≤ min(doc features, B)
    * elements, doc-bounded, never corpus-bounded. One corpus scan
    * builds feats; Spark reuses it across the raw/target aggregates
    * and the scoring join via the checkpointed lineage. */
  val dsirWeights: QueryEntry = QueryEntry(
    "p16_dsir_weights", {
      val (hc, hlast) = XxhOracle.hashStrCtes(
        "hg", "gvocab", "g", "42::HUGEINT", "h")
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS arr FROM documents),
         |uni AS (SELECT doc_id, lang, unnest(arr) AS g FROM d),
         |bi AS (SELECT doc_id, lang, unnest(list_transform(range(1, len(arr)),
         |         i -> arr[i] || '_' || arr[i+1])) AS g FROM d WHERE len(arr) >= 2),
         |fg AS (SELECT * FROM uni UNION ALL SELECT * FROM bi),
         |gvocab AS (SELECT DISTINCT g FROM fg),
         |$hc,
         |gb AS MATERIALIZED (SELECT g, CAST(h % $dsirBuckets AS BIGINT) AS bucket
         |                    FROM $hlast),
         |feats AS (SELECT doc_id, lang, bucket FROM fg JOIN gb USING (g)),
         |raw AS (SELECT bucket, COUNT(*) AS cr FROM feats GROUP BY 1),
         |tgt AS (SELECT bucket, COUNT(*) AS ct FROM feats WHERE lang = 'en' GROUP BY 1),
         |tot AS (SELECT (SELECT SUM(cr) FROM raw) AS tr, (SELECT SUM(ct) FROM tgt) AS tt),
         |lm AS MATERIALIZED (SELECT r.bucket,
         |        CAST(round((ln(CAST(COALESCE(t.ct, 0) + 1 AS DOUBLE) / (tot.tt + $dsirBuckets))
         |          - ln(CAST(r.cr + 1 AS DOUBLE) / (tot.tr + $dsirBuckets))) * 1000000000)
         |          AS BIGINT) AS lrn
         |      FROM raw r LEFT JOIN tgt t ON t.bucket = r.bucket, tot),
         |w AS (SELECT f.doc_id, COUNT(*) AS n_feats,
         |        CAST(SUM(lm.lrn) AS BIGINT) AS wn
         |      FROM feats f JOIN lm USING (bucket) GROUP BY 1)
         |SELECT doc_id, n_feats, CAST(wn AS DOUBLE) / 1e9 AS weight,
         |       wn > 0 AS selected
         |FROM w ORDER BY doc_id""".stripMargin
    }
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    val bi = docs.withColumn("arr", ws)
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), col("lang"), explode(expr(
        "zip_with(slice(arr, 1, size(arr) - 1), slice(arr, 2, size(arr) - 1), " +
          "(a, b) -> concat(a, '_', b))")).as("g"))
    val feats = docs.select(col("doc_id"), col("lang"), explode(ws).as("g"))
      .unionByName(bi)
      .select(col("doc_id"), col("lang"),
        pmod(xxhash64(col("g")), lit(dsirBuckets.toLong)).as("bucket"))
      .localCheckpoint()
    val raw = feats.groupBy(col("bucket")).agg(count(lit(1)).as("cr"))
    val tgt = feats.filter(col("lang") === "en")
      .groupBy(col("bucket")).agg(count(lit(1)).as("ct"))
    val totals = raw.agg(sum(col("cr")).as("tr"))
      .crossJoin(tgt.agg(sum(col("ct")).as("tt")))
    val lm = raw.join(tgt, Seq("bucket"), "left")
      .crossJoin(totals)
      .select(col("bucket"),
        round((log((coalesce(col("ct"), lit(0L)) + 1).cast("double") /
            (col("tt") + dsirBuckets)) -
          log((col("cr") + 1).cast("double") /
            (col("tr") + dsirBuckets))) * 1e9).cast("long").as("lrn"))
    feats.join(broadcast(lm), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("lrn")).as("wn"))
      .select(col("doc_id"), col("n_feats"),
        (col("wn").cast("double") / 1e9).as("weight"),
        (col("wn") > 0).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** Histogram resolution for [[curriculum]]'s phase binning: score ×
    * [[currBucketScale]] floored → at most a few thousand occupied
    * buckets for any real word-length distribution. */
  private[graft] val currBucketScale = 50
  private[graft] val currPhases = 4

  /** Curriculum phase assignment (p17) — order training data
    * easy→hard without a global sort: difficulty is mean word length
    * ((n_chars − nw + 1)/nw, p10's rational), and documents are
    * binned into [[currPhases]] phases at HISTOGRAM granularity — one
    * corpus pass collapses to O(buckets) (score-bucket, count) cells,
    * a running-sum window over those cells computes each bucket's
    * cumulative predecessor count, and phase = min(P−1,
    * P·cumBefore ∕ N) (integer ops only). Every document joins its
    * bucket's phase back via broadcast. Same-bucket documents share a
    * phase by construction — the histogram IS the resolution, the
    * price of replacing the global rank a true quantile split needs
    * (the p14 scaladoc's argument against total sorts, applied to
    * curriculum learning's canonical competence schedule).
    *
    * Determinism: score is one rational division; bucket = floor
    * (score × scale) of an identical double in both engines; the rest
    * is integer arithmetic → exact oracle. At 100 TB the only
    * corpus-wide structures are one map-side histogram aggregate and
    * one O(buckets) broadcast — the window runs over histogram CELLS,
    * never rows (whitelisted like p15's O(sources) window). */
  val curriculum: QueryEntry = QueryEntry(
    "p17_curriculum",
    s"""WITH s AS (SELECT doc_id, len(string_split(text, ' ')) AS nw, n_chars
      |            FROM documents),
      |sc AS (SELECT doc_id,
      |              CAST(n_chars - nw + 1 AS DOUBLE) / nw AS score,
      |              CAST(FLOOR((CAST(n_chars - nw + 1 AS DOUBLE) / nw) * $currBucketScale) AS BIGINT) AS bucket
      |       FROM s),
      |h AS (SELECT bucket, COUNT(*) AS n FROM sc GROUP BY 1),
      |c AS (SELECT bucket,
      |             COALESCE(SUM(n) OVER (ORDER BY bucket
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before,
      |             SUM(n) OVER () AS total
      |      FROM h),
      |ph AS (SELECT bucket,
      |              CAST(LEAST($currPhases - 1, $currPhases * cum_before // total) AS BIGINT) AS phase
      |       FROM c)
      |SELECT sc.doc_id, sc.score, sc.bucket, ph.phase
      |FROM sc JOIN ph USING (bucket) ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val sc = Tables.documents(s, d)
      .select(col("doc_id"),
        ((col("n_chars") - size(ws) + 1).cast("double") / size(ws)).as("score"))
      .withColumn("bucket", floor(col("score") * currBucketScale))
    val h = sc.groupBy(col("bucket")).agg(count(lit(1)).as("n"))
    val cw = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ph = h
      .withColumn("cum_before", coalesce(sum(col("n")).over(cw), lit(0L)))
      .withColumn("total", sum(col("n")).over(
        Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select(col("bucket"),
        least(lit(currPhases - 1),
          expr(s"$currPhases * cum_before div total")).as("phase"))
    sc.join(broadcast(ph), Seq("bucket"))
      .select(col("doc_id"), col("score"), col("bucket"), col("phase"))
      .orderBy(col("doc_id"))
  }

  /** p18 window geometry: max tokens per training chunk and the
    * stride between chunk starts — a [[chunkLen]]−[[chunkStride]] =
    * 32-token overlap, the context-continuity overlap long-document
    * splitting conventionally keeps. */
  private[graft] val chunkLen = 256
  private[graft] val chunkStride = 224

  /** Overlapping chunk split (p18) — the long-document half of
    * sequence preparation that packing (p03) alone cannot do: a
    * document longer than the training context must be SPLIT into
    * [[chunkLen]]-token windows at stride [[chunkStride]] (neighbors
    * share a 32-token overlap), not truncated. Emits one row per
    * chunk: index, 1-based start token, length (only the last chunk
    * is short), and the chunk text's sha256 — chunks travel as
    * digests + offsets, never as text (the downstream packer/loader
    * re-slices from storage by offset, the decontaminator joins on
    * the digest). Chunk count/geometry are pure integer functions of
    * the token count and sha256 is engine-identical → exact oracle;
    * the reassembly property (chunks tile the document, consecutive
    * starts differ by exactly the stride) is gated in
    * PipelineComposeSpec.
    *
    * Built under d16's let-binding chunker discipline: the split
    * binds ONCE per row (`transform(array(split(...)), arr -> …)`),
    * so the per-chunk slices are variable lookups, not re-splits —
    * map-only, no exchange before the delivery sort at any corpus
    * size. */
  val chunkSplit: QueryEntry = QueryEntry(
    "p18_chunk_split",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
      |n AS (SELECT doc_id, arr, len(arr) AS nw,
      |             CASE WHEN len(arr) <= $chunkLen THEN 1
      |                  ELSE 1 + CAST(CEIL(CAST(len(arr) - $chunkLen AS DOUBLE) / $chunkStride) AS BIGINT)
      |             END AS n_chunks
      |      FROM t),
      |c AS (SELECT doc_id, arr, nw, unnest(range(n_chunks)) AS chunk_idx FROM n)
      |SELECT doc_id, chunk_idx,
      |       chunk_idx * $chunkStride + 1 AS start_tok,
      |       LEAST($chunkLen, nw - chunk_idx * $chunkStride) AS n_tokens,
      |       sha256(array_to_string(arr[CAST(chunk_idx * $chunkStride + 1 AS INTEGER):CAST(chunk_idx * $chunkStride + LEAST($chunkLen, nw - chunk_idx * $chunkStride) AS INTEGER)], ' ')) AS chunk_digest
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(expr(
        s"""transform(array(split(text, ' ')), arr ->
           |  transform(sequence(0,
           |      cast(case when size(arr) <= $chunkLen then 0
           |           else ceil((size(arr) - $chunkLen) / $chunkStride.0) end as int)),
           |    i -> named_struct(
           |      'start_tok', cast(i * $chunkStride + 1 as bigint),
           |      'n_tokens', cast(least($chunkLen, size(arr) - i * $chunkStride) as bigint),
           |      'chunk_digest', sha2(array_join(slice(arr, i * $chunkStride + 1,
           |        least($chunkLen, size(arr) - i * $chunkStride)), ' '), 256))))[0]""".stripMargin))
        .as(Seq("chunk_idx", "ch")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        col("ch.start_tok").as("start_tok"), col("ch.n_tokens").as("n_tokens"),
        col("ch.chunk_digest").as("chunk_digest"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Dataset-card manifest (p19) — the per-(source, lang) statistics
    * table a corpus release ships (HuggingFace dataset cards, Pile /
    * Dolma papers): document and token counts, exact duplicate rate
    * (from content digests), and the n_chars spread with an EXACT
    * lower median — a rank pick, not an approximate percentile, so
    * the oracle matches bit-for-bit (approx_percentile's sketch would
    * be engine-specific). dup_rate is the one float: a single rational
    * division of exact integers (the t05 rule).
    *
    * Plan economics: the median's window and the final aggregate key
    * on the SAME (source, lang) columns, so Catalyst reuses ONE hash
    * exchange for both — the stats pass costs a single shuffle of
    * narrow (digest, counts) rows at any corpus size. */
  val datasetCard: QueryEntry = QueryEntry(
    "p19_dataset_card",
    """WITH b AS (SELECT source, lang, doc_id, n_chars,
      |                  LEN(string_split(text, ' ')) AS toks, sha256(text) AS dg
      |           FROM documents),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY source, lang ORDER BY n_chars, doc_id) AS rk,
      |             COUNT(*) OVER (PARTITION BY source, lang) AS n FROM b)
      |SELECT source, lang, COUNT(*) AS n_docs,
      |       CAST(SUM(toks) AS BIGINT) AS n_tokens,
      |       COUNT(DISTINCT dg) AS n_unique,
      |       CAST(COUNT(*) - COUNT(DISTINCT dg) AS DOUBLE) / COUNT(*) AS dup_rate,
      |       MIN(n_chars) AS min_chars,
      |       MAX(CASE WHEN rk = (n + 1) // 2 THEN n_chars END) AS median_chars,
      |       MAX(n_chars) AS max_chars
      |FROM r GROUP BY source, lang ORDER BY source, lang""".stripMargin
  ) { (s, d) =>
    val b = Tables.documents(s, d)
      .select(col("source"), col("lang"), col("doc_id"), col("n_chars"),
        size(split(col("text"), " ")).as("toks"), sha2(col("text"), 256).as("dg"))
    val wg = Window.partitionBy(col("source"), col("lang"))
    val r = b
      .withColumn("rk", row_number().over(
        wg.orderBy(col("n_chars"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(wg))
    r.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        countDistinct(col("dg")).as("n_unique"),
        ((count(lit(1)) - countDistinct(col("dg"))).cast("double") /
          count(lit(1))).as("dup_rate"),
        min(col("n_chars")).as("min_chars"),
        max(when(col("rk") === expr("(n + 1) div 2"), col("n_chars")))
          .as("median_chars"),
        max(col("n_chars")).as("max_chars"))
      .orderBy(col("source"), col("lang"))
  }

  /** Interleaved multimodal sequence packing (p20) — the token
    * accounting a vision-language training run does before sharding:
    * each document contributes its TEXT tokens plus its image's
    * ViT-patch tokens (⌈w/14⌉·⌈h/14⌉ for the m05 BMP dims, the
    * standard 14-px patch grid) plus 2 modality-separator tokens, and
    * the combined lengths pack into 2048-token bins with p03's
    * deterministic greedy-by-id discipline (8 independent bucket
    * streams — the manifest is reproducible across engines and
    * partitionings, no rand()). Per bin the manifest splits the token
    * budget by modality — the number a dataloader needs to balance
    * patch-embedding vs token-embedding throughput. All integers →
    * exact oracle.
    *
    * At scale: one projection computes per-doc totals (the image dims
    * derive from metadata, not a decode — the decode already ran in
    * m05's column), one window + agg per bucket stream. */
  val multimodalPack: QueryEntry = QueryEntry(
    "p20_multimodal_pack",
    """WITH t AS (SELECT doc_id, doc_id % 8 AS bucket,
      |                  len(string_split(text, ' ')) AS toks,
      |                  CAST(8 + doc_id % 9 AS BIGINT) AS w,
      |                  CAST(octet_length(encode(text)) AS BIGINT) // (3 * (8 + doc_id % 9)) AS h
      |           FROM documents),
      |m AS (SELECT doc_id, bucket, toks,
      |             ((w + 13) // 14) * ((h + 13) // 14) AS patches,
      |             toks + ((w + 13) // 14) * ((h + 13) // 14) + 2 AS total
      |      FROM t),
      |c AS (SELECT *, SUM(total) OVER (PARTITION BY bucket ORDER BY doc_id
      |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior FROM m)
      |SELECT bucket, CAST(FLOOR(COALESCE(prior, 0) / 2048) AS BIGINT) AS bin,
      |       COUNT(*) AS n_docs,
      |       CAST(SUM(toks) AS BIGINT) AS text_tokens,
      |       CAST(SUM(patches) AS BIGINT) AS image_tokens,
      |       CAST(SUM(total) AS BIGINT) AS tokens
      |FROM c GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  ) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), (col("doc_id") % 8).as("bucket"),
        size(split(col("text"), " ")).cast("long").as("toks"),
        (lit(8) + col("doc_id") % 9).cast("long").as("w"),
        expr("cast(octet_length(encode(text, 'UTF-8')) as bigint)" +
          " div (3 * (8 + doc_id % 9))").as("h"))
      .withColumn("patches",
        expr("((w + 13) div 14) * ((h + 13) div 14)"))
      .withColumn("total", col("toks") + col("patches") + 2)
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    t.withColumn("prior", coalesce(sum(col("total")).over(w), lit(0L)))
      .withColumn("bin", floor(col("prior") / 2048))
      .groupBy(col("bucket"), col("bin"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("text_tokens"),
        sum(col("patches")).as("image_tokens"),
        sum(col("total")).as("tokens"))
      .orderBy(col("bucket"), col("bin"))
  }

  /** Z-order (Morton) layout audit (p21) — the multi-dimensional
    * clustering a 100 TB table needs for data skipping on TWO
    * predicate columns at once: interleave the bits of (l_orderkey,
    * l_partkey) into one z-value, bucket by its high bits, and report
    * each bucket's (count, min/max of both dims). A table REWRITTEN in
    * this order gives every file a narrow min/max envelope on BOTH
    * columns, so either predicate prunes files — a lexicographic sort
    * only prunes its leading column. The entry is the audit relation
    * (the layout decision + the skipping evidence); the rewrite itself
    * is `repartitionByRange(zval).sortWithinPartitions(zval).write`.
    *
    * The bit-spread is the classic 5-step magic-mask dilation — pure
    * codegen'd shift/and/or on longs, exact-oracled by the identical
    * arithmetic in DuckDB. The audited domain is the low 32 bits of
    * each key (masked explicitly in BOTH engines — a z-order over
    * wider keys needs a wider dilation, not silent corruption).
    * Scale: one map + one grouped agg; the exchange carries (bucket,
    * partial min/max/count) only. */
  val zorderLayout: QueryEntry = {
    // dilate the low 32 bits of v into the even bit positions; the
    // explicit 32-bit mask first makes the domain a hard boundary —
    // without it, bits 32-47 of an oversized key survive the first
    // mask via the un-shifted term and silently corrupt the interleave
    // (and the oracle, using the same arithmetic, would corrupt
    // identically, blinding the hash gate)
    def spread(v0: Column): Column = {
      val v = v0.bitwiseAND(lit(0xFFFFFFFFL))
      val s1 = (v.bitwiseOR(shiftleft(v, 16))).bitwiseAND(lit(0x0000FFFF0000FFFFL))
      val s2 = (s1.bitwiseOR(shiftleft(s1, 8))).bitwiseAND(lit(0x00FF00FF00FF00FFL))
      val s3 = (s2.bitwiseOR(shiftleft(s2, 4))).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
      val s4 = (s3.bitwiseOR(shiftleft(s3, 2))).bitwiseAND(lit(0x3333333333333333L))
      (s4.bitwiseOR(shiftleft(s4, 1))).bitwiseAND(lit(0x5555555555555555L))
    }
    QueryEntry(
      "p21_zorder_layout",
      """WITH a AS (SELECT l_orderkey AS ok, l_partkey AS pk,
        |                  l_orderkey & 4294967295 AS x,
        |                  l_partkey & 4294967295 AS y FROM lineitem),
        |b AS (SELECT ok, pk, (x | (x << 16)) & 281470681808895 AS x,
        |                     (y | (y << 16)) & 281470681808895 AS y FROM a),
        |c AS (SELECT ok, pk, (x | (x << 8)) & 71777214294589695 AS x,
        |                     (y | (y << 8)) & 71777214294589695 AS y FROM b),
        |d AS (SELECT ok, pk, (x | (x << 4)) & 1085102592571150095 AS x,
        |                     (y | (y << 4)) & 1085102592571150095 AS y FROM c),
        |e AS (SELECT ok, pk, (x | (x << 2)) & 3689348814741910323 AS x,
        |                     (y | (y << 2)) & 3689348814741910323 AS y FROM d),
        |f AS (SELECT ok, pk,
        |             ((x | (x << 1)) & 6148914691236517205)
        |           | (((y | (y << 1)) & 6148914691236517205) << 1) AS z FROM e)
        |SELECT z >> 22 AS zbucket, COUNT(*) AS n,
        |       MIN(ok) AS min_ok, MAX(ok) AS max_ok,
        |       MIN(pk) AS min_pk, MAX(pk) AS max_pk
        |FROM f GROUP BY 1 ORDER BY 1""".stripMargin
    ) { (s, d) =>
      val z = spread(col("l_orderkey"))
        .bitwiseOR(shiftleft(spread(col("l_partkey")), 1))
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_partkey"), z.as("z"))
        .groupBy(shiftright(col("z"), 22).as("zbucket"))
        .agg(count(lit(1)).as("n"),
          min(col("l_orderkey")).as("min_ok"), max(col("l_orderkey")).as("max_ok"),
          min(col("l_partkey")).as("min_pk"), max(col("l_partkey")).as("max_pk"))
        .orderBy(col("zbucket"))
    }
  }

  /** Deterministic denoising-objective mask prep (p22) — the T5-style
    * "mask ~15% of tokens" step, made reproducible (and exactly
    * oracle-able) by deriving each position's coin flip from an LCG
    * over (doc_id, position) instead of an RNG: position i of doc d is
    * masked iff ((1103515245·((d·65536 + i) mod 2³¹) + 12345) mod 2³¹)
    * mod 100 < 15. Every worker computes the same mask for the same
    * shard on any cluster, any partitioning, any retry — the property
    * that matters when a 100 TB preprocessing job is resumed.
    * Intermediate products stay < 2⁶² (the key is reduced mod 2³¹
    * first), so the arithmetic is overflow-free in both engines.
    *
    * Output: per-doc token/mask counts, the masked positions
    * themselves, and the realized mask rate. Pure per-row map
    * (higher-order filter over a sequence — no UDF, no exchange). */
  val lossMask: QueryEntry = QueryEntry(
    "p22_loss_mask",
    """WITH t AS (SELECT doc_id, LEN(string_split(text, ' ')) AS n_tokens,
      |                  list_filter(range(0, LEN(string_split(text, ' '))),
      |                    i -> ((1103515245 * ((doc_id * 65536 + i) % 2147483648)
      |                           + 12345) % 2147483648) % 100 < 15) AS pos
      |           FROM documents)
      |SELECT doc_id, n_tokens, LEN(pos) AS n_masked,
      |       COALESCE(array_to_string(pos, ','), '') AS mask_positions,
      |       CAST(LEN(pos) AS DOUBLE) / n_tokens AS mask_rate
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_tokens"),
        expr("""filter(sequence(cast(0 as bigint),
                                cast(size(split(text, ' ')) - 1 as bigint)),
                 i -> ((1103515245L * ((doc_id * 65536L + i) % 2147483648L)
                        + 12345L) % 2147483648L) % 100 < 15)""").as("pos"))
      .select(col("doc_id"), col("n_tokens"),
        size(col("pos")).as("n_masked"),
        // comma-joined (not an array column): the verification harness
        // canonicalizes result sets through a pandas sort, which cannot
        // order array cells — string form is byte-identical across both
        // engines and keeps the entry hashable end-to-end
        array_join(col("pos"), ",").as("mask_positions"),
        (size(col("pos")).cast("double") / col("n_tokens")).as("mask_rate"))
      .orderBy(col("doc_id"))
  }

  /** Deterministic weight-proportional source interleave (p23) —
    * stride scheduling for the training dataloader: each source s with
    * n_s docs emits its r-th doc at virtual time
    * (2r+1)·10⁹ div (2·n_s) — the exact-integer form of (r+½)/n_s,
    * which orders identically to classic stride scheduling's
    * (r+½)/share (share = n_s/N; the two differ by the constant factor
    * N, which cannot reorder anything). Sorting by that key yields a
    * mixture-faithful round-robin — every prefix of the schedule
    * contains each source in ≈ its corpus proportion, with no RNG and
    * no epoch boundary artifacts. The entry emits the first 200
    * schedule positions (the bounded prefix a resuming dataloader
    * would replay); keys are pure integer arithmetic, so the schedule
    * is identical on any cluster. Overflow headroom: the largest
    * intermediate is (2·n_s+1)·10⁹ < 2⁶³ for any source below ~4.6
    * BILLION documents (the previous form multiplied by the corpus
    * total as well and overflowed at ~10⁵ docs/source — inside
    * `Harness proof`'s own 100× regime); sub-slot ties beyond 5·10⁸ docs
    * per source fall back to the deterministic (source, doc_id)
    * tiebreak.
    *
    * Scale: per-source ranks come from source-partitioned windows
    * (p14's in-shard-rank discipline — source count bounds the
    * parallelism of that one pass); the global prefix is a TopN, never
    * a total sort. The final 200-row position window is O(prefix). */
  val epochInterleave: QueryEntry = QueryEntry(
    "p23_epoch_interleave",
    """WITH sc AS (SELECT source, COUNT(*) AS ns FROM documents GROUP BY 1),
      |r AS (SELECT doc_id, source,
      |             ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) - 1 AS rk
      |      FROM documents),
      |k AS (SELECT r.doc_id, r.source,
      |             CAST(((2 * r.rk + 1) * 1000000000)
      |                  // (2 * sc.ns) AS BIGINT) AS vtime
      |      FROM r JOIN sc USING (source))
      |SELECT doc_id, source, vtime,
      |       ROW_NUMBER() OVER (ORDER BY vtime, source, doc_id) AS pos
      |FROM k ORDER BY pos LIMIT 200""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).select(col("doc_id"), col("source"))
    val sc = docs.groupBy(col("source")).agg(count(lit(1)).as("ns"))
    val r = docs.withColumn("rk", row_number().over(
      Window.partitionBy(col("source")).orderBy(col("doc_id"))) - 1)
    val prefix = r.join(broadcast(sc), Seq("source"))
      .select(col("doc_id"), col("source"),
        // rk is row_number()'s IntegerType — widen before the doubling so
        // the headroom claim (sources up to ~4.6e9 docs) actually holds;
        // in Int the arithmetic would diverge from the BIGINT oracle at
        // 2^31 docs/source
        expr("((2 * cast(rk as bigint) + 1) * 1000000000L) div (2 * ns)").as("vtime"))
      .orderBy(col("vtime"), col("source"), col("doc_id"))
      .limit(200)
    prefix
      .withColumn("pos", row_number().over(
        Window.orderBy(col("vtime"), col("source"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("source"), col("vtime"), col("pos"))
      .orderBy(col("pos"))
  }

  /** Cross-source contamination matrix (p24) — the corpus-level
    * leakage audit run before a source may serve as held-out eval
    * data: for every ordered source pair (a, b), how many of a's
    * distinct word 5-gram shingles also occur in b, and what fraction
    * of a that is. High frac(a→b) means source a is NOT independent
    * of b (mirrored crawls, syndicated text) and can't validate a
    * model trained on b.
    *
    * Scale: shingles travel as sha256 digests; ONE groupBy(digest)
    * folds each gram's source set map-side (collect_set is bounded by
    * the source catalog, ~10²–10³ named datasets, not by corpus
    * size), pair expansion explodes only per-gram source sets, and
    * per-source denominators ride the same aggregate — no gram↔gram
    * join, nothing quadratic in documents. */
  val sourceOverlap: QueryEntry = QueryEntry(
    "p24_source_overlap",
    """WITH w AS (SELECT source, string_split(text, ' ') AS ws FROM documents),
      |g0 AS (SELECT source, unnest(list_transform(range(1, greatest(len(ws) - 3, 1)),
      |          i -> sha256(array_to_string(ws[i:i+4], ' ')))) AS sh FROM w),
      |g AS (SELECT DISTINCT source, sh FROM g0),
      |na AS (SELECT source, COUNT(*) AS n_grams FROM g GROUP BY 1),
      |o AS (SELECT a.source AS src_a, b.source AS src_b, COUNT(*) AS n_overlap
      |      FROM g a JOIN g b USING (sh) WHERE a.source <> b.source GROUP BY 1, 2)
      |SELECT src_a, src_b, n_grams, n_overlap,
      |       CAST(n_overlap AS DOUBLE) / n_grams AS frac
      |FROM o JOIN na ON na.source = o.src_a
      |ORDER BY src_a, src_b""".stripMargin
  ) { (s, d) =>
    // spread + checkpoint (r20): the 5-gram sha256 explode ran in one
    // task off the one-split local scan, TWICE (the per-gram source-set
    // aggregate and the per-source denominator both read `g`
    // un-materialized — 1.3 + 1.1 s single-task jobs, most of p24's
    // profile); the checkpoint holds the narrow (source, digest) rows
    val g = Tables.spread(Tables.documents(s, d), col("doc_id")).select(col("source"),
      explode(when(size(ws) >= 5, expr(
          "zip_with(zip_with(zip_with(zip_with(" +
            "slice(split(text, ' '), 1, size(split(text, ' ')) - 4), " +
            "slice(split(text, ' '), 2, size(split(text, ' ')) - 4), (a, b) -> concat(a, ' ', b)), " +
            "slice(split(text, ' '), 3, size(split(text, ' ')) - 4), (x, c) -> concat(x, ' ', c)), " +
            "slice(split(text, ' '), 4, size(split(text, ' ')) - 4), (x, d) -> concat(x, ' ', d)), " +
            "slice(split(text, ' '), 5, size(split(text, ' ')) - 4), (x, e) -> sha2(concat(x, ' ', e), 256))"))
        .otherwise(array().cast("array<string>"))).as("sh"))
      .distinct()
      .localCheckpoint()
    val bySh = g.groupBy(col("sh"))
      .agg(collect_set(col("source")).as("srcs"))
    val pairs = bySh
      .select(explode(col("srcs")).as("src_a"), col("srcs"))
      .select(col("src_a"), explode(col("srcs")).as("src_b"))
      .filter(col("src_a") =!= col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_overlap"))
    val na = g.groupBy(col("source")).agg(count(lit(1)).as("n_grams"))
    pairs.join(broadcast(na), col("src_a") === col("source"))
      .select(col("src_a"), col("src_b"), col("n_grams"), col("n_overlap"),
        (col("n_overlap").cast("double") / col("n_grams")).as("frac"))
      .orderBy(col("src_a"), col("src_b"))
  }

  /** Governed-ingest capstone (p25) — the r13 lakehouse + dedup pieces
    * composed into the pipeline a production corpus actually runs,
    * end-to-end and EXACTLY oracled:
    *
    *  1. the accepted corpus lives in a VERSIONED table (history =
    *     doc_id % 10 < 8 at v1, bloom sidecars on doc_id);
    *  2. each arriving batch (% 10 == 8, then == 9) is probed against
    *     the PERSISTED MinHash band index of everything accepted so
    *     far (d23's DPP-pruned probe) and only NOVEL documents (no
    *     verified match ≥ 0.35) are admitted;
    *  3. admission is an EXACTLY-ONCE idempotent append — the entry
    *     applies every batch TWICE (the crash-replay interleaving) and
    *     the `#txn` ledger makes the replay a no-op;
    *  4. the index absorbs each admitted batch incrementally (append,
    *     zero existing files touched — the CDF stream's posture,
    *     stream-equivalence gated in CdfIndexSpec);
    *  5. a takedown DELETE by id list runs through the bloom point
    *     channel before the final state is read.
    *
    * The oracle replays the whole admission cascade from the same
    * deterministic hashes: stage-1 novelty vs history, stage-2 novelty
    * vs history ∪ stage-1 admissions, minus the takedown ids. Every
    * stage is the exact construction its standalone entry oracles
    * (d23 / l12 / l13), so the composition is hash-gated, not merely
    * plumbing-tested. */
  val governedIngest: QueryEntry = QueryEntry(
    "p25_governed_ingest",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)),
       |         i -> ws[i] || '_' || ws[i+1]))) AS s FROM d),
       |${XxhOracle.minhashSigCtes("doc_id", 32)},
       |${XxhOracle.minhashPairCtes("doc_id", 32, "0.25")},
       |xp AS (SELECT a_doc_id AS x, b_doc_id AS y, jaccard FROM jac
       |       UNION ALL
       |       SELECT b_doc_id, a_doc_id, jaccard FROM jac),
       |m1 AS (SELECT DISTINCT y AS doc_id FROM xp
       |       WHERE x % 10 < 8 AND y % 10 = 8 AND jaccard >= 0.35),
       |nov1 AS (SELECT doc_id FROM documents
       |         WHERE doc_id % 10 = 8
       |           AND doc_id NOT IN (SELECT doc_id FROM m1)),
       |acc1 AS (SELECT doc_id FROM documents WHERE doc_id % 10 < 8
       |         UNION ALL SELECT doc_id FROM nov1),
       |m2 AS (SELECT DISTINCT y AS doc_id FROM xp
       |       JOIN acc1 ON xp.x = acc1.doc_id
       |       WHERE y % 10 = 9 AND jaccard >= 0.35),
       |nov2 AS (SELECT doc_id FROM documents
       |         WHERE doc_id % 10 = 9
       |           AND doc_id NOT IN (SELECT doc_id FROM m2)),
       |fin AS (SELECT doc_id FROM acc1 UNION ALL SELECT doc_id FROM nov2)
       |SELECT doc_id FROM fin WHERE doc_id NOT IN (4, 24)
       |ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val scratch = "/dev/shm/graftcat/gov_" + d.replaceAll("[^a-zA-Z0-9]", "_")
    new java.io.File(scratch).mkdirs()
    val prevRoot = s.conf.getOption("spark.sql.graft.root")
    s.conf.set("spark.sql.graft.root", scratch)
    s.conf.set("spark.sql.graft.bloom.columns", "doc_id")
    try {
      val idx = Similarity.indexDir(s, "p25", d)
      val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
      docs.filter(col("doc_id") % 10 < 8).createOrReplaceTempView("gov_src")
      s.sql("DROP TABLE IF EXISTS psql.tpcds.docsgov")
      s.sql("""CREATE TABLE psql.tpcds.docsgov
              |TBLPROPERTIES('versioned'='true')
              |AS SELECT /*+ REPARTITION(4) */ * FROM gov_src""".stripMargin)
      val tableDir = s"$scratch/docsgov.parquet"
      Dedup.buildBandIndex(s, docs.filter(col("doc_id") % 10 < 8), idx)
      val admit = graft.streaming.DocsStreaming
        .idempotentAppendSink(tableDir, "govwriter")
      var batchId = 0L
      Seq(8, 9).foreach { residue =>
        val batch = docs.filter(col("doc_id") % 10 === residue)
        // localCheckpoint AFTER the probe: the admitted set feeds the
        // exactly-once sink TWICE (the crash-replay double-apply) and
        // the index append — without it each consumer re-runs the
        // whole shingle+minhash+probe pipeline (the r13 p25 floor was
        // ~3 probe evaluations per batch). The probe's own DPP is
        // unaffected: it fires inside the ONE evaluation that
        // materializes the checkpoint (the no-checkpoint rule guards
        // the probe's INTERNAL plan, not its consumers).
        val novel = Dedup.probeBandIndex(s, idx, docs, batch)
          .filter(col("novel"))
          .select(col("doc_id"))
          .join(docs, Seq("doc_id"))
          .localCheckpoint()
        admit(novel, batchId); admit(novel, batchId) // crash replay
        Dedup.buildBandIndex(s, novel, idx, append = true)
        batchId += 1
      }
      s.sql("DELETE FROM psql.tpcds.docsgov WHERE doc_id IN (4, 24)")
      s.sql("SELECT doc_id FROM psql.tpcds.docsgov ORDER BY doc_id")
    } finally {
      s.conf.unset("spark.sql.graft.bloom.columns")
      prevRoot match {
        case Some(v) => s.conf.set("spark.sql.graft.root", v)
        case None => s.conf.unset("spark.sql.graft.root")
      }
    }
  }

  val all: Seq[QueryEntry] =
    Seq(decontaminate, stratifiedSample, packSequences, repetitionScore,
      mixtureStats, mixtureSample, vocabBuild, bpeTrain, bpeEncode,
      qualityFunnel, mixtureTemperature, pipelineCompose, pipelineFull,
      globalShuffle, tokenBudget, dsirWeights, curriculum, chunkSplit,
      datasetCard, multimodalPack, zorderLayout, lossMask, epochInterleave,
      sourceOverlap, governedIngest)
}
