package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.GraftBridge.materialize
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the
  * training-data-pipeline surface beyond the reference's SQL parity
  * (builder brief; SURVEY.md §7.6). All hot paths are built from
  * codegen'd `functions._` / higher-order array functions — no UDFs —
  * so they stay inside whole-stage codegen and scale linearly with
  * input splits (no shuffle except the final ORDER BY on small output).
  */
object TextAnalysis {

  /** Quality scoring: length, word count, stopword ratio, composite
    * score. Pure per-row projection — pushes column pruning to the scan
    * and runs map-side only. */
  val quality: QueryEntry = QueryEntry(
    "t01_text_quality",
    """SELECT doc_id,
      |       LENGTH(text) AS len_chars,
      |       LEN(string_split(text, ' ')) AS n_words,
      |       CAST(LEN(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
      |         / LEN(string_split(text, ' ')) AS stop_ratio,
      |       0.5 * LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 100, 1.0)
      |         + 0.5 * (1 - CAST(LEN(list_filter(string_split(text, ' '), w -> w IN ('the', 'a'))) AS DOUBLE)
      |                      / LEN(string_split(text, ' '))) AS quality
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("words", split(col("text"), " "))
      .withColumn("n_words", size(col("words")))
      .withColumn("n_stop",
        size(expr("filter(words, w -> w IN ('the', 'a'))")))
      .select(col("doc_id"),
        length(col("text")).as("len_chars"),
        col("n_words"),
        (col("n_stop").cast("double") / col("n_words")).as("stop_ratio"),
        (lit(0.5) * least(col("n_words").cast("double") / 100, lit(1.0))
          + lit(0.5) * (lit(1) - col("n_stop").cast("double") / col("n_words"))).as("quality"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens, regex word tokens, and a
    * BPE-ish upper bound (ceil(len/4) subword units per word). */
  val tokenStats: QueryEntry = QueryEntry(
    "t02_token_stats",
    """SELECT doc_id,
      |       LEN(string_split(text, ' ')) AS ws_tokens,
      |       LEN(regexp_extract_all(text, '[a-z0-9]+')) AS re_tokens,
      |       CAST(list_sum(list_transform(string_split(text, ' '), w -> (LENGTH(w) + 3) // 4)) AS BIGINT) AS bpe_tokens
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z0-9]+', 0)")).as("re_tokens"),
        expr("aggregate(split(text, ' '), 0L, (acc, w) -> acc + (length(w) + 3) div 4)")
          .as("bpe_tokens"))
      .orderBy(col("doc_id"))
  }

  /** Language ID by corpus-derived character-trigram profiles: per-lang
    * top-K trigram profile scored against each doc's trigrams. The
    * output is a heuristic PREDICTION, but the computation is a pure
    * integer-ranked pipeline (document-frequency counts, rank
    * tiebreaks, 31−rk scores, argmax with full tiebreakers) — so since
    * r11 the DuckDB mirror replays it exactly: training sample,
    * profile ranks, scores, and argmax are all hash-gated.
    * QualityGatesSpec's separable-corpus accuracy gate unchanged. */
  val langId: QueryEntry = QueryEntry(
    "t03_lang_id",
    """WITH tri AS (SELECT doc_id, lang, unnest(list_distinct(list_transform(
      |       range(1, greatest(length(text) - 2, 1) + 1),
      |       i -> substr(text, i, 3)))) AS tg
      |     FROM documents),
      |prof AS (SELECT lang AS p_lang, tg, rk FROM (
      |    SELECT lang, tg,
      |           ROW_NUMBER() OVER (PARTITION BY lang
      |                              ORDER BY COUNT(*) DESC, tg) AS rk
      |    FROM tri WHERE doc_id % 5 = 0 GROUP BY lang, tg) WHERE rk <= 30),
      |scored AS (SELECT doc_id, p_lang, SUM(31 - rk) AS score
      |    FROM tri JOIN prof USING (tg) GROUP BY 1, 2),
      |best AS (SELECT doc_id, p_lang AS lang_pred FROM (
      |    SELECT doc_id, p_lang, score,
      |           ROW_NUMBER() OVER (PARTITION BY doc_id
      |                              ORDER BY score DESC, p_lang) AS rn
      |    FROM scored) WHERE rn = 1)
      |SELECT b.doc_id, b.lang_pred, d.lang,
      |       CASE WHEN b.lang_pred = d.lang THEN 1 ELSE 0 END AS correct
      |FROM best b JOIN documents d USING (doc_id) ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d)
    // per-doc-distinct trigrams map-side (array_distinct before explode):
    // profiles become document-frequency based and the scoring side needs
    // no extra distinct() shuffle.
    // (r20 negative result: checkpointing this relation so the profile
    // and scoring passes share ONE trigram explode measured flat
    // isolated — materializing the corpus-sized trigram rows costs what
    // the saved 0.2-corpus training explode saves, and at 100 TB the
    // materialization is the riskier side. Left as two explodes.)
    val tri = docs.select(col("doc_id"), col("lang"),
      explode(array_distinct(expr(
        "transform(sequence(1, greatest(length(text) - 2, 1)), i -> substring(text, i, 3))"))).as("tg"))
    // per-language top-30 trigrams = the "model"; langs*30 rows → broadcast.
    // Trained on a 1-in-5 document sample: profile ranks are stable under
    // sampling and the training explode drops to 20% of the corpus.
    val profile = tri.filter(col("doc_id") % 5 === 0)
      .groupBy(col("lang"), col("tg")).count()
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY lang ORDER BY count DESC, tg)"))
      .filter(col("rk") <= 30)
      .select(col("lang").as("p_lang"), col("tg"), col("rk"))
    val scored = tri.select(col("doc_id"), col("tg"))
      .join(broadcast(profile), Seq("tg"))
      .groupBy(col("doc_id"), col("p_lang"))
      .agg(sum(lit(31) - col("rk")).as("score"))
    scored.withColumn("rn", expr(
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, p_lang)"))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("p_lang").as("lang_pred"), col("score"))
      .join(Tables.documents(s, d).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("correct", (col("lang_pred") === col("lang")).cast("int"))
      .select(col("doc_id"), col("lang_pred"), col("lang"), col("correct"))
      .orderBy(col("doc_id"))
  }

  /** Document fingerprinting: rolling rotate-xor hash over words, each
    * word hashed with seed-0 XXH64 (graft.functions.TrinoFunctions).
    * Shift/xor arithmetic never overflows, so it stays deterministic
    * under ANSI mode. Oracled: the DuckDB mirror computes the word
    * hashes itself ([[XxhOracle]]) and replays the positional rotl-5
    * xor fold via list_reduce over the per-doc ordered hash list. */
  val fingerprint: QueryEntry = QueryEntry(
    "t04_fingerprint",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |${XxhOracle.wordHashCtes},
       |t AS (SELECT doc_id, i, ws[i] AS w
       |      FROM d, unnest(range(1, len(ws) + 1)) u(i)),
       |hp AS (SELECT doc_id, i, h FROM t JOIN wh USING (w)),
       |l AS (SELECT doc_id, list(h ORDER BY i) AS hs FROM hp GROUP BY 1),
       |r AS (SELECT doc_id,
       |        list_reduce(list_prepend(0::HUGEINT, hs),
       |          (acc, x) -> xor(
       |            CAST(((acc % 576460752303423488::HUGEINT) * 32::HUGEINT
       |                  + acc // 576460752303423488::HUGEINT) AS UBIGINT),
       |            CAST(x AS UBIGINT))::HUGEINT) AS fp
       |      FROM l)
       |SELECT doc_id,
       |       CAST(CASE WHEN fp >= 9223372036854775808::HUGEINT
       |            THEN fp - 18446744073709551616::HUGEINT
       |            ELSE fp END AS BIGINT) AS fp
       |FROM r ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    graft.functions.TrinoFunctions.register(s)
    Tables.documents(s, d)
      .select(col("doc_id"),
        expr("aggregate(split(text, ' '), 0L, (acc, w) -> " +
          "(shiftleft(acc, 5) | shiftrightunsigned(acc, 59)) ^ trino_xxhash64(w))")
          .as("fp"))
      .orderBy(col("doc_id"))
  }

  /** Per-doc top terms by a tf·(N/df) salience score — TF-IDF with a
    * rational idf (no transcendental log, so the score is the same
    * IEEE double in any engine; ties are exact and break by term). */
  val tfidfTopTerms: QueryEntry = QueryEntry(
    "t05_tfidf_topterms",
    """WITH tf AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |tfc AS (SELECT doc_id, w, COUNT(*) AS tf FROM tf GROUP BY 1, 2),
      |df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM tf GROUP BY 1),
      |n AS (SELECT COUNT(*) AS n FROM documents),
      |scored AS (
      |  SELECT doc_id, w, (CAST(tf AS DOUBLE) * (SELECT n FROM n)) / df AS score
      |  FROM tfc JOIN df USING (w))
      |SELECT doc_id, w, rk FROM (
      |  SELECT doc_id, w, ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, w) AS rk
      |  FROM scored)
      |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin
  ) { (s, d) =>
    val words = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
    val tfc = words.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))
    val df = words.groupBy(col("w")).agg(countDistinct(col("doc_id")).as("df"))
    val nDf = Tables.documents(s, d).agg(count(lit(1)).cast("double").as("__n"))
    // The df table is the corpus vocabulary — GBs at 100 TB, so no
    // broadcast hint. Both sides re-shuffle on `w` (tfc's groupBy hash
    // partitions on (doc_id, w), which does NOT satisfy a join on `w`
    // alone); the win is avoiding a GB-scale broadcast, not shuffle
    // elision — and AQE still broadcasts when df genuinely fits.
    tfc.join(df, Seq("w"))
      .crossJoin(broadcast(nDf))
      .withColumn("score", (col("tf").cast("double") * col("__n")) / col("df"))
      .withColumn("rk", expr(
        "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, w)"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("w"), col("rk"))
      .orderBy(col("doc_id"), col("rk"))
  }

  /** Corpus-wide top bigrams — the n-gram counting backbone shared with
    * the MinHash shingles. */
  val topBigrams: QueryEntry = QueryEntry(
    "t06_top_bigrams",
    """WITH t AS (SELECT string_split(text, ' ') AS arr FROM documents),
      |b AS (SELECT unnest(list_transform(range(1, len(arr)), i -> arr[i] || '_' || arr[i+1])) AS bg FROM t)
      |SELECT bg, COUNT(*) AS n FROM b GROUP BY bg
      |ORDER BY n DESC, bg LIMIT 50""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 2)
      // slices bind once; an element_at(arr, i) lambda would re-split
      // the text per element (CollapseProject inlining — d13 scaladoc)
      .select(explode(expr(
        "zip_with(slice(arr, 1, size(arr) - 1), slice(arr, 2, size(arr) - 1), (a, b) -> concat(a, '_', b))"))
        .as("bg"))
      .groupBy(col("bg")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("bg"))
      .limit(50)
  }

  /** Lateral/positional explode: tokens with positions (posexplode ≡
    * UNNEST WITH ORDINALITY). */
  val wordPositions: QueryEntry = QueryEntry(
    "t07_word_positions",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents WHERE doc_id < 10)
      |SELECT doc_id, CAST(pos AS INTEGER) AS pos, arr[pos + 1] AS w
      |FROM t, UNNEST(range(len(arr))) AS u(pos)
      |ORDER BY doc_id, pos""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .filter(col("doc_id") < 10)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .orderBy(col("doc_id"), col("pos"))
  }

  /** Normalization pipeline: lowercase → strip non-alphanumerics →
    * collapse whitespace → trim; the canonical-form step before exact
    * dedup. */
  val normalize: QueryEntry = QueryEntry(
    "t08_normalize",
    """SELECT doc_id,
      |       trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
          .as("norm"))
      .orderBy(col("doc_id"))
  }

  /** Pairwise document cosine over sparse term-frequency vectors via
    * the inverted index — dot products distribute over terms (one
    * shuffle on the term key, partial map-side sums), never
    * materializing a dense matrix. Counts are integers, so dot and
    * norms are exact and the cosine is the same IEEE double in both
    * engines; the ≥ 0.8 threshold filter is therefore safe. At corpus
    * scale, prefix-filter the index (PPJoin) and keep the bounded
    * probe side — the formulation is unchanged. */
  val tfCosinePairs: QueryEntry = QueryEntry(
    "t09_tf_cosine_pairs",
    """WITH tf AS (SELECT doc_id, w, COUNT(*) AS tf
      |            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents)
      |            GROUP BY 1, 2),
      |nrm AS (SELECT doc_id, SUM(tf * tf) AS n2 FROM tf GROUP BY doc_id),
      |dot AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, SUM(a.tf * b.tf) AS dp
      |        FROM tf a JOIN tf b ON a.w = b.w
      |        WHERE a.doc_id < 100 AND b.doc_id > a.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id, dp / (sqrt(na.n2) * sqrt(nb.n2)) AS cos
      |FROM dot JOIN nrm na ON a_id = na.doc_id JOIN nrm nb ON b_id = nb.doc_id
      |WHERE dp / (sqrt(na.n2) * sqrt(nb.n2)) >= 0.8
      |ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    // the inverted index is read four times (dot product, probe side,
    // both norm lookups) and is O(corpus terms), the persisted-index
    // posture the scaladoc argues. spread (r20): AQE coalesces the
    // small local index to ONE partition, so the corpus-side
    // dot-product join+agg — t09's whole cost — ran in one task (2.0 s
    // of the 2.9 s profile); re-spreading the materialized blocks is a
    // tiny shuffle and the identity at scale (Tables.spread)
    val tf = Tables.spread(
      materialize(Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("tf"))),
      col("doc_id"), col("w"))
    val nrm = tf.groupBy(col("doc_id")).agg(sum(col("tf") * col("tf")).as("n2"))
    // the PROBE side is bounded by construction (the scaladoc's PPJoin
    // posture) — broadcast it so the full corpus-side index streams
    // map-side instead of shuffling every (doc, term) row on `w`
    val dot = broadcast(tf.as("a").filter(col("doc_id") < 100))
      .join(tf.as("b"), col("a.w") === col("b.w") && col("b.doc_id") > col("a.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dp"))
    dot.join(nrm.as("na"), col("a_id") === col("na.doc_id"))
      .join(nrm.as("nb"), col("b_id") === col("nb.doc_id"))
      .withColumn("cos", col("dp") / (sqrt(col("na.n2")) * sqrt(col("nb.n2"))))
      .filter(col("cos") >= 0.8)
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Lexical rank scoring against the corpus-derived vocabulary
    * (Pipeline.vocab, p07's model): per document, the out-of-vocabulary
    * ratio and the mean frequency rank of in-vocabulary words — the
    * unigram-statistics quality filter (spam and boilerplate sit far
    * from the corpus's rank profile; a rational mean keeps the score
    * engine-exact where a log-surprisal would drift in the last ulp).
    *
    * At scale: the vocabulary is lexicon-bounded, so the word→rank join
    * is a broadcast against the exploded corpus (map-side, no shuffle
    * of words); only (doc_id, rank) aggregates. */
  val rankScore: QueryEntry = QueryEntry(
    "t10_rank_score",
    """WITH c AS (SELECT unnest(string_split(text, ' ')) AS w FROM documents),
      |f AS (SELECT w, COUNT(*) AS n FROM c GROUP BY 1 HAVING COUNT(*) >= 5),
      |v AS (SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, w) - 1 AS BIGINT) AS token_id, w FROM f),
      |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |j AS (SELECT dw.doc_id, v.token_id FROM dw LEFT JOIN v USING (w))
      |SELECT doc_id, COUNT(*) AS n_words,
      |       CAST(SUM(CASE WHEN token_id IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS oov_ratio,
      |       CASE WHEN COUNT(token_id) = 0 THEN NULL
      |            ELSE CAST(SUM(token_id) AS DOUBLE) / COUNT(token_id) END AS mean_rank
      |FROM j GROUP BY 1 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val v = Pipeline.vocab(s, d).select(col("w"), col("token_id"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .join(broadcast(v), Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"),
        (sum(when(col("token_id").isNull, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("oov_ratio"),
        when(count(col("token_id")) === 0, lit(null).cast("double"))
          .otherwise(sum(col("token_id")).cast("double") / count(col("token_id")))
          .as("mean_rank"))
      .orderBy(col("doc_id"))
  }

  /** Bigram-coverage fluency scoring (t11) — t10's unigram rank filter
    * lifted to a bigram language model with exact-rational statistics:
    * per document, the share of its adjacent word pairs that are
    * "common" in the corpus bigram table (count ≥ 5) and the mean
    * corpus frequency of its bigrams. Word-salad and shuffled
    * boilerplate score low on coverage even when every unigram is
    * in-vocabulary — the next signal a quality pipeline reaches for
    * after t01/t10 — and the rational mean keeps the score
    * engine-exact where log-probability LM scoring would drift in the
    * last ulp (the same determinism argument as t10).
    *
    * At scale: the bigram model is lexicon²-bounded in theory but
    * Zipf-truncated in practice (a min-count filter keeps the table
    * broadcastable; here the full table joins by shuffle on the bigram
    * key, the d02 inverted-index shape). Only (doc_id, count) pairs
    * aggregate; document text never crosses an exchange. */
  val bigramCoverage: QueryEntry = QueryEntry(
    "t11_bigram_coverage",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
      |           WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, unnest(list_transform(range(1, len(arr)),
      |              i -> arr[i] || '_' || arr[i+1])) AS b FROM t),
      |cf AS (SELECT b, COUNT(*) AS n FROM bg GROUP BY 1)
      |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(CASE WHEN cf.n >= 5 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*) AS coverage,
      |       CAST(SUM(cf.n) AS DOUBLE) / COUNT(*) AS mean_df
      |FROM bg JOIN cf USING (b)
      |GROUP BY 1 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val bg = Tables.documents(s, d)
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 2)
      .select(col("doc_id"), explode(expr(
        "zip_with(slice(arr, 1, size(arr) - 1), slice(arr, 2, size(arr) - 1), " +
          "(a, b) -> concat(a, '_', b))")).as("b"))
    val cf = bg.groupBy(col("b")).agg(count(lit(1)).as("n"))
    // no join hint ON PURPOSE: cf is corpus-derived, so its join
    // distribution must stay AQE's runtime-size-gated call — at mid
    // sizes the measured post-shuffle bytes dip under the broadcast
    // threshold and BHJ wins (0.60 s at sf0.1 vs 1.3-1.4 s forced
    // SMJ/SHJ); past the threshold AQE keeps the shuffle join this
    // scaladoc describes. The local-cluster[4] broadcast stall this
    // exposed is adjudicated in BENCH.md (SCALECURVE compute leg).
    bg.join(cf, Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(when(col("n") >= 5, 1).otherwise(0)).cast("double") /
          count(lit(1))).as("coverage"),
        (sum(col("n")).cast("double") / count(lit(1))).as("mean_df"))
      .orderBy(col("doc_id"))
  }

  /** Longest adjacent repeated-word run per document (t12) — the
    * degenerate-generation detector: a model (or scraper) stuck in a
    * loop emits "the the the …", which frequency-based signals (p04's
    * top-word share) dilute on long documents but a run-length scan
    * catches at any length. Gaps-and-islands: position minus the
    * per-(doc, word) rank is constant exactly along a consecutive run,
    * so runs fall out of one GROUP BY — no self-join, no quadratic
    * pass. Reports the max run, the word achieving it (ties:
    * lexicographic), and how many runs ≥ 2 the document has; all
    * integers, so the oracle is exact.
    *
    * At scale: words travel as narrow (doc_id, pos, w) rows through
    * the doc-keyed window exchange (the t07 shape — a document's
    * positions must co-locate, but documents spread freely); the run
    * table collapses map-side and everything after is O(runs), not
    * O(words). */
  val maxRun: QueryEntry = QueryEntry(
    "t12_max_run",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
      |p AS (SELECT doc_id, CAST(pos AS INTEGER) AS pos, arr[pos + 1] AS w
      |      FROM t, UNNEST(range(len(arr))) AS u(pos)),
      |g AS (SELECT doc_id, w,
      |             pos - ROW_NUMBER() OVER (PARTITION BY doc_id, w ORDER BY pos) AS grp
      |      FROM p),
      |r AS (SELECT doc_id, w, COUNT(*) AS run FROM g GROUP BY doc_id, w, grp),
      |best AS (SELECT doc_id, run AS max_run, w AS run_word FROM (
      |           SELECT doc_id, w, run,
      |                  ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY run DESC, w) AS rn
      |           FROM r) WHERE rn = 1),
      |stats AS (SELECT doc_id, CAST(SUM(CASE WHEN run >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_runs
      |          FROM r GROUP BY doc_id)
      |SELECT best.doc_id, max_run, run_word, n_runs
      |FROM best JOIN stats USING (doc_id) ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    // two branches over the run table, joined on doc_id. The argmax
    // branch's row_number() ≤ 1 plans a WindowGroupLimit (bounded
    // per-partition top-1 heap, no full sort) and the stats branch is
    // a plain long hash aggregate — measured 2.5 s on the 10× corpus.
    // The tempting single-pass fusions both lose: min(struct(-run, w))
    // and a fixed-width string-encoded min are immutable-buffer
    // aggregates, so they fall out of HashAggregateExec into
    // SortAggregate + full sorts of the exploded corpus (7.7 s and
    // 17.9 s at 10× respectively). The duplicated scan+explode is the
    // cheap part; the sorts are not.
    def runs = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
      .withColumn("grp", col("pos") - row_number().over(
        Window.partitionBy(col("doc_id"), col("w")).orderBy(col("pos"))))
      .groupBy(col("doc_id"), col("w"), col("grp"))
      .agg(count(lit(1)).as("run"))
    val best = runs
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("run").desc, col("w"))))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("run").as("max_run"), col("w").as("run_word"))
    val stats = runs.groupBy(col("doc_id"))
      .agg(sum(when(col("run") >= 2, 1).otherwise(0)).cast("long").as("n_runs"))
    best.join(stats, Seq("doc_id")).orderBy(col("doc_id"))
  }

  /** Lexical-diversity scoring (t13) — the vocabulary-richness signals
    * quality pipelines pair with frequency filters: type-token ratio
    * (distinct words / words) and hapax ratio (share of the document's
    * tokens whose word occurs exactly once IN THAT document). Template
    * spam and keyword stuffing crater TTR; boilerplate-heavy pages
    * crater hapax share; both survive t10/t11's corpus-frequency
    * filters because their words are individually common. All counts
    * are integers and each ratio is one division, so the oracle is
    * IEEE-exact with no rounding (the t05 rational-statistics rule).
    *
    * At scale: one shuffle on (doc_id, w) with map-side combine, then
    * a doc-keyed reaggregation of the already-collapsed type table —
    * rows shrink at every exchange, nothing is corpus-pairs. */
  val lexicalDiversity: QueryEntry = QueryEntry(
    "t13_lexical_diversity",
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |c AS (SELECT doc_id, w, COUNT(*) AS n FROM w GROUP BY 1, 2)
      |SELECT doc_id,
      |       CAST(SUM(n) AS BIGINT) AS n_tokens,
      |       COUNT(*) AS n_types,
      |       CAST(COUNT(*) AS DOUBLE) / SUM(n) AS ttr,
      |       CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE) / SUM(n) AS hapax_ratio
      |FROM c GROUP BY 1 ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        (count(lit(1)).cast("double") / sum(col("n"))).as("ttr"),
        (sum(when(col("n") === 1, 1).otherwise(0)).cast("double") /
          sum(col("n"))).as("hapax_ratio"))
      .orderBy(col("doc_id"))
  }

  /** PII-span redaction (t14) — the scrubbing pass every training
    * corpus takes before tokenization: e-mail addresses and long digit
    * runs are replaced with typed placeholders and counted per
    * document. The synthetic corpus carries no PII, so (the m02
    * ingest-synthesizer pattern) each document is first augmented with
    * a deterministic contact line derived from its id — every row then
    * exercises the positive path and the full redacted TEXT is
    * hash-verified against the oracle, not just zero counts. Patterns
    * stay in the Java∩RE2 common dialect (character classes + bounded
    * repetition, no \\b/lookaround) so both engines match identical
    * spans; Spark's regexp_replace is global by default = DuckDB's 'g'.
    *
    * At scale: map-only — no shuffle at all except the presentation
    * sort; codegen'd string kernels over each partition. */
  val redact: QueryEntry = QueryEntry(
    "t14_redact",
    """WITH aug AS (SELECT doc_id,
      |  text || ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com id ' ||
      |    CAST(doc_id * 997 AS VARCHAR) AS t
      |  FROM documents)
      |SELECT doc_id,
      |  LEN(regexp_extract_all(t, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
      |  LEN(regexp_extract_all(t, '[0-9]{6,}')) AS n_longnums,
      |  regexp_replace(regexp_replace(t,
      |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |    '[0-9]{6,}', '<NUM>', 'g') AS redacted
      |FROM aug ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val num = "[0-9]{6,}"
    Tables.documents(s, d)
      .withColumn("t", concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com id "),
        (col("doc_id") * 997).cast("string")))
      .select(col("doc_id"),
        size(expr(s"regexp_extract_all(t, '$email', 0)")).as("n_emails"),
        size(expr(s"regexp_extract_all(t, '$num', 0)")).as("n_longnums"),
        regexp_replace(regexp_replace(col("t"), email, "<EMAIL>"), num, "<NUM>")
          .as("redacted"))
      .orderBy(col("doc_id"))
  }

  /** Unigram-LM negative log-likelihood scoring (t15) — the CCNet /
    * Gopher-style "perplexity under a corpus LM" quality proxy:
    * score(d) = −(1/|d|) Σ_t ln p(t), p(t) = (c_t + 1)/(N + V)
    * (add-one smoothing over the corpus's own unigram counts).
    * Low-NLL documents are stuffed with corpus-typical words; high-NLL
    * documents are rare-word noise — the tails a quality funnel trims.
    *
    * Float discipline (the t05/t13 rational-statistics rule, extended):
    * summing ln p per document IEEE-exactly across engines is
    * impossible (addition order differs), so per-word logs are frozen
    * to fixed-point integers L_w = round(ln(c_w+1)·10⁶) once, and the
    * per-document reduction Σ m_w·L_w is exact 64-bit integer
    * arithmetic in any order. The only float ops are the shared
    * round(ln(x)·10⁶) per distinct count value (knife-edge only if
    * libm logs disagree within ~10⁻⁹ of a .5 boundary) and ONE final
    * division of exact integers — both engine-order-independent.
    *
    * At scale: shuffle 1 collapses tokens to (doc, word, m) with
    * map-side combine; shuffle 2 collapses to the O(V) count table;
    * the scoring join is (doc,word)⋈(word) — vocabulary-keyed, NOT
    * broadcast (V is corpus-proportional under heaps law; at 100 TB
    * it is GBs) — Zipf-hot words are exactly the skew AQE's skew-join
    * split handles, and the (N, V) totals travel as a 1-row broadcast.
    */
  val unigramNll: QueryEntry = QueryEntry(
    "t15_unigram_nll",
    """WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
      |dw AS (SELECT doc_id, w, COUNT(*) AS m FROM w GROUP BY 1, 2),
      |cw AS (SELECT w, CAST(SUM(m) AS BIGINT) AS c FROM dw GROUP BY 1),
      |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n_total, COUNT(*) AS v FROM cw),
      |k AS (SELECT CAST(round(ln(n_total + v) * 1000000) AS BIGINT) AS k FROM tot),
      |cl AS (SELECT w, CAST(round(ln(c + 1) * 1000000) AS BIGINT) AS lw FROM cw),
      |pd AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n_tokens,
      |              CAST(SUM(m * lw) AS BIGINT) AS sum_l
      |       FROM dw JOIN cl USING (w) GROUP BY 1)
      |SELECT doc_id, n_tokens,
      |       CAST(n_tokens * k - sum_l AS DOUBLE)
      |         / (CAST(n_tokens AS DOUBLE) * 1000000) AS nll_nats
      |FROM pd, k ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val dw = Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).as("m"))
    val cw = dw.groupBy(col("w")).agg(sum(col("m")).as("c"))
    val totals = cw.agg(sum(col("c")).as("n_total"), count(lit(1)).as("v"))
      .select(round(log(col("n_total") + col("v")) * 1000000)
        .cast("long").as("k"))
    val cl = cw.select(col("w"),
      round(log(col("c") + 1) * 1000000).cast("long").as("lw"))
    dw.join(cl, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n_tokens"),
        sum(col("m") * col("lw")).as("sum_l"))
      .crossJoin(broadcast(totals))
      .select(col("doc_id"), col("n_tokens"),
        ((col("n_tokens") * col("k") - col("sum_l")).cast("double")
          / (col("n_tokens").cast("double") * lit(1000000))).as("nll_nats"))
      .orderBy(col("doc_id"))
  }

  /** Flesch reading-ease scoring (t16) — readability as a corpus
    * quality signal, with a fully deterministic syllable heuristic
    * (vowel-group count per word, floor 1) so the score is exactly
    * oracle-able: score = 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/words), sentences = max(#[.!?], 1). Both engines
    * evaluate the identical expression tree over the identical integer
    * counts, so the doubles are bit-equal.
    *
    * Scale: embarrassingly parallel per-document map (split +
    * higher-order fold, no UDF, no exchange before the output sort) —
    * the cheapest possible shape; at 100 TB this runs at scan speed. */
  val readability: QueryEntry = QueryEntry(
    "t16_readability",
    """WITH t AS (
      |  SELECT doc_id,
      |         LEN(string_split(text, ' ')) AS n_words,
      |         GREATEST(LEN(regexp_extract_all(text, '[.!?]')), 1) AS n_sent,
      |         CAST(list_sum(list_transform(string_split(lower(text), ' '),
      |           w -> GREATEST(LEN(regexp_extract_all(w, '[aeiouy]+')), 1))) AS BIGINT) AS n_syl
      |  FROM documents)
      |SELECT doc_id, n_words, n_sent, n_syl,
      |       206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sent)
      |               - 84.6 * (CAST(n_syl AS DOUBLE) / n_words) AS flesch
      |FROM t ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(split(col("text"), " ")).as("n_words"),
        greatest(expr("regexp_count(text, '[.!?]')"), lit(1)).as("n_sent"),
        expr("""aggregate(transform(split(lower(text), ' '),
                 w -> greatest(regexp_count(w, '[aeiouy]+'), 1)),
               0L, (a, x) -> a + x)""").as("n_syl"))
      .select(col("doc_id"), col("n_words"), col("n_sent"), col("n_syl"),
        (lit(206.835)
          - lit(1.015) * (col("n_words").cast("double") / col("n_sent"))
          - lit(84.6) * (col("n_syl").cast("double") / col("n_words")))
          .as("flesch"))
      .orderBy(col("doc_id"))
  }

  /** Character-level Shannon entropy (t17) — the "is this text or
    * line noise?" quality signal (low entropy → repeated-char spam,
    * high → random bytes): H = ln(n) − (1/n)·Σ m_c·ln(m_c) over
    * per-doc character counts. t15's fixed-point discipline makes it
    * exactly oracle-able: per-count logs freeze to micro-nats
    * (round(ln·10⁶) — one knife-edge-free rounding per distinct count
    * value), the per-doc reduction is pure integer arithmetic in any
    * order, and ONE final rational division yields the double.
    *
    * Scale: (doc, char) cells collapse map-side (alphabet-bounded per
    * doc), then one groupBy(doc_id) over O(docs·alphabet) rows. */
  val charEntropy: QueryEntry = QueryEntry(
    "t17_char_entropy",
    """WITH ch AS (
      |  SELECT doc_id, unnest(list_filter(string_split(text, ''), x -> x <> '')) AS c
      |  FROM documents),
      |cc AS (SELECT doc_id, c, COUNT(*) AS m FROM ch GROUP BY 1, 2),
      |l AS (SELECT doc_id, m, CAST(round(ln(m) * 1000000) AS BIGINT) AS lm FROM cc),
      |d AS (SELECT doc_id, CAST(SUM(m) AS BIGINT) AS n,
      |             CAST(SUM(m * lm) AS BIGINT) AS s FROM l GROUP BY 1)
      |SELECT doc_id, n,
      |       CAST(n * CAST(round(ln(n) * 1000000) AS BIGINT) - s AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * 1000000) AS entropy_nats
      |FROM d ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(expr("filter(split(text, ''), x -> x != '')")).as("c"))
      .groupBy(col("doc_id"), col("c")).agg(count(lit(1)).as("m"))
      .select(col("doc_id"), col("m"),
        round(log(col("m")) * 1000000).cast("long").as("lm"))
      .groupBy(col("doc_id"))
      .agg(sum(col("m")).as("n"), sum(col("m") * col("lm")).as("s"))
      .select(col("doc_id"), col("n"),
        ((col("n") * round(log(col("n")) * 1000000).cast("long") - col("s"))
          .cast("double") / (col("n").cast("double") * lit(1000000)))
          .as("entropy_nats"))
      .orderBy(col("doc_id"))
  }

  /** Hashed-feature linear classifier inference (t18) — the
    * model-based quality-filter stage (fastText-style bag-of-words
    * scorer): each token hashes into one of 256 weight buckets
    * (first 16 bits of sha256, mod 256 — stable across engines), the
    * weight table is a 256-row broadcast relation (standing in for
    * trained weights; here derived by a fixed LCG so the oracle can
    * rebuild it), and a document's score is the sum of its tokens'
    * bucket weights in integer milli-units. `keep = score > 0` is the
    * filter decision.
    *
    * Scale: the weight table is O(vocab-buckets) and broadcasts — the
    * exact shape real classifier inference needs (weights ship to
    * executors once, never shuffle). Token rows reduce by doc_id with
    * map-side partial sums; integer milli-unit scores make the
    * reduction order-independent, so the result is hash-exact under
    * any partitioning. */
  val hashedClassifier: QueryEntry = QueryEntry(
    "t18_hashed_classifier",
    """WITH wt AS (
      |  SELECT CAST(b AS INTEGER) AS bucket,
      |         CAST((b * 1103515245 + 12345) % 2001 - 1000 AS BIGINT) AS w_milli
      |  FROM range(256) t(b)),
      |tok AS (
      |  SELECT doc_id,
      |         CAST(CAST('0x' || substr(sha256(w), 1, 4) AS INTEGER) % 256 AS INTEGER) AS bucket
      |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents))
      |SELECT doc_id, COUNT(*) AS n_tokens,
      |       CAST(SUM(w_milli) AS BIGINT) AS score_milli,
      |       SUM(w_milli) > 0 AS keep
      |FROM tok JOIN wt USING (bucket)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    val wt = s.range(256).toDF("b")
      .select(col("b").cast("int").as("bucket"),
        ((col("b") * 1103515245L + 12345L) % 2001L - 1000L).as("w_milli"))
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .select(col("doc_id"),
        (conv(substring(sha2(col("w"), 256), 1, 4), 16, 10).cast("int")
          % 256).as("bucket"))
      .join(broadcast(wt), Seq("bucket"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("w_milli")).as("score_milli"))
      .select(col("doc_id"), col("n_tokens"), col("score_milli"),
        (col("score_milli") > 0).as("keep"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryEntry] = Seq(
    quality, tokenStats, langId, fingerprint, tfidfTopTerms, topBigrams,
    wordPositions, normalize, tfCosinePairs, rankScore, bigramCoverage,
    maxRun, lexicalDiversity, redact, unigramNll, readability, charEntropy,
    hashedClassifier)
}
