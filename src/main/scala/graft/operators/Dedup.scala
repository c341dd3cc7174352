package graft.operators

import graft.{QueryEntry, Tables}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.GraftBridge.materialize
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.functions._

/** Deduplication operators over `documents` — exact, MinHash+LSH,
  * SimHash, n-gram Jaccard (builder brief: first-class training-data
  * pipeline components).
  *
  * Scale posture (100 TB): exact dedup shuffles 32-byte digests, never
  * documents; MinHash reduces each doc to a 32×8-byte signature and LSH
  * banding turns the quadratic all-pairs problem into an equi-join on
  * (band, bucket); the only quadratic work left is exact verification
  * *within* candidate buckets. */
object Dedup {

  /** Seed-parameterized XXH64 (Spark's codegen'd hash expression). */
  private def xxh(seed: Long, cols: Column*): Column =
    GraftBridge.column(XxHash64(cols.map(GraftBridge.expression), seed))

  /** Exact dedup by content digest: group on sha256(text), keep the
    * lowest doc_id. Shuffles only (digest, id) pairs — at 100 TB the
    * documents themselves never move. */
  val exact: QueryEntry = QueryEntry(
    "d01_dedup_exact",
    """SELECT sha256(text) AS digest, MIN(doc_id) AS keep_id, COUNT(*) AS dups
      |FROM documents GROUP BY 1 ORDER BY keep_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dups"))
      .orderBy(col("keep_id"))
  }

  /** Word-set (1-gram) Jaccard near-dup detection of a probe set
    * (doc_id < 100) against the corpus, via an inverted-index join on
    * words — the bounded-probe variant that stays linear in corpus
    * size. Full all-pairs goes through [[minhashLsh]]. */
  val wordJaccard: QueryEntry = QueryEntry(
    "d02_word_jaccard",
    """WITH ws AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
      |com AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |        FROM ws a JOIN ws b ON a.w = b.w
      |        WHERE a.doc_id < 100 AND b.doc_id > a.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id, common,
      |       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |FROM com JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
      |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.85
      |ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    // Inverted-index join on words: shuffles narrow (doc_id, word) rows
    // and counts per-pair matches with map-side partial aggregation.
    // Measured 2× faster than the broadcast+array_intersect alternative
    // (per-pair set construction dominates there), and it is the
    // formulation that scales out: at real corpus sizes the index join
    // plus a prefix filter (PPJoin-style) bounds the candidate space.
    // spread + materialize (r20): the distinct-word explode feeds three
    // consumers (sizes, probe, stream side), and each evaluation was
    // one task off the one-split scan (1.1 s job); O(corpus words)
    val ws = materialize(Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w")))
    val sz = ws.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // the bounded PROBE side broadcasts (r17): the corpus-side index
    // streams map-side instead of shuffling every (doc, word) row on
    // the hot `w` keys — measured faster here and the only shape that
    // survives stop-word key skew at corpus scale
    val a = broadcast(ws.filter(col("doc_id") < 100))
    val com = a.as("a").join(ws.as("b"),
        col("a.w") === col("b.w") && col("b.doc_id") > col("a.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    com.join(sz.as("sa"), col("a_id") === col("sa.doc_id"))
      .join(sz.as("sb"), col("b_id") === col("sb.doc_id"))
      .withColumn("jaccard",
        col("common").cast("double") / (col("sa.n") + col("sb.n") - col("common")))
      .filter(col("jaccard") >= 0.85)
      .select(col("a_id"), col("b_id"), col("common"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Shared shingle relation: distinct word 2-grams per doc. */
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesOf(Tables.documents(s, d))

  /** [[shingles]] over any (doc_id, text, …) relation — factored so
    * the composed pipeline (p13) can shingle its surviving documents
    * instead of the raw table. */
  private def shinglesOf(docs: DataFrame): DataFrame =
    docs
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 2)
      // zip_with over two pre-shifted slices: the array arguments bind
      // ONCE per row, where a lambda referencing `arr` (inlined by
      // CollapseProject to split(text)) would re-split the text per
      // element — per-document quadratic (see d13's scaladoc)
      .select(col("doc_id"), explode(array_distinct(expr(
        "zip_with(slice(arr, 1, size(arr) - 1), slice(arr, 2, size(arr) - 1), (a, b) -> concat(a, '_', b))")))
        .as("s"))

  /** MinHash + LSH near-dup candidates: 32 seed-varied XXH64 min-hashes
    * over 2-gram shingles, banded 16×2; candidate pairs from band-bucket
    * equi-joins are exact-verified by shingle intersection. Output: the
    * top-50 candidate pairs by true Jaccard. "Probabilistic" only in
    * recall, not in value — every hash is deterministic, so the DuckDB
    * mirror ([[XxhOracle]]) replays the whole pipeline exactly:
    * signatures (double-hashed permutations, signed minima), band
    * hashes (the chained two-long XxHash64), the est ≥ 0.25 signature
    * screen, and the exact Jaccard verification — candidate SET and
    * values both hash-gated since r11. */
  val minhashLsh: QueryEntry = QueryEntry(
    "d03_minhash_lsh",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)),
       |         i -> ws[i] || '_' || ws[i+1]))) AS s FROM d),
       |${XxhOracle.minhashSigCtes("doc_id", 32)},
       |${XxhOracle.minhashPairCtes("doc_id", 32, "0.25")}
       |SELECT a_doc_id AS a_id, b_doc_id AS b_id, jaccard FROM jac
       |ORDER BY jaccard DESC, a_id, b_id LIMIT 50""".stripMargin
  ) { (s, d) =>
    minhashVerifiedPairs(Tables.documents(s, d))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(50)
  }

  /** d03's full MinHash → LSH band → exact-verify pipeline over any
    * (doc_id, text, …) relation: verified pairs (a_id, b_id, jaccard)
    * with jaccard EXACT (shingle-intersection counted), unlimited —
    * callers order/limit (d03) or threshold-filter (p13's near-dup
    * removal stage). */
  /** LSH banding of a (doc_id, sig) relation: 2-row bands hashed with
    * the chained two-long XxHash64 — (doc_id, band, bh), the only
    * columns that cross an exchange. */
  private def bandedOf(sig: DataFrame, nSig: Int): DataFrame = {
    val bands = (0 until nSig / 2).map(b =>
      struct(lit(b).as("band"),
        xxh(0L, element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)).as("bh")))
    sig.select(col("doc_id"), explode(array(bands: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bh").as("bh"))
  }

  private[graft] def minhashVerifiedPairs(docs: DataFrame): DataFrame = {
    val nSig = 32
    val sh = shinglesOf(docs)
    // one grouped pass computes the 32-permutation signature via the
    // single-pass MinHashAggregate (2 hash evals per shingle instead of
    // 32 — the dominant cost at corpus scale) + set size; only
    // (doc_id, 32×8B sig, n) is materialized — the shingle sets
    // themselves never cross an exchange (round-2 fix: collect_set +
    // cache of full sets materialized the whole corpus content).
    // the signature table is read three times below: O(docs × 256 B)
    val sig = materialize(sh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAggregate.minhash_agg(col("s"), nSig).as("sig"),
        count(lit(1)).as("n")))
    // the banded relation carries ONLY (doc_id, band, bh) through the
    // exchange; signatures join back in for candidate pairs only
    val banded = bandedOf(sig, nSig)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"))
      .distinct()
    // estimate Jaccard from signature agreement, keep plausible pairs;
    // read three times below (candDocs, the common-count join, the
    // final left join), bounded by band collisions (pairs, not corpus)
    val plausible = materialize(cand
      .join(sig.select(col("doc_id").as("a_id"), col("sig").as("siga"), col("n").as("na")), "a_id")
      .join(sig.select(col("doc_id").as("b_id"), col("sig").as("sigb"), col("n").as("nb")), "b_id")
      .withColumn("est",
        size(expr("filter(zip_with(siga, sigb, (p, q) -> p = q), v -> v)")).cast("double") / nSig)
      .filter(col("est") >= 0.25)
      .select(col("a_id"), col("b_id"), col("na"), col("nb")))
    // exact verification restricted to the PLAUSIBLE PAIRS themselves:
    // expand each pair to its left doc's shingles (Σ|sh(a)| rows over
    // plausible pairs), then count which of those shingles the right
    // doc also has via a composite-key (b_id, s) join. Work is linear
    // in pair-side shingles and every join key embeds a doc id, so a
    // corpus-hot shingle ("the_fast" in most documents) never forms a
    // hot bucket — the earlier candidate-DOC self-join on bare `s`
    // generated all-pairs per shingle bucket and one stop-word 2-gram
    // put ~|candDocs|² rows on a single task (measured 70% of d03's
    // runtime at sf0.1).
    val candDocs = plausible.select(col("a_id").as("doc_id"))
      .union(plausible.select(col("b_id").as("doc_id")))
      .distinct()
    // r20: shingle only the CANDIDATE documents for verification — the
    // old `sh.join(candDocs)` joined after the explode, so the split +
    // distinct + shingle explode ran over the WHOLE corpus a second
    // time (the sig pass being the first); joining the doc table down
    // to candidates first makes verification work scale with the
    // candidate set, not the corpus (guide §1.2 "don't compute things
    // you throw away")
    val shc = shinglesOf(docs.join(candDocs, Seq("doc_id")))
    val common = shc.select(col("doc_id").as("a_id"), col("s"))
      .join(plausible.select(col("a_id"), col("b_id")), Seq("a_id"))
      .join(shc.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"))
    plausible.join(common, Seq("a_id", "b_id"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** 64-bit SimHash fingerprints: per-word XXH64, bit votes weighted by
    * term frequency, sign-aggregated per bit. One grouped aggregation —
    * no quadratic work. Fully oracled: the DuckDB mirror computes
    * seed-0 XXH64 itself ([[XxhOracle]]) and replays the same
    * vote/assemble arithmetic, so the compare is hash-exact. */
  val simhash: QueryEntry = QueryEntry(
    "d04_simhash",
    s"""WITH ${XxhOracle.simhashCtes}
       |SELECT doc_id, simhash FROM fs ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    simhashDf(s, d).orderBy(col("doc_id"))
  }

  private[graft] def simhashDf(s: SparkSession, d: String): DataFrame =
    // single-pass custom aggregate (functions.SimHashAggregate): one
    // shuffle on doc_id, 64-long buffers combined map-side — replaces
    // both a 64-column aggregate (huge codegen unit) and an
    // explode(64x) double-shuffle formulation
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .groupBy(col("doc_id"))
      .agg(graft.functions.SimHashAggregate.simhash_agg(col("w")).as("simhash"))

  /** SimHash near-dup pairs: 4×16-bit chunk banding (two fingerprints
    * within Hamming distance 3 must share ≥1 exact chunk), then exact
    * Hamming verification via bit_count(xor). Top-50 closest pairs.
    * Oracled end-to-end: the mirror rebuilds the fingerprints
    * ([[XxhOracle]]), re-derives the 16-bit chunks with unsigned
    * div/mod arithmetic, and replays the band join + Hamming TopN. */
  val simhashPairs: QueryEntry = QueryEntry(
    "d05_simhash_pairs",
    s"""WITH ${XxhOracle.simhashCtes},
       |ch AS MATERIALIZED (SELECT doc_id, simhash, ci,
       |         (((simhash::HUGEINT + 18446744073709551616::HUGEINT)
       |            % 18446744073709551616::HUGEINT)
       |          // (CASE ci WHEN 0 THEN 1::HUGEINT WHEN 1 THEN 65536::HUGEINT
       |              WHEN 2 THEN 4294967296::HUGEINT
       |              ELSE 281474976710656::HUGEINT END)) % 65536::HUGEINT AS cv
       |       FROM fs, unnest(range(0, 4)) t(ci)),
       |pairs AS (SELECT DISTINCT x.doc_id AS a_id, y.doc_id AS b_id,
       |            bit_count(xor(x.simhash, y.simhash)) AS hamming
       |          FROM ch x JOIN ch y
       |            ON x.ci = y.ci AND x.cv = y.cv AND x.doc_id < y.doc_id)
       |SELECT a_id, b_id, hamming FROM pairs
       |ORDER BY hamming, a_id, b_id LIMIT 50""".stripMargin
  ) { (s, d) =>
    val fp = simhashDf(s, d)
    val chunks = fp.select(col("doc_id"), col("simhash"),
      explode(array((0 until 4).map(i =>
        struct(lit(i).as("ci"),
          shiftrightunsigned(col("simhash"), 16 * i).bitwiseAND(lit(0xFFFFL)).as("cv"))): _*)).as("c"))
      .select(col("doc_id"), col("simhash"), col("c.ci").as("ci"), col("c.cv").as("cv"))
    chunks.as("x").join(chunks.as("y"),
        col("x.ci") === col("y.ci") && col("x.cv") === col("y.cv") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a_id"), col("y.doc_id").as("b_id"),
        bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("hamming"))
      .distinct()
      .orderBy(col("hamming"), col("a_id"), col("b_id"))
      .limit(50)
  }

  /** Embedding-cosine near-dup pairs over a probe set (vec_id < 50) —
    * exact double-precision cosine, formula mirrored verbatim in the
    * oracle (sequential left-to-right fold in both engines). The
    * all-pairs scale path is LSH bucketing (Similarity.annLsh). */
  val embedNearDup: QueryEntry = QueryEntry(
    "d06_embed_neardup",
    """WITH n AS (SELECT vec_id, embedding,
      |             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |           FROM embeddings)
      |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
      |       list_sum(list_transform(range(1, len(a.embedding) + 1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |         / (a.nrm * b.nrm) AS cos
      |FROM n a JOIN n b ON a.vec_id < 50 AND b.vec_id > a.vec_id
      |WHERE list_sum(list_transform(range(1, len(a.embedding) + 1),
      |            i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      |         / (a.nrm * b.nrm) >= 0.3
      |ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val a = e.select(col("vec_id").as("a_id"), col("embedding").as("ea"))
      .filter(col("a_id") < 50)
    val b = e.select(col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, col("b_id") > col("a_id"))
      .withColumn("cos",
        graft.functions.VectorFunctions.cosine_similarity(col("ea"), col("eb")))
      .filter(col("cos") >= 0.3)
      .select(col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Incremental dedup: new documents (second half) anti-joined against
    * the digest set of already-ingested documents (first half) — the
    * batch-over-batch shape of a continuously-fed pipeline; only
    * digests cross the exchange. */
  val incrementalDedup: QueryEntry = QueryEntry(
    "d07_incremental_dedup",
    """WITH seen AS (SELECT DISTINCT sha256(text) AS digest FROM documents WHERE doc_id < 250),
      |new AS (SELECT doc_id, sha256(text) AS digest FROM documents WHERE doc_id >= 250)
      |SELECT n.doc_id FROM new n
      |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.digest = n.digest)
      |ORDER BY n.doc_id""".stripMargin
  ) { (s, d) =>
    val docs = Tables.documents(s, d).withColumn("digest", sha2(col("text"), 256))
    val seen = docs.filter(col("doc_id") < 250).select(col("digest")).distinct()
    docs.filter(col("doc_id") >= 250)
      .join(seen, Seq("digest"), "left_anti")
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Bloom-pruned incremental dedup — d07's semantics (novel documents
    * of the second batch) with the plan a 100-TB ingest needs: the seen
    * set's content hashes aggregate into a COMPACT Bloom filter (KBs)
    * that broadcasts and prunes the incoming batch MAP-SIDE; only the
    * bloom-positive sliver (true dups + the filter's false-positive
    * rate) reaches the exact anti-join that disconfirms false
    * positives. Bloom-negatives are guaranteed novel (no false
    * negatives), so the output is EXACT — same oracle as d07 — while
    * the join input shrinks from the whole batch to ~|dups| + ε·|batch|
    * (vs d07, whose anti-join shuffles every incoming digest). Uses the
    * same BloomFilterAggregate/MightContain pair Spark's optimizer
    * injects for runtime join pruning, driven explicitly. */
  val bloomIncrementalDedup: QueryEntry = QueryEntry(
    "d12_bloom_incremental_dedup",
    """WITH seen AS (SELECT DISTINCT sha256(text) AS digest FROM documents WHERE doc_id < 250),
      |new AS (SELECT doc_id, sha256(text) AS digest FROM documents WHERE doc_id >= 250)
      |SELECT n.doc_id FROM new n
      |WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.digest = n.digest)
      |ORDER BY n.doc_id""".stripMargin
  ) { (s, d) =>
    import graft.functions.BloomFunctions.{bloom_agg, might_contain}
    val docs = Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .withColumn("h", xxh(0L, col("digest")))
    val seen = docs.filter(col("doc_id") < 250).select(col("digest"), col("h"))
    // might_contain requires the filter side as a CONSTANT — a scalar
    // subquery, evaluated once and inlined (the broadcast of a 1-row
    // sketch, by other means)
    val bf = seen.agg(bloom_agg(col("h"), 4096L, 32768L)).scalar()
    val flagged = Tables.documents(s, d)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))
      .filter(col("doc_id") >= 250)
      .withColumn("h", xxh(0L, col("digest")))
      .withColumn("hit", might_contain(bf, col("h")))
    val clearedMapSide = flagged.filter(!col("hit")).select(col("doc_id"))
    val disconfirmed = flagged.filter(col("hit"))
      .join(seen.select(col("digest")).distinct(), Seq("digest"), "left_anti")
      .select(col("doc_id"))
    clearedMapSide.union(disconfirmed).orderBy(col("doc_id"))
  }

  /** Winnowing fingerprints (the MOSS document-fingerprinting scheme):
    * hash every word 3-gram, slide a window of 4 hashes, keep each
    * window's minimum — guaranteeing any shared run of ≥ 6 words
    * between two documents shares a fingerprint, with ~2/(w+1) of
    * positions selected. The locality-sensitive substring-matching
    * primitive for contamination/plagiarism detection, complementing
    * t04 (whole-document rolling hash) and d03 (set-similarity
    * signatures). sha256 k-gram hashes make the winnowed minima
    * identical in any engine (lexicographic min over identical hex
    * strings) → exact oracle.
    *
    * Plan shape: k-gram hashes explode to (doc_id, pos, h) rows and
    * the window minimum is an incremental windowed `min` over
    * (doc_id, pos) — O(n·w) row-local work after ONE exchange on
    * doc_id. The tempting all-array formulation (a `transform` over
    * window starts calling `array_min(slice(hs, ...))`) is an O(n²)
    * HASHING trap: CollapseProject inlines the hs-building transform
    * into every window's lambda, so each window recomputes every
    * sha256 in the document (measured 90 s vs 3 s at sf0.1). Emitted
    * rows are (doc_id, 64-char fp), ~0.4 per word. */
  val winnowing: QueryEntry = QueryEntry(
    "d13_winnowing",
    """WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
      |k AS (SELECT doc_id, list_transform(range(1, len(arr) - 1),
      |             i -> sha256(array_to_string(arr[i:i+2], ' '))) AS hs
      |      FROM a WHERE len(arr) >= 3),
      |w AS (SELECT doc_id, CASE WHEN len(hs) >= 4
      |             THEN list_transform(range(1, len(hs) - 2), i -> list_min(hs[i:i+3]))
      |             ELSE [list_min(hs)] END AS wins FROM k)
      |SELECT DISTINCT doc_id, unnest(wins) AS fp FROM w
      |ORDER BY doc_id, fp""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // spread (r20): the sha256 map stage ran in one task off the
    // one-split local scan (0.9 s of d13's 1.5 s profile)
    val kg = Tables.spread(Tables.documents(s, d), col("doc_id"))
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 3)
      .withColumn("hs", expr(
        "zip_with(zip_with(slice(arr, 1, size(arr) - 2), slice(arr, 2, size(arr) - 2), " +
          "(a, b) -> concat(a, ' ', b)), slice(arr, 3, size(arr) - 2), " +
          "(ab, c) -> sha2(concat(ab, ' ', c), 256))"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy(col("doc_id"))
    val win4 = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    kg.withColumn("nk", count(lit(1)).over(byDoc))
      .withColumn("fp", min(col("h")).over(win4))
      .filter((col("nk") >= 4 && col("pos") <= col("nk") - 4) ||
        (col("nk") < 4 && col("pos") === 0))
      .select(col("doc_id"), col("fp"))
      .distinct()
      .orderBy(col("doc_id"), col("fp"))
  }

  /** d14: a fingerprint seen in more than this many documents is
    * boilerplate (license headers, templates) and is dropped before
    * pair generation — MOSS's noise-suppression rule, which doubles as
    * the hot-key skew guard: join fan-out per fingerprint is bounded
    * by maxDf², independent of corpus size (the d03 hot-shingle
    * argument). */
  val cloneMaxDf = 32

  /** d14: minimum shared fingerprints for a reported clone pair. The
    * sf0.01 corpus is sharply bimodal (noise pairs share 1–3, true
    * clones ≥ 8), so 3 keeps the borderline visible without flooding. */
  val cloneMinShared = 3

  /** Winnowing clone-pair detection (d14) — the contamination-detection
    * CONSUMER of d13: join documents on shared winnowed fingerprints
    * and rank candidate substring-clone pairs by shared-fingerprint
    * count, with positional evidence (first/last shared-fingerprint
    * window position in each document, bounding the clone region).
    * This is the MOSS report step: d13 answers "what are the
    * fingerprints", d14 answers "which document pairs share enough of
    * them to be clones, and where".
    *
    * Pipeline: d13's k-gram → window-min stream, keeping the 1-based
    * window position; per-(doc, fp) the earliest position survives;
    * fingerprints in > [[cloneMaxDf]] docs are dropped (boilerplate +
    * skew guard — see the constant); the fp-keyed self-join then
    * aggregates per pair. sha256 makes every fingerprint identical in
    * any engine → exact oracle. At 100 TB: rows crossing the exchanges
    * are (doc_id, 64-char fp, pos) triples — never documents — and the
    * df guard caps per-key join blow-up, so pair generation is
    * index-join-shaped like d02/d10, not all-pairs. */
  val clonePairs: QueryEntry = QueryEntry(
    "d14_clone_pairs",
    s"""WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
      |k AS (SELECT doc_id, list_transform(range(1, len(arr) - 1),
      |             i -> sha256(array_to_string(arr[i:i+2], ' '))) AS hs
      |      FROM a WHERE len(arr) >= 3),
      |idx AS (SELECT doc_id, hs,
      |               unnest(range(1, CASE WHEN len(hs) >= 4 THEN len(hs) - 2 ELSE 2 END)) AS pos
      |        FROM k),
      |f0 AS (SELECT doc_id, pos, list_min(hs[pos:pos+3]) AS fp FROM idx),
      |fps AS (SELECT doc_id, fp, MIN(pos) AS pos FROM f0 GROUP BY 1, 2),
      |df AS (SELECT fp, COUNT(*) AS ndocs FROM fps GROUP BY 1),
      |keep AS (SELECT f.doc_id, f.fp, f.pos FROM fps f JOIN df USING (fp)
      |         WHERE df.ndocs <= $cloneMaxDf)
      |SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared,
      |       MIN(a.pos) AS a_start, MAX(a.pos) AS a_end,
      |       MIN(b.pos) AS b_start, MAX(b.pos) AS b_end
      |FROM keep a JOIN keep b ON a.fp = b.fp AND b.doc_id > a.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= $cloneMinShared
      |ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    // spread (r20): the trigram-sha256 map stage ran in one task off
    // the one-split local scan — and TWICE, because `fps` fed both the
    // df count and the pair join un-materialized (two 1.3 s single-task
    // jobs = most of d14's profile). One spread evaluation, and `fps`
    // materialized: exactly the (doc_id, fp, pos) rows the joins
    // shuffle anyway.
    val kg = Tables.spread(Tables.documents(s, d), col("doc_id"))
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 3)
      .withColumn("hs", expr(
        "zip_with(zip_with(slice(arr, 1, size(arr) - 2), slice(arr, 2, size(arr) - 2), " +
          "(a, b) -> concat(a, ' ', b)), slice(arr, 3, size(arr) - 2), " +
          "(ab, c) -> sha2(concat(ab, ' ', c), 256))"))
      .select(col("doc_id"), posexplode(col("hs")).as(Seq("pos", "h")))
    val byDoc = Window.partitionBy(col("doc_id"))
    val win4 = Window.partitionBy(col("doc_id")).orderBy(col("pos")).rowsBetween(0, 3)
    val fps = materialize(kg.withColumn("nk", count(lit(1)).over(byDoc))
      .withColumn("fp", min(col("h")).over(win4))
      .filter((col("nk") >= 4 && col("pos") <= col("nk") - 4) ||
        (col("nk") < 4 && col("pos") === 0))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"), col("fp"))
      .groupBy(col("doc_id"), col("fp")).agg(min(col("pos")).as("pos")))
    val keep = fps.join(
      fps.groupBy(col("fp")).agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") <= cloneMaxDf)
        .select(col("fp")),
      Seq("fp"))
    keep.as("a").join(keep.as("b"),
        col("a.fp") === col("b.fp") && col("b.doc_id") > col("a.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("shared"),
        min(col("a.pos")).as("a_start"), max(col("a.pos")).as("a_end"),
        min(col("b.pos")).as("b_start"), max(col("b.pos")).as("b_end"))
      .filter(col("shared") >= cloneMinShared)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Keep-best dedup policy: within each exact-duplicate group keep
    * the highest-quality representative (longest doc, doc_id tiebreak)
    * via single-pass struct-max — the "which copy survives" decision a
    * dedup pipeline has to make. */
  val keepBest: QueryEntry = QueryEntry(
    "d08_dedup_keep_best",
    """SELECT digest, keep_id, n FROM (
      |  SELECT sha256(text) AS digest, doc_id, n_chars,
      |         ROW_NUMBER() OVER (PARTITION BY sha256(text)
      |                            ORDER BY n_chars DESC, doc_id) AS rn,
      |         COUNT(*) OVER (PARTITION BY sha256(text)) AS n,
      |         doc_id AS keep_id
      |  FROM documents)
      |WHERE rn = 1 ORDER BY keep_id""".stripMargin
  ) { (s, d) =>
    Tables.documents(s, d)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("best"),
        count(lit(1)).as("n"))
      .select(col("digest"), (-col("best.neg_id")).as("keep_id"), col("n"))
      .orderBy(col("keep_id"))
  }

  /** Full-corpus all-pairs Jaccard ≥ 0.8 over word-TRIGRAM shingles via
    * PPJoin-style prefix filtering — the scale path d02's bounded probe
    * set cannot cover.
    *
    * Shingles get a global rarity order (document frequency asc,
    * shingle tiebreak); each doc's prefix is its first
    * `n - ceil(0.8·n) + 1` shingles in that order. Two sets with
    * Jaccard ≥ 0.8 MUST share a prefix shingle (pigeonhole on the
    * overlap bound), so the candidate join runs over the rare-shingle
    * prefix index only. Trigrams, not words, are the token unit: the
    * synthetic corpus has a ~31-word vocabulary, so word-level prefixes
    * degenerate to all-pairs (measured 11.3M candidates at sf0.1),
    * while the trigram space (~vocab³) makes random-pair overlap
    * near-zero and prefixes discriminative — the same reason real
    * near-dup pipelines shingle before filtering. Candidates are
    * exact-verified through the inverted index restricted to candidate
    * docs (as d03). The filter is lossless, which the oracle PROVES:
    * DuckDB computes brute-force all-pairs Jaccard over the same
    * shingles and the outputs must hash-match. */
  val ppjoinAllPairs: QueryEntry = QueryEntry(
    "d10_ppjoin_allpairs",
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
      |           WHERE len(string_split(text, ' ')) >= 3),
      |ws AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(arr) - 1),
      |              i -> arr[i] || '_' || arr[i+1] || '_' || arr[i+2]))) AS w FROM t),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
      |com AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |        FROM ws a JOIN ws b ON a.w = b.w
      |        WHERE b.doc_id > a.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id,
      |       CAST(common AS DOUBLE) / (sa.n + sb.n - common) AS jaccard
      |FROM com JOIN sz sa ON a_id = sa.doc_id JOIN sz sb ON b_id = sb.doc_id
      |WHERE CAST(common AS DOUBLE) / (sa.n + sb.n - common) >= 0.8
      |ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    // spread + materialize (r20): the trigram-shingle explode ran in
    // one task off the one-split local scan, and FOUR times — sz, wdf,
    // the ranked prefix build, and the candidate-restricted verify
    // (four ~0.5 s single-task jobs in the profile). The narrow
    // (doc_id, trigram) index rows — the persisted-inverted-index
    // posture the scaladoc already argues at corpus scale.
    val ws = materialize(Tables.spread(Tables.documents(s, d), col("doc_id"))
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 3)
      .select(col("doc_id"), explode(array_distinct(expr(
        """zip_with(zip_with(slice(arr, 1, size(arr) - 2), slice(arr, 2, size(arr) - 2),
          |  (a, b) -> concat(a, '_', b)), slice(arr, 3, size(arr) - 2),
          |  (x, c) -> concat(x, '_', c))""".stripMargin))).as("w")))
    val sz = ws.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val wdf = ws.groupBy(col("w")).agg(count(lit(1)).as("df"))
    // global rarity order; per-doc position within it
    val ranked = ws.join(wdf, Seq("w"))
      .withColumn("pos", expr(
        "row_number() OVER (PARTITION BY doc_id ORDER BY df, w)"))
      .join(sz, Seq("doc_id"))
    val prefix = ranked
      .filter(col("pos") <= col("n") - ceil(lit(0.8) * col("n")) + 1)
      .select(col("doc_id"), col("w"))
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.w") === col("b.w") && col("b.doc_id") > col("a.doc_id"))
      .select(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .distinct()
    // exact verify via the inverted index restricted to candidate docs
    val candDocs = cand.select(col("a_id").as("doc_id"))
      .union(cand.select(col("b_id").as("doc_id"))).distinct()
    val shc = ws.join(candDocs, Seq("doc_id"))
    val common = shc.as("a").join(shc.as("b"),
        col("a.w") === col("b.w") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
    cand.join(common, Seq("a_id", "b_id"))
      .join(sz.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sz.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.8)
      .select(col("a_id"), col("b_id"), col("jaccard"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Asymmetric set CONTAINMENT of a probe set in the corpus (d15):
    * containment(A→B) = |A∩B| / |A| over distinct word sets, probe
    * docs doc_id < 100, threshold 0.9. This is the dedup/contamination
    * signal symmetric Jaccard structurally misses: a short document
    * fully embedded in a long one has containment 1.0 but Jaccard
    * |A|/|B| ≈ 0 — exactly the "benchmark question pasted inside a web
    * page" shape decontamination needs. Same inverted-index join as
    * d02 (narrow (doc_id, word) rows, map-side partial counts), only
    * the normalizer changes; at full-corpus scale the probe side is
    * the benchmark (tiny, broadcastable) and the corpus streams once. */
  val containment: QueryEntry = QueryEntry(
    "d15_containment",
    """WITH ws AS (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS w FROM documents),
      |sz AS (SELECT doc_id, COUNT(*) AS n FROM ws GROUP BY doc_id),
      |com AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS common
      |        FROM ws a JOIN ws b ON a.w = b.w
      |        WHERE a.doc_id < 100 AND b.doc_id <> a.doc_id GROUP BY 1, 2)
      |SELECT a_id, b_id, common,
      |       CAST(common AS DOUBLE) / sa.n AS containment
      |FROM com JOIN sz sa ON a_id = sa.doc_id
      |WHERE CAST(common AS DOUBLE) / sa.n >= 0.9
      |ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    // spread + materialize (r20): same rationale and bound as d02's
    val ws = materialize(Tables.spread(Tables.documents(s, d), col("doc_id"))
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w")))
    val sz = ws.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    // the probe side IS the benchmark (tiny by construction) — broadcast
    // it so the corpus-side index streams map-side instead of shuffling
    // every (doc, word) row on the hot `w` keys (r17, the d02/t09 fix)
    broadcast(ws.filter(col("doc_id") < 100).as("a")).join(ws.as("b"),
        col("a.w") === col("b.w") &&
          col("b.doc_id") =!= col("a.doc_id"))
      .groupBy(col("a.doc_id").as("a_id"), col("b.doc_id").as("b_id"))
      .agg(count(lit(1)).as("common"))
      .join(sz.select(col("doc_id").as("a_id"), col("n")), Seq("a_id"))
      .withColumn("containment", col("common").cast("double") / col("n"))
      .filter(col("containment") >= 0.9)
      .select(col("a_id"), col("b_id"), col("common"), col("containment"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Paragraph granularity for d16/d17: documents chunk into fixed
    * [[paraWords]]-word paragraphs (the testdata corpus carries no
    * newline delimiters; a fixed word stride is the deterministic
    * stand-in — swap the chunker for a `split(text, '\n\n')` explode
    * when the corpus has real paragraph breaks, everything downstream
    * is delimiter-agnostic). */
  val paraWords = 20

  /** d16/d17 chunk key packing: doc_id * paraKeyStride + para_idx must
    * be collision-free, so a document may carry at most this many
    * paragraphs (20M words at stride 1e6 — far past any real page).
    * Packing (not a struct) keeps the survivor rule a plain MIN that
    * both engines order identically. */
  val paraKeyStride = 1000000L

  /** (doc_id, para_idx, para) — one row per paragraph, map-only.
    *
    * The chunk array is built under a let-binding: `transform(array(
    * split(text)), arr -> ...)` binds the split result to a lambda
    * variable, so references inside the inner lambda are variable
    * lookups, not re-evaluations. Referencing a projected alias of
    * split() instead would be inlined by CollapseProject and re-split
    * the text once per chunk — per-document quadratic, the d13 pitfall
    * (measured 90 s vs 3 s there). */
  private[graft] def paragraphs(s: SparkSession, d: String): DataFrame =
    paragraphsOf(Tables.documents(s, d))

  /** [[paragraphs]] over any (doc_id, text, …) relation — factored so
    * the composed pipeline (p12/p13) can chunk its quality-gated
    * survivors instead of the raw table. */
  private[graft] def paragraphsOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), posexplode(expr(
        s"""transform(array(split(text, ' ')), arr ->
           |  transform(sequence(0, cast(ceil(size(arr) / $paraWords.0) as int) - 1),
           |    i -> array_join(slice(arr, i * $paraWords + 1, $paraWords), ' ')))[0]""".stripMargin))
        .as(Seq("para_idx", "para")))

  /** Paragraph-granularity exact dedup — boilerplate removal inside
    * otherwise-unique pages: chunk every document (see [[paragraphs]]),
    * digest each chunk, keep the lexicographically-first
    * (doc_id, para_idx) per distinct digest. The chunk pass is
    * map-only; the exchange then carries (32-byte digest, packed key)
    * pairs — never text — so at 100 TB this shuffles the same narrow
    * relation as d01, just at ~n_paragraphs rows. */
  val paragraphDedup: QueryEntry = QueryEntry(
    "d16_paragraph_dedup",
    s"""WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |idx AS (SELECT doc_id, arr,
       |               unnest(range(0, CAST(ceil(len(arr) / $paraWords.0) AS BIGINT))) AS i
       |        FROM a),
       |paras AS (SELECT doc_id, i AS para_idx,
       |                 sha256(array_to_string(arr[(i * $paraWords + 1):(i * $paraWords + $paraWords)], ' ')) AS digest
       |          FROM idx),
       |surv AS (SELECT digest, MIN(doc_id * $paraKeyStride + para_idx) AS keep_key,
       |                COUNT(*) AS dups
       |         FROM paras GROUP BY 1)
       |SELECT keep_key // $paraKeyStride AS keep_doc,
       |       keep_key % $paraKeyStride AS keep_para, digest, dups
       |FROM surv ORDER BY keep_doc, keep_para""".stripMargin
  ) { (s, d) =>
    paragraphs(s, d)
      .groupBy(sha2(col("para"), 256).as("digest"))
      .agg(min(col("doc_id") * paraKeyStride + col("para_idx")).as("keep_key"),
        count(lit(1)).as("dups"))
      // integer division (`div`), matching the oracle's `//`: the
      // float-divide-then-cast spelling is only exact below 2^53, so
      // packed keys past doc_id ~9e9 would silently drift off-oracle
      .select(expr(s"keep_key div ${paraKeyStride}L").as("keep_doc"),
        (col("keep_key") % paraKeyStride).as("keep_para"),
        col("digest"), col("dups"))
      .orderBy(col("keep_doc"), col("keep_para"))
  }

  /** Paragraph-granularity NEAR-dup tier (d16's fuzzy companion):
    * d03's MinHash+LSH banding applied at chunk granularity — 16
    * seed-varied XXH64 min-hashes over word 2-gram shingles per
    * paragraph, banded 8×2, candidates exact-verified by shingle
    * intersection. Catches lightly-edited boilerplate the digest path
    * misses. Output: top-50 pairs of DISTINCT paragraph types by true
    * Jaccard, each type keyed by its d16 survivor's packed chunk id
    * (see [[paraKeyStride]]). Probabilistic banding → rows-only;
    * ParagraphDedupSpec gates verification exactness and recall vs
    * brute force over the type space.
    *
    * Exact-duplicate paragraphs collapse to ONE representative (the
    * min packed key per sha256 digest — d16's survivor) BEFORE
    * signatures: identical chunks collide in every band, so a herd of
    * H copies of one boilerplate paragraph — the norm at paragraph
    * granularity, d18 measures exactly these — would otherwise form an
    * O(H²) candidate set in every one of its band buckets. Type-level
    * banding removes that corpus-hot bucket by construction; herd
    * membership (who else carries a near-dup type) is d16's digest
    * output, joinable on the survivor key.
    *
    * Scale shape is then d03's: signatures are (key, 16×8B, n) —
    * paragraph text crosses one digest-keyed exchange (the collapse)
    * and never again — and every verification join key embeds a chunk
    * id, so no corpus-hot shingle forms a hot bucket either. Fewer
    * hashes than d03 (16 vs 32) because 19-shingle sets need less
    * signature resolution than whole documents.
    *
    * Oracled r11 (was rows-only): the DuckDB mirror replays the whole
    * tier — d18's proven chunking SQL, digest collapse to min-key
    * survivors, then d03's shared MinHash transcription
    * ([[XxhOracle]]) at 16 permutations / 8 bands over the type
    * shingles, est screen, exact Jaccard, threshold, TopN. */
  val paragraphNearDup: QueryEntry = QueryEntry(
    "d17_paragraph_neardup",
    s"""WITH a0 AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |idx AS (SELECT doc_id, arr,
       |               unnest(range(0, CAST(ceil(len(arr) / $paraWords.0) AS BIGINT))) AS i
       |        FROM a0),
       |paras AS (SELECT doc_id * $paraKeyStride + i AS key,
       |                 array_to_string(arr[(i * $paraWords + 1):(i * $paraWords + $paraWords)], ' ') AS para
       |          FROM idx),
       |reps AS (SELECT MIN(key) AS key FROM (SELECT key, sha256(para) AS dg FROM paras)
       |         GROUP BY dg),
       |rp AS (SELECT key, string_split(para, ' ') AS ws
       |       FROM paras JOIN reps USING (key)),
       |sh AS (SELECT key, unnest(list_distinct(list_transform(range(1, len(ws)),
       |         i -> ws[i] || '_' || ws[i+1]))) AS s FROM rp),
       |${XxhOracle.minhashSigCtes("key", 16)},
       |${XxhOracle.minhashPairCtes("key", 16, "0.25")}
       |SELECT a_key, b_key, jaccard FROM jac WHERE jaccard >= 0.5
       |ORDER BY jaccard DESC, a_key, b_key LIMIT 50""".stripMargin
  ) { (s, d) =>
    paraNearDupPairs(s, d)
      .orderBy(col("jaccard").desc, col("a_key"), col("b_key"))
      .limit(50)
  }

  /** d17's full verified near-dup pair relation (a_key, b_key,
    * jaccard ≥ 0.5 over distinct paragraph TYPES, keys = d16 survivor
    * packed ids), unlimited — factored so the cluster collapse (d20)
    * can take the transitive closure of the SAME pair space d17
    * reports from. */
  private[graft] def paraNearDupPairs(s: SparkSession, d: String)
      : org.apache.spark.sql.DataFrame = {
    val nSig = 16
    val pk = paragraphs(s, d)
      .withColumn("key", col("doc_id") * paraKeyStride + col("para_idx"))
      .withColumn("digest", sha2(col("para"), 256))
    // exact-dup collapse: one representative row per distinct digest
    // (the d16 survivor). The groupBy exchanges (digest, key) pairs
    // only; the join brings each winning row's text across once.
    // (r20 negative result: materializing this collapsed-type
    // relation — so the verification branch skips the re-chunk — was
    // measured 0.4 s SLOWER isolated: materializing paragraph text
    // blocks costs more than recomputing the chunk explode here.)
    val reps = pk.groupBy(col("digest")).agg(min(col("key")).as("key"))
    val rp = pk.join(reps, Seq("digest", "key"))
      .select(col("key"), col("para"))
    def shingleOf(r: DataFrame): DataFrame = r
      .withColumn("arr", split(col("para"), " "))
      .filter(size(col("arr")) >= 2)
      .select(col("key"), explode(array_distinct(expr(
        "zip_with(slice(arr, 1, size(arr) - 1), slice(arr, 2, size(arr) - 1), (a, b) -> concat(a, '_', b))")))
        .as("s"))
    val sh = shingleOf(rp)
    val sig = materialize(sh.groupBy(col("key"))
      .agg(graft.functions.MinHashAggregate.minhash_agg(col("s"), nSig).as("sig"),
        count(lit(1)).as("n")))
    val bands = (0 until nSig / 2).map(b =>
      struct(lit(b).as("band"),
        xxh(0L, element_at(col("sig"), 2 * b + 1), element_at(col("sig"), 2 * b + 2)).as("bh")))
    val banded = sig.select(col("key"), explode(array(bands: _*)).as("bb"))
      .select(col("key"), col("bb.band").as("band"), col("bb.bh").as("bh"))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bh") === col("y.bh") &&
          col("x.key") < col("y.key"))
      .select(col("x.key").as("a_key"), col("y.key").as("b_key"))
      .distinct()
    // signature-agreement estimate prunes the verification set (d03's
    // shape): band collisions admit ~single-band matches, the estimate
    // keeps only pairs plausibly at the 0.5 report threshold. Read
    // three times below, bounded by band collisions (as d03's).
    val plausible = materialize(cand
      .join(sig.select(col("key").as("a_key"), col("sig").as("siga"), col("n").as("na")), "a_key")
      .join(sig.select(col("key").as("b_key"), col("sig").as("sigb"), col("n").as("nb")), "b_key")
      .withColumn("est",
        size(expr("filter(zip_with(siga, sigb, (p, q) -> p = q), v -> v)")).cast("double") / nSig)
      .filter(col("est") >= 0.25)
      .select(col("a_key"), col("b_key"), col("na"), col("nb")))
    val candChunks = plausible.select(col("a_key").as("key"))
      .union(plausible.select(col("b_key").as("key")))
      .distinct()
    // r20: shingle only the CANDIDATE types for verification (the d03
    // rationale — the old `sh.join(candChunks)` re-exploded every
    // type's shingles to keep the candidates' ones)
    val shc = shingleOf(rp.join(candChunks, Seq("key")))
    val common = shc.select(col("key").as("a_key"), col("s"))
      .join(plausible.select(col("a_key"), col("b_key")), Seq("a_key"))
      .join(shc.select(col("key").as("b_key"), col("s")), Seq("b_key", "s"))
      .groupBy(col("a_key"), col("b_key"))
      .agg(count(lit(1)).as("common"))
    plausible.join(common, Seq("a_key", "b_key"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
      .filter(col("jaccard") >= 0.5)
      .select(col("a_key"), col("b_key"), col("jaccard"))
  }

  /** d18: a paragraph digest seen in more than this many DISTINCT
    * documents is boilerplate (headers, footers, templates) and is
    * stripped. 2 keeps legitimate 2-document duplication (the dominant
    * df bucket on testdata: 49 types at df=2 vs 4 at df≥3) while
    * removing the herd paragraphs — the C4-style rule. */
  val boilerplateMaxDf = 2

  /** Boilerplate stripping (d16's CONSUMER): chunk every document,
    * compute per-digest document frequency, drop paragraphs whose df
    * exceeds [[boilerplateMaxDf]], and reassemble each document from
    * its surviving paragraphs in index order. Documents losing every
    * paragraph drop out entirely. Output: (doc_id, text, kept_paras).
    *
    * Scale shape: df is computed over (digest, doc_id) pairs — 32-byte
    * digests, never text — and the paragraph TEXT crosses exactly ONE
    * exchange: both join sides are pre-partitioned by doc_id
    * (HashPartitioning(doc_id) satisfies the (doc_id, para_idx) join's
    * clustering AND the final groupBy(doc_id), so Catalyst plans no
    * further text shuffle). Deterministic chunking + sha256 digests →
    * exact DuckDB oracle. */
  val boilerplateStrip: QueryEntry = QueryEntry(
    "d18_boilerplate_strip",
    s"""WITH a AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents),
       |idx AS (SELECT doc_id, arr,
       |               unnest(range(0, CAST(ceil(len(arr) / $paraWords.0) AS BIGINT))) AS i
       |        FROM a),
       |paras AS (SELECT doc_id, i AS para_idx,
       |                 array_to_string(arr[(i * $paraWords + 1):(i * $paraWords + $paraWords)], ' ') AS para
       |          FROM idx),
       |df AS (SELECT sha256(para) AS digest, COUNT(DISTINCT doc_id) AS nd
       |       FROM paras GROUP BY 1),
       |keep AS (SELECT p.doc_id, p.para_idx, p.para
       |         FROM paras p JOIN df ON sha256(p.para) = df.digest
       |         WHERE df.nd <= $boilerplateMaxDf)
       |SELECT doc_id, string_agg(para, ' ' ORDER BY para_idx) AS text,
       |       COUNT(*) AS kept_paras
       |FROM keep GROUP BY doc_id ORDER BY doc_id""".stripMargin
  ) { (s, d) =>
    stripBoilerplateOf(Tables.documents(s, d)).orderBy(col("doc_id"))
  }

  /** d18's strip pipeline over any (doc_id, text, …) relation —
    * (doc_id, text, kept_paras), unordered. Factored so the composed
    * pipeline (p12/p13) can strip its quality-gated survivors. */
  private[graft] def stripBoilerplateOf(docs: DataFrame): DataFrame = {
    val paras = paragraphsOf(docs)
    val dg = paras.select(col("doc_id"), col("para_idx"), sha2(col("para"), 256).as("digest"))
    val df = dg.groupBy(col("digest"))
      .agg(countDistinct(col("doc_id")).as("nd"))
    val keepIds = dg.join(df.filter(col("nd") <= boilerplateMaxDf), Seq("digest"))
      .select(col("doc_id"), col("para_idx"))
    paras.repartition(col("doc_id"))
      .join(keepIds.repartition(col("doc_id")), Seq("doc_id", "para_idx"))
      .groupBy(col("doc_id"))
      .agg(concat_ws(" ", expr(
        "transform(array_sort(collect_list(struct(para_idx, para))), s -> s.para)")).as("text"),
        count(lit(1)).as("kept_paras"))
  }

  /** d19: window width (tokens) of the exact-match grams that seed
    * span detection — spans shorter than this are invisible; spans
    * reported are ≥ [[dupSpanMinLen]]. 8 tokens ≈ the 50-character
    * floor the substring-dedup literature uses for "meaningful"
    * duplication. */
  val dupSpanGram = 8

  /** d19: a gram in more than this many documents is boilerplate and
    * is dropped before pair generation — the d14 [[cloneMaxDf]] rule,
    * doubling as the hot-key guard (join fan-out per gram ≤ maxDf²). */
  val dupSpanMaxDf = 16

  /** d19: positions kept per (doc, gram). In natural text a specific
    * 8-gram almost never repeats within one document, so this keeps
    * everything; in a degenerate looping document ("a a a …", the t12
    * detector's quarry) ONE gram can occupy thousands of positions and
    * square under the self-join — the cap bounds that pair's cost at
    * 32² rows while leaving normal spans untouched (deterministic:
    * earliest positions survive, position order is unique). */
  val dupSpanMaxPos = 32

  /** d19: minimum reported span length in tokens (= 5 consecutive
    * matching grams with [[dupSpanGram]] = 8). */
  val dupSpanMinLen = 12

  /** Cross-document duplicated-span extraction (d19) — exact substring
    * dedup at sub-document granularity (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better": the damaging
    * duplicates are long VERBATIM spans that survive document- and
    * paragraph-level passes because the enclosing texts differ). The
    * suffix-array formulation is a single-machine algorithm; the
    * relational one is: seed with exact [[dupSpanGram]]-token grams,
    * join docs on shared grams, and read maximal spans off matching-
    * position runs — two positions extend the same span exactly when
    * their difference (the DIAGONAL pos_a − pos_b) is constant and
    * pos_a is consecutive, so gaps-and-islands per (pair, diagonal)
    * yields every maximal shared span in one GROUP BY, no suffix
    * structure and no per-pair alignment loop. Reports each pair's
    * longest span (length + both start offsets, 1-based; ties by
    * earliest start) over [[dupSpanMinLen]]. All integers → exact
    * oracle; span-identity property gated in DupSpanSpec.
    *
    * At 100 TB: tokens cross one doc-keyed window exchange (t07's
    * shape — the lead-window gram build binds the split ONCE, dodging
    * the per-element re-split of a transform-over-sequence lambda, the
    * d13 pitfall); after that only (doc, pos, 8-gram) rows move, df ≤
    * [[dupSpanMaxDf]] bounds per-gram fan-out, the position cap bounds
    * degenerate-doc blow-up, and runs collapse in one grouped pass —
    * index-join-shaped end to end, like d02/d10/d14, never all-pairs. */
  val dupSpans: QueryEntry = QueryEntry(
    "d19_dup_spans",
    s"""WITH t AS (SELECT doc_id, string_split(text, ' ') AS arr FROM documents
      |           WHERE len(string_split(text, ' ')) >= $dupSpanGram),
      |g0 AS (SELECT doc_id,
      |              unnest(list_transform(range(1, len(arr) - ${dupSpanGram - 2}),
      |                    i -> array_to_string(arr[i:i+${dupSpanGram - 1}], ' '))) AS gram,
      |              unnest(range(1, len(arr) - ${dupSpanGram - 2})) AS pos
      |       FROM t),
      |g AS (SELECT doc_id, gram, pos FROM (
      |        SELECT doc_id, gram, pos,
      |               ROW_NUMBER() OVER (PARTITION BY doc_id, gram ORDER BY pos) AS rk
      |        FROM g0) WHERE rk <= $dupSpanMaxPos),
      |df AS (SELECT gram, COUNT(DISTINCT doc_id) AS nd FROM g GROUP BY 1),
      |gk AS (SELECT g.* FROM g JOIN df USING (gram) WHERE nd BETWEEN 2 AND $dupSpanMaxDf),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |             a.pos AS pos_a, a.pos - b.pos AS diag
      |      FROM gk a JOIN gk b ON a.gram = b.gram AND a.doc_id < b.doc_id),
      |isl AS (SELECT doc_a, doc_b, diag, pos_a,
      |               pos_a - ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b, diag ORDER BY pos_a) AS grp
      |        FROM p),
      |runs AS (SELECT doc_a, doc_b, COUNT(*) + ${dupSpanGram - 1} AS span_len,
      |                MIN(pos_a) AS start_a, MIN(pos_a) - diag AS start_b
      |         FROM isl GROUP BY doc_a, doc_b, diag, grp),
      |best AS (SELECT doc_a, doc_b, span_len, start_a, start_b,
      |                ROW_NUMBER() OVER (PARTITION BY doc_a, doc_b
      |                                   ORDER BY span_len DESC, start_a, start_b) AS rk
      |         FROM runs)
      |SELECT doc_a, doc_b, span_len, start_a, start_b
      |FROM best WHERE rk = 1 AND span_len >= $dupSpanMinLen
      |ORDER BY span_len DESC, doc_a, doc_b""".stripMargin
  ) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val byDocPos = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val grams = Tables.documents(s, d)
      .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("long").as("pos"), col("w"))
      .withColumn("gram", concat_ws(" ",
        col("w") +: (1 until dupSpanGram).map(k => lead(col("w"), k).over(byDocPos)): _*))
      .withColumn("last", lead(col("w"), dupSpanGram - 1).over(byDocPos))
      .filter(col("last").isNotNull)
      .select(col("doc_id"), col("pos"), col("gram"))
    // r20: `capped` feeds BOTH the per-gram df count and the pair join;
    // it is exactly the (doc_id, pos, gram) rows the pair join shuffles
    // anyway
    val capped = materialize(grams.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id"), col("gram")).orderBy(col("pos"))))
      .filter(col("rk") <= dupSpanMaxPos).drop("rk"))
    val dfg = capped.groupBy(col("gram"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd").between(2, dupSpanMaxDf))
    val gk = capped.join(dfg, Seq("gram")).select(col("gram"), col("doc_id"), col("pos"))
    val p = gk.as("a").join(gk.as("b"),
        col("a.gram") === col("b.gram") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.pos").as("pos_a"), (col("a.pos") - col("b.pos")).as("diag"))
    val isl = p.withColumn("grp", col("pos_a") - row_number().over(
      Window.partitionBy(col("doc_a"), col("doc_b"), col("diag")).orderBy(col("pos_a"))))
    val runs = isl.groupBy(col("doc_a"), col("doc_b"), col("diag"), col("grp"))
      .agg((count(lit(1)) + (dupSpanGram - 1)).as("span_len"),
        min(col("pos_a")).as("start_a"))
      .withColumn("start_b", col("start_a") - col("diag"))
    runs.withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_a"), col("doc_b"))
          .orderBy(col("span_len").desc, col("start_a"), col("start_b"))))
      .filter(col("rk") === 1 && col("span_len") >= dupSpanMinLen)
      .select(col("doc_a"), col("doc_b"), col("span_len"),
        col("start_a"), col("start_b"))
      .orderBy(col("span_len").desc, col("doc_a"), col("doc_b"))
  }

  /** Fuzzy entity resolution (d21) — blocked Levenshtein record
    * linkage, the record-dedup shape every ingest pipeline runs over
    * user/customer/author tables before joining them into training
    * metadata: names within one edit of each other are link candidates
    * (typos, off-by-one ids, OCR noise).
    *
    * The naive formulation is an O(n²) name×name cross join. Blocking
    * makes it linear: names only compare within a block — here the
    * name minus its last two characters, so candidates may differ only
    * in that suffix. Block sizes are bounded by the key's granularity
    * (≤ 10² same-prefix names for zero-padded ids, analogous bounds
    * for real name data with longer prefixes), so total pairs grow
    * linearly with rows at ANY corpus size — the standard
    * blocking-recall trade: a pair that differs inside the blocked
    * prefix ("…099"→"…100") is unreachable by construction, which is
    * why production linkage runs multiple complementary blocking keys.
    *
    * Spark + DuckDB both ship unit-cost `levenshtein`, so the entry is
    * exactly oracled — rare for a fuzzy operator. The self-join is an
    * equi-join on the block key (shuffle both sides, no broadcast of a
    * corpus-proportional side); the distance filter runs inside the
    * join's codegen'd post-predicate. */
  val entityResolution: QueryEntry = QueryEntry(
    "d21_entity_resolution",
    """SELECT a.c_custkey AS a_key, b.c_custkey AS b_key,
      |       levenshtein(a.c_name, b.c_name) AS dist
      |FROM customer a JOIN customer b
      |  ON substr(a.c_name, 1, length(a.c_name) - 2)
      |       = substr(b.c_name, 1, length(b.c_name) - 2)
      | AND a.c_custkey < b.c_custkey
      |WHERE levenshtein(a.c_name, b.c_name) <= 1
      |ORDER BY a_key, b_key""".stripMargin
  ) { (s, d) =>
    val c = Tables.customer(s, d)
      .select(col("c_custkey"), col("c_name"),
        expr("substr(c_name, 1, length(c_name) - 2)").as("blk"))
    val a = c.select(col("blk"), col("c_custkey").as("a_key"),
      col("c_name").as("a_name"))
    val b = c.select(col("blk"), col("c_custkey").as("b_key"),
      col("c_name").as("b_name"))
    // Levenshtein is invariant under a shared prefix — lev(P·x, P·y) =
    // lev(x, y) — and a blocked pair shares its ENTIRE name except the
    // last two characters (equal `blk` strings force equal lengths, so
    // the suffixes are exactly the last 2 chars). The full 18×18 DP
    // per candidate pair therefore collapses to a 2×2 DP, computed
    // ONCE (the old shape ran the full-string DP twice per surviving
    // row: once in the filter, once in the projection — Spark's
    // subexpression elimination does not span Filter→Project). r19:
    // 5.4 s → ~0.6 s, same rows (the oracle runs the full-string lev).
    a.join(b, Seq("blk"))
      .filter(col("a_key") < col("b_key"))
      .withColumn("dist",
        levenshtein(expr("right(a_name, 2)"), expr("right(b_name, 2)")))
      .filter(col("dist") <= 1)
      .select(col("a_key"), col("b_key"), col("dist"))
      .orderBy(col("a_key"), col("b_key"))
  }

  /** Per-document n-gram novelty in corpus order (d22) — the
    * "how much of this document is new content?" metric used to value
    * marginal training data: for each doc, the fraction of its
    * distinct word 3-grams whose FIRST occurrence (min doc_id) is this
    * doc. Duplicate-heavy docs score near 0, fresh content near 1 —
    * the per-document complement of corpus-level dedup.
    *
    * Scale: grams travel as sha256 digests (fixed 32 bytes, the p01
    * pattern), never raw text; one groupBy(digest) with map-side
    * combine computes first_doc, and the join back is on the SAME key
    * the aggregate just partitioned by, so the aggregated side needs
    * no second exchange. No stage is quadratic in docs or grams.
    * Digest-collision risk over 2^256 is nil, so grouping by digest ≡
    * the oracle's grouping by raw gram. */
  val ngramNovelty: QueryEntry = QueryEntry(
    "d22_ngram_novelty",
    """WITH gr AS (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, LEN(w) - 1),
      |        i -> w[i] || '_' || w[i+1] || '_' || w[i+2])) AS g
      |    FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents)
      |    WHERE LEN(w) >= 3)),
      |f AS (SELECT g, MIN(doc_id) AS first_doc FROM gr GROUP BY g)
      |SELECT gr.doc_id, COUNT(*) AS n_grams,
      |       CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
      |       CAST(CAST(SUM(CASE WHEN f.first_doc = gr.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS DOUBLE)
      |         / COUNT(*) AS novelty
      |FROM gr JOIN f USING (g)
      |GROUP BY gr.doc_id ORDER BY gr.doc_id""".stripMargin
  ) { (s, d) =>
    // spread + materialize (r20): the gram-sha256 explode ran in one
    // task off the one-split local scan, TWICE (first-occurrence agg +
    // the join back) — two ~0.6 s single-task jobs in the profile; the
    // narrow (doc_id, digest) rows both consumers shuffle anyway
    val g = materialize(Tables.spread(Tables.documents(s, d), col("doc_id"))
      .withColumn("arr", split(col("text"), " "))
      .filter(size(col("arr")) >= 3)
      // two zip_with folds over pre-shifted slices (the d13 pattern:
      // arrays bind once per row, no per-element re-split)
      .select(col("doc_id"), explode(array_distinct(expr(
        """zip_with(
             zip_with(slice(arr, 1, size(arr) - 2), slice(arr, 2, size(arr) - 2),
                      (a, b) -> concat(a, '_', b)),
             slice(arr, 3, size(arr) - 2), (ab, c) -> concat(ab, '_', c))""")))
        .as("gram"))
      .select(col("doc_id"), sha2(col("gram"), 256).as("dg")))
    val first = g.groupBy(col("dg")).agg(min(col("doc_id")).as("first_doc"))
    g.join(first, Seq("dg"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1).otherwise(0))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams")).as("novelty"))
      .orderBy(col("doc_id"))
  }

  /** Incremental MinHash near-dup against a PERSISTED band index
    * (d23) — the near-dup twin of d07's incremental exact dedup, and
    * the operation a GROWING 100 TB corpus actually runs: the
    * historical corpus (doc_id % 10 < 8) is indexed ONCE — per-doc
    * 32-hash signatures plus the 16×2 LSH band relation, the band
    * table PARTITIONED by `pmod(band hash, 32)` — and each arriving
    * batch (doc_id % 10 ≥ 8) is deduplicated against it WITHOUT
    * rescanning the corpus: the batch's band hashes broadcast into a
    * join whose dynamic partition pruning reads only the band-bucket
    * partitions the batch actually hashes into; signature agreement
    * screens candidates (est ≥ 0.25, the d03 screen); exact Jaccard
    * verification re-shingles only the CANDIDATE history docs (fetch
    * by id, never the corpus). Per batch doc the best verified match
    * (jaccard ≥ 0.35, ties to the lowest history id) decides
    * duplicate-vs-novel. Cost shape per batch: O(batch) signatures +
    * O(touched band partitions) + O(candidate pairs) — corpus size
    * enters only through the one-time build, exactly like s14's
    * frozen-quantizer append. Every hash is deterministic, so the
    * DuckDB mirror replays signatures, band hashes, screen, and
    * verification exactly; the index layout is an implementation
    * detail the oracle never needs to model. IncrementalMinhashSpec
    * pins the DPP firing and stored-vs-rebuilt probe equivalence. */
  val incrementalMinhash: QueryEntry = QueryEntry(
    "d23_incremental_minhash",
    s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
       |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(ws)),
       |         i -> ws[i] || '_' || ws[i+1]))) AS s FROM d),
       |${XxhOracle.minhashSigCtes("doc_id", 32)},
       |${XxhOracle.minhashPairCtes("doc_id", 32, "0.25")},
       |xp AS (SELECT a_doc_id AS h_id, b_doc_id AS bt_id, jaccard FROM jac
       |       WHERE a_doc_id % 10 < 8 AND b_doc_id % 10 >= 8
       |       UNION ALL
       |       SELECT b_doc_id, a_doc_id, jaccard FROM jac
       |       WHERE b_doc_id % 10 < 8 AND a_doc_id % 10 >= 8),
       |best AS (SELECT bt_id, h_id, jaccard FROM (
       |           SELECT bt_id, h_id, jaccard,
       |                  ROW_NUMBER() OVER (PARTITION BY bt_id
       |                    ORDER BY jaccard DESC, h_id) AS rn
       |           FROM xp WHERE jaccard >= 0.35) WHERE rn = 1)
       |SELECT dd.doc_id, b.h_id AS match_id, b.jaccard,
       |       b.h_id IS NULL AS novel
       |FROM documents dd LEFT JOIN best b ON b.bt_id = dd.doc_id
       |WHERE dd.doc_id % 10 >= 8 ORDER BY dd.doc_id""".stripMargin
  ) { (s, d) =>
    incrementalMinhashProbe(s, d, Similarity.indexDir(s, "d23", d))
  }

  /** Build (or incrementally APPEND to) the persisted MinHash band
    * index of `docs`: per-doc signatures plus the LSH band relation
    * partitioned by a 32-way fold of the band hash — the layout whose
    * probe prunes to touched buckets. Append mode touches zero
    * existing files (the s14 posture), which is what lets a CDF-driven
    * maintenance stream keep the index current at the cost of each
    * commit's delta. */
  private[graft] def buildBandIndex(s: SparkSession, docs: DataFrame,
      idx: String, append: Boolean = false): Unit = {
    val nSig = 32
    val mode = if (append) "append" else "overwrite"
    // Spread the CPU-heavy signature derivation over the session's
    // cores when the input arrives in FEWER splits than half the
    // parallelism — the local small-file case, where a one-split scan
    // otherwise runs the whole shingle+minhash map stage in one task
    // (guide §2.5 "input skew: … repartition immediately after the
    // read"); at scale inputs carry enough splits and this is the
    // identity. The signature relation is COALESCED back to the
    // input's split count before the writes: the fan-out must not
    // multiply the index's file count, which every later probe pays
    // for (guide §6 — the first cut wrote 32× the files and DOUBLED
    // p25, measured).
    val inParts = docs.rdd.getNumPartitions
    val target = s.sparkContext.defaultParallelism
    val spread =
      if (inParts * 2 >= target) docs
      else docs.repartition(target, col("doc_id"))
    // the signature table feeds BOTH writes (bands, sigs), O(docs ×
    // 256 B). Safe here, unlike the PROBE side: DPP's selective-filter
    // check never looks at the build plan.
    val hSig0 = materialize(shinglesOf(spread).groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAggregate.minhash_agg(col("s"), nSig).as("sig"),
        count(lit(1)).as("n")))
    val hSig =
      if (spread eq docs) hSig0 else hSig0.coalesce(math.max(1, inParts))
    bandedOf(hSig, nSig)
      .withColumn("bkt", pmod(col("bh"), lit(32)).cast("int"))
      .write.mode(mode).partitionBy("bkt").parquet(s"$idx/bands")
    hSig.write.mode(mode).parquet(s"$idx/sigs")
  }

  /** d23's build + probe, factored so the spec can rerun the probe
    * over the stored index and assert DPP in its executed plan. */
  private[graft] def incrementalMinhashProbe(s: SparkSession, d: String,
      idx: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val isBatch = col("doc_id") % 10 >= 8
    // BUILD (one-time): history signatures + band index, persisted
    buildBandIndex(s, docs.filter(!isBatch), idx)
    // PROBE: the arriving batch, against STORED state only
    probeBandIndex(s, idx, docs, docs.filter(isBatch))
  }

  /** Probe `batch` against the persisted band index at `idx`: banded
    * candidates via the DPP-pruned bucket join, signature screen,
    * exact Jaccard verification against candidate docs fetched by id
    * from `corpus` (the id→text source of truth — the documents
    * relation or the versioned table the index tracks). REPLAY-
    * TOLERANT: an at-least-once maintenance stream may append a
    * batch's index rows twice; candidates are `distinct` and the
    * plausible pair set dedups post-screen, so duplicated index rows
    * cost only candidate-bounded work, never a wrong answer. */
  private[graft] def probeBandIndex(s: SparkSession, idx: String,
      corpus: DataFrame, batch: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nSig = 32
    val docs = corpus
    val bSh = shinglesOf(batch)
    // NOT materialized: the probe side must keep its selective batch
    // filter visible in the logical plan, or the dynamic-partition-
    // pruning rule sees a bare LogicalRDD and declines to prune the
    // stored band scan (recomputing the O(batch) signature twice is
    // cheaper than scanning untouched index partitions)
    val bSig = bSh.groupBy(col("doc_id"))
      .agg(graft.functions.MinHashAggregate.minhash_agg(col("s"), nSig).as("sig"),
        count(lit(1)).as("n"))
    val bBands = bandedOf(bSig, nSig)
      .withColumn("bkt", pmod(col("bh"), lit(32)).cast("int"))
    val stored = s.read.parquet(s"$idx/bands")
    val cand = stored.join(
        broadcast(bBands.select(col("doc_id").as("b_id"), col("band"),
          col("bh"), col("bkt"))),
        Seq("bkt", "band", "bh"))
      .select(col("doc_id").as("a_id"), col("b_id")).distinct()
    val sigs = s.read.parquet(s"$idx/sigs")
    val plausible = cand
      .join(sigs.select(col("doc_id").as("a_id"), col("sig").as("siga"),
        col("n").as("na")), "a_id")
      .join(bSig.select(col("doc_id").as("b_id"), col("sig").as("sigb"),
        col("n").as("nb")), "b_id")
      .withColumn("est",
        size(expr("filter(zip_with(siga, sigb, (p, q) -> p = q), v -> v)"))
          .cast("double") / nSig)
      .filter(col("est") >= 0.25)
      .select(col("a_id"), col("b_id"), col("na"), col("nb"))
      // an at-least-once maintenance replay appends identical sig rows
      // twice; pairs dedup HERE (candidate-bounded) instead of a full
      // shuffle-dedup of the corpus-sized sig relation
      .dropDuplicates("a_id", "b_id")
    // exact verification fetches CANDIDATE history docs by id and
    // re-shingles only those — the corpus never rescans at probe time
    val candHist = plausible.select(col("a_id").as("doc_id")).distinct()
    val hSh = shinglesOf(docs.join(candHist, Seq("doc_id")))
    val common = hSh.select(col("doc_id").as("a_id"), col("s"))
      .join(plausible.select(col("a_id"), col("b_id")), Seq("a_id"))
      .join(bSh.select(col("doc_id").as("b_id"), col("s")), Seq("b_id", "s"))
      .groupBy(col("a_id"), col("b_id"))
      .agg(count(lit(1)).as("common"))
    val jac = plausible.join(common, Seq("a_id", "b_id"), "left")
      .withColumn("common", coalesce(col("common"), lit(0L)))
      .withColumn("jaccard",
        col("common").cast("double") / (col("na") + col("nb") - col("common")))
    val best = jac.filter(col("jaccard") >= 0.35)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("b_id")).orderBy(col("jaccard").desc, col("a_id"))))
      .filter(col("rn") === 1)
      .select(col("b_id"), col("a_id").as("match_id"), col("jaccard"))
    batch.select(col("doc_id"))
      .join(best, col("doc_id") === col("b_id"), "left")
      .select(col("doc_id"), col("match_id"), col("jaccard"),
        col("match_id").isNull.as("novel"))
      .orderBy(col("doc_id"))
  }

  val all: Seq[QueryEntry] = Seq(
    exact, wordJaccard, minhashLsh, simhash, simhashPairs, embedNearDup,
    incrementalDedup, keepBest, ppjoinAllPairs, bloomIncrementalDedup,
    winnowing, clonePairs, containment, paragraphDedup, paragraphNearDup,
    boilerplateStrip, dupSpans, entityResolution, ngramNovelty,
    incrementalMinhash)
}
