package graft.operators

import graft.{QueryEntry, Tables}
import graft.functions.VectorFunctions.cosine_similarity
import org.apache.spark.sql.{Column, DataFrame, GraftBridge}
import org.apache.spark.sql.GraftBridge.{materialize, release}
import org.apache.spark.sql.catalyst.expressions.XxHash64
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Similarity search over the `embeddings` table (builder brief).
  *
  * Baseline: brute-force cosine top-k (query set broadcast, corpus
  * streamed — linear in corpus size, embarrassingly parallel). Scale
  * path: random-hyperplane LSH bucketing, which turns top-k into a
  * bucket equi-join + small within-bucket rerank. */
object Similarity {

  private def xxh(seed: Long, cols: Column*): Column =
    GraftBridge.column(XxHash64(cols.map(GraftBridge.expression), seed))

  /** The DuckDB oracle of the exact cosine top-5 (s01, s25). */
  private val annTop5Oracle =
    """WITH n AS (SELECT vec_id, embedding,
      |             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |           FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 10),
      |c AS (SELECT qid, e.vec_id AS nid,
      |             list_sum(list_transform(range(1, len(qe) + 1),
      |                  i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (qn * e.nrm) AS cos
      |      FROM n e, q WHERE e.vec_id >= 10)
      |SELECT qid, nid, rank FROM (
      |  SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM c)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin

  /** Brute-force cosine top-5 for query vectors vec_id < 10 over the
    * corpus `e` (vec_id, embedding): broadcast the tiny query side,
    * stream the corpus once, per-query top-k via window row_number
    * (rank output is robust to last-ulp float noise). */
  private def annTop5(e: DataFrame): DataFrame = {
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val scored = e.filter(col("vec_id") >= 10).crossJoin(broadcast(q))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  /** [[annTop5]] over the parquet corpus. */
  val annBruteForce: QueryEntry = QueryEntry("s01_ann_bruteforce", annTop5Oracle) {
    (s, d) => annTop5(Tables.embeddings(s, d))
  }

  /** Random-hyperplane LSH ANN, multi-table: 32 deterministic
    * Rademacher hyperplanes (plane i's j-th sign = low bit of
    * XXH64(j, seed=i), materialized driver-side as literal arrays)
    * banded into 8 tables × 4 bits. A corpus vector is a candidate for
    * a query if they agree on ALL 4 signs of ANY table — for sign
    * agreement probability p the candidate rate is 1-(1-p⁴)⁸, ~0.8 for
    * true neighbors vs ~p⁴·8 ≈ noise for the rest (a single 8-bit
    * table needs p⁸ agreement — measured recall ~0 on this corpus,
    * round-3 fix). Candidates travel as narrow (vec_id, band, bucket)
    * rows; embeddings join back for the exact-cosine rerank only.
    * The hyperplanes are deterministic constants, so despite the
    * "approximate" label the whole operator is a pure function of its
    * input — fully DuckDB-oracled: the oracle SQL embeds the same ±1
    * sign literals (generated from the same XXH64.hashLong call) and
    * replays banding, candidate join, and exact-cosine rerank;
    * RecallSpec separately asserts recall@5 against s01 ground truth. */
  val annLsh: QueryEntry = {
    val nPlanes = 32
    val bandBits = 4
    val nBands = nPlanes / bandBits
    val dim = 64
    def signOf(i: Int, j: Int): Double =
      (((org.apache.spark.sql.catalyst.expressions.XXH64
        .hashLong(j.toLong, i.toLong) & 1L) * 2 - 1).toDouble)
    val planeLits: Seq[String] = (0 until nPlanes).map { i =>
      (0 until dim).map(j => if (signOf(i, j) > 0) "1.0" else "-1.0")
        .mkString("[", ", ", "]")
    }
    val sCols = (0 until nPlanes).map { i =>
      s"  CASE WHEN list_sum(list_transform(range(1, len(embedding)+1)," +
        s" k -> CAST(embedding[k] AS DOUBLE) * (${planeLits(i)})[k])) > 0" +
        s" THEN 1 ELSE 0 END AS s$i"
    }.mkString(",\n")
    val bandsSql = (0 until nBands).map { b =>
      s"SELECT vec_id, $b AS band, s${4 * b} + 2*s${4 * b + 1}" +
        s" + 4*s${4 * b + 2} + 8*s${4 * b + 3} AS bucket FROM p"
    }.mkString(" UNION ALL ")
    val oracle =
      s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
         |p AS MATERIALIZED (SELECT vec_id,
         |$sCols
         |FROM e),
         |sig AS MATERIALIZED ($bandsSql),
         |qb AS (SELECT vec_id AS qid, band, bucket FROM sig WHERE vec_id < 10),
         |cand AS (SELECT DISTINCT qid, s.vec_id AS nid FROM sig s
         |         JOIN qb USING (band, bucket) WHERE s.vec_id >= 10),
         |n AS (SELECT vec_id, embedding,
         |        sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
         |             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
         |      FROM e),
         |scored AS (SELECT qid, nid,
         |        list_sum(list_transform(range(1, len(q.embedding) + 1),
         |             i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
         |          / (q.nrm * c.nrm) AS cos
         |      FROM cand JOIN n q ON q.vec_id = cand.qid
         |                JOIN n c ON c.vec_id = cand.nid)
         |SELECT qid, nid, rank, cos FROM (
         |  SELECT qid, nid, cos,
         |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
         |  FROM scored)
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
    QueryEntry("s02_ann_lsh", oracle) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val planes: Seq[Column] = (0 until nPlanes).map { i =>
      array(Array.tabulate(dim) { j =>
        lit((((org.apache.spark.sql.catalyst.expressions.XXH64
          .hashLong(j.toLong, i.toLong) & 1L) * 2 - 1).toDouble))
      }.toIndexedSeq: _*)
    }
    val sigBits: Seq[Column] = (0 until nPlanes).map { i =>
      val proj = aggregate(
        zip_with(col("embedding"), planes(i), (x, p) => x.cast("double") * p),
        lit(0.0), (acc, v) => acc + v)
      when(proj > 0, lit(1)).otherwise(lit(0))
    }
    val bands = (0 until nBands).map { b =>
      val bucket = (0 until bandBits)
        .map(j => sigBits(b * bandBits + j) * lit(1 << j))
        .reduce(_ + _)
      struct(lit(b).as("band"), bucket.as("bucket"))
    }
    // narrow banded index: embeddings are dropped before the explode
    val sig = e.select(col("vec_id"), explode(array(bands: _*)).as("bb"))
      .select(col("vec_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val qb = sig.filter(col("vec_id") < 10).withColumnRenamed("vec_id", "qid")
    val cand = sig.filter(col("vec_id") >= 10)
      .join(broadcast(qb), Seq("band", "bucket"))
      .select(col("qid"), col("vec_id"))
      .distinct()
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    cand.join(e, Seq("vec_id")).join(broadcast(q), Seq("qid"))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
    }
  }

  /** Number of IVF cells — FIXED, independent of corpus size. At 100 TB
    * this would be tuned (≈√n capped to a few 10⁵), but the structural
    * invariant is what matters: centroid state is O(k·dim), never O(n). */
  val ivfK = 8

  /** Cells each query probes (recall/cost knob). */
  val ivfProbes = 2

  /** Trained coarse quantizer for [[annIvf]] — exactly-k Lloyd-trained
    * centroids (Clustering.trainCentroids), NOT a corpus sample. The
    * round-3 verdict flagged the previous `vec_id % 125` scheme: its
    * centroid count grew with the corpus, making assignment O(n²/125)
    * and the broadcast O(n). Here the relation has ≤ ivfK rows
    * (IvfSpec asserts == ivfK on testdata), so assignment is one
    * O(n·k) broadcast pass at any scale. */
  /** Coarse-quantizer training, sample-bounded like [[pqTrain]]: the
    * Lloyd mean-update sees ~[[pqTrainSample]] vectors (deterministic
    * vec_id % m sample; footer-only count sizes m), so only the
    * assignment pass ever scans the corpus — k centroids fit from a
    * bounded sample are statistically the same quantizer at any corpus
    * size (the FAISS training posture). Returned materialized: every
    * caller reads the ≤ ivfK centroid rows at least twice. */
  private[graft] def ivfCentroids(e: org.apache.spark.sql.DataFrame,
      n: Long = -1L): org.apache.spark.sql.DataFrame = materialize(trainIvf(e, n))

  /** [[ivfCentroids]]' lazy training plan; [[ivfTop5]] materializes
    * its packed [[centArray]] form instead (one job, not two). */
  private def trainIvf(e: org.apache.spark.sql.DataFrame,
      n: Long = -1L): org.apache.spark.sql.DataFrame = {
    val cnt = if (n >= 0L) n else e.count()
    Clustering.trainCentroids(e, ivfK, iters = 1,
      sampleMod = math.max(1L, cnt / pqTrainSample))
  }

  /** The stored IVF index of `e` under `idxDir`: `cells`, the corpus
    * partitioned by nearest centroid, and the `centroids` themselves. */
  private[graft] def writeIvfIndex(e: org.apache.spark.sql.DataFrame,
      idxDir: String): Unit = {
    val cent = ivfCentroids(e)
    nearestCells(e, cent)
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$idxDir/cells")
    cent.write.mode("overwrite").parquet(s"$idxDir/centroids")
  }

  // ── zero-shuffle nearest-cell machinery (r19 optimization round) ───
  //
  // Every assignment/probe pass previously scored (corpus × k) rows via
  // crossJoin(broadcast(cent)) + row_number() OVER (PARTITION BY
  // vec_id): correct, but the window repartitions the WHOLE relation by
  // vec_id — one corpus-wide Exchange (each row still carrying its
  // embedding array) plus a sort per assignment pass, and under AQE one
  // extra query-stage job each (optimization guide §2.4: remove
  // shuffles outright; §2.3: never shuffle the payload to make a
  // per-row decision). The centroid relation is O(k) BY CONSTRUCTION
  // (the round-3 s03 invariant), so the argmax can instead run inside
  // each row: broadcast ONE row holding all centroids as a cid-sorted
  // array and fold over it with built-in higher-order functions — no
  // exchange, no sort, partitioning-independent by construction.
  // Tie-breaking matches the windows bit-exactly: a strict `>` fold
  // (or a full sort) over a cid-ascending array ≡ ORDER BY cs DESC,
  // cid ASC, including NaN placement (Spark comparisons order NaN
  // above every double, the same rule the window's sort applies), and
  // the per-candidate score is the IDENTICAL codegen'd
  // cosine_similarity/squared_l2 expression — so every oracle hash is
  // unchanged (Verify re-passed on the full surface this round).

  /** (cid, ce) centroid rows → ONE broadcastable row
    * `(cents: array<struct<cid,ce>>)`, cid-ascending (cids are unique,
    * so the struct sort is total); empty input yields zero rows, so a
    * crossJoin against it behaves like the old crossJoin-with-empty. */
  private[graft] def centArray(cent: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cent.groupBy()
      .agg(array_sort(collect_list(struct(col("cid"), col("ce")))).as("cents"))
      .where(size(col("cents")) > 0)

  /** argmax over `cents` of cosine(ce, emb) under the (cs DESC, cid
    * ASC) tie rule — ONE codegen'd per-row loop
    * ([[graft.functions.VectorFunctions.NearestCell]]), returns
    * struct(cs, cid, ce). */
  private def bestCellCol(cents: Column, emb: Column): Column =
    graft.functions.VectorFunctions.nearest_cell(cents, emb)

  /** Top-`probes` cells by (cs DESC, cid ASC) — sort the per-row scored
    * array, slice. Returns array<struct<cs,cid,ce>> of length
    * min(probes, k), in rank order. */
  private def topCellsCol(cents: Column, emb: Column, probes: Int): Column = {
    val scored = transform(cents, c => struct(
      cosine_similarity(c("ce"), emb).as("cs"), c("cid").as("cid"),
      c("ce").as("ce")))
    val sorted = array_sort(scored, (l, r) =>
      when(l("cs") > r("cs"), -1).when(l("cs") < r("cs"), 1)
        .when(l("cid") < r("cid"), -1).when(l("cid") > r("cid"), 1)
        .otherwise(0))
    slice(sorted, 1, probes)
  }

  /** IVF ANN: k Lloyd-trained centroids partition the corpus into
    * Voronoi cells by cosine; queries probe their `ivfProbes` nearest
    * cells and rerank only those cells' members. Assignment is one
    * broadcast-fold pass (centroid side is O(k), zero shuffles) and
    * search touches ~nprobe/k of the data. "Probabilistic" only in
    * recall, not value: since r11 the DuckDB mirror replays the whole
    * chain exactly — the deterministic vec_id-mod training sample,
    * first-k seeding, one Lloyd iteration in DECIMAL (s05's proven
    * discipline), cosine cell assignment with (cs DESC, cid)
    * tiebreaks, 2-cell probing, and the exact rerank — so cell
    * structure AND neighbor lists are hash-gated. RecallSpec gates
    * recall@5, IvfSpec cardinality. */
  val annIvf: QueryEntry = QueryEntry(
    "s03_ann_ivf", IvfOracle.probeOracle()
  ) { (s, d) =>
    ivfTop5(Tables.embeddings(s, d), ivfProbes)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** s03's probe over a freshly trained index of `e` at `probes` cells:
    * each query's (qid, vec_id, cos, rank ≤ 5). Map-only passes: the
    * corpus branch takes each vector's argmax cell via the codegen'd
    * per-row loop, the query branch its top `probes` — no corpus
    * exchange anywhere before the probe join. */
  private def ivfTop5(e: org.apache.spark.sql.DataFrame, probes: Int)
      : org.apache.spark.sql.DataFrame = {
    val centA = materialize(centArray(trainIvf(e)))
    val assigned = e.filter(col("vec_id") >= 10).crossJoin(broadcast(centA))
      .withColumn("best", bestCellCol(col("cents"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("best.cid").as("cluster"))
    val qprobe = e.filter(col("vec_id") < 10).crossJoin(broadcast(centA))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(topCellsCol(col("cents"), col("embedding"), probes)).as("pc"))
      .select(col("qid"), col("qe"), col("pc.cid").as("cluster"))
    assigned
      .join(broadcast(qprobe), Seq("cluster"))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
  }

  /** Cross-modal join: embedding-space neighbors resolved back to
    * document metadata (text table ⋈ vector table on the shared id) —
    * the retrieval shape of a training-data pipeline: search in vector
    * space, act on document attributes. */
  val embedDocSearch: QueryEntry = QueryEntry(
    "s04_embed_doc_search",
    """WITH n AS (SELECT vec_id, embedding,
      |             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |           FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 5),
      |c AS (SELECT qid, e.vec_id AS nid,
      |             list_sum(list_transform(range(1, len(qe) + 1),
      |                  i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (qn * e.nrm) AS cos
      |      FROM n e, q WHERE e.vec_id >= 5),
      |r AS (SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank FROM c)
      |SELECT r.qid, r.nid, r.rank, d.lang, d.n_chars
      |FROM r JOIN documents d ON r.nid = d.doc_id
      |WHERE r.rank <= 3 ORDER BY r.qid, r.rank""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val top = e.filter(col("vec_id") >= 5).crossJoin(broadcast(q))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 3)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"))
    top.join(Tables.documents(s, d), top("nid") === col("doc_id"))
      .select(col("qid"), col("nid"), col("rank"), col("lang"), col("n_chars"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Cosine threshold above which two embeddings count as semantic
    * duplicates (s06). */
  val semanticThreshold = 0.35

  /** Clusters each vector probes in s06's pair generation. 1 = classic
    * SemDeDup (primary cell only); 2 recovers the near-boundary pairs
    * whose members' top-2 cells overlap — the dominant share of the
    * cross-cluster loss — at ≤ (probes²/1)× the pair-join work. */
  val semanticProbes = 2

  /** Target members per s06 cell. Cell count k = max(ivfK,
    * ⌈n/target⌉) GROWS with the corpus, so the within-cell pair join
    * does Σ|cell|² ≈ n·target work — linear in n. A fixed k would make
    * it n²/k: the round-8 rotated-copy `Harness proof` measured that
    * (ratio 8.5 at 10×) before k went dynamic. */
  val semanticCellTarget = 512

  /** ≈ vectors Lloyd trains on for s06's quantizer (sampleMod =
    * n/this). Keeps training O(sample·dim·k) — linear in n since k
    * grows with n — instead of O(n·dim·k); n ≤ this trains on the
    * full corpus, which covers every committed testdata scale, so the
    * SemDedupSpec gates pin the exact historical behavior. */
  val semanticTrainSample = 2048

  /** Coarse groups each vector descends into during hierarchical
    * assignment. 1 = pure tree descent; 2 recovers vectors whose true
    * nearest fine cell sits just across a coarse boundary — the same
    * boundary-loss argument as [[semanticProbes]], one level up. */
  val semanticCoarseProbes = 2

  /** Fine-cell count at which [[semanticAssignments]] switches from the
    * flat n·k pass to coarse-then-fine. Below it k is within a small
    * constant of [[ivfK]] — the flat pass is already linear and cheaper
    * than training a second quantizer level. */
  val semanticHierarchicalMinCells = 64

  /** Corpus → `probes` nearest trained centroids, the shared
    * assignment step of s03 (query probing) and s06 (cluster-restricted
    * dedup). Output: (vec_id, embedding, cluster), one row per probed
    * cell — `probes = 1` is plain nearest-centroid assignment.
    *
    * Because s06's cell count k = ⌈n/[[semanticCellTarget]]⌉ grows
    * with the corpus, a flat nearest-centroid pass is O(n·k) =
    * O(n²/target) — the one all-pairs-shaped term the operator family
    * otherwise avoids. Above [[semanticHierarchicalMinCells]] cells the
    * assignment therefore goes HIERARCHICAL (the IVF-PQ layering):
    * group the k fine centroids into k₁ = ⌈√k⌉ coarse cells (Lloyd
    * over the centroids themselves — O(k·k₁), driver-free), send each
    * vector to its [[semanticCoarseProbes]] nearest coarse cells
    * (O(n·k₁)), and rank only those cells' fine centroids
    * (O(n·probes·k/k₁) in expectation). Total O(n·√k) centroid
    * comparisons instead of O(n·k); recursing the same construction
    * gives O(n·log k) if √k itself ever outgrows a broadcast. The
    * descent is approximate (a vector's true nearest fine cell can sit
    * in an unprobed coarse cell) — SemDedupSpec forces this path on
    * testdata and gates candidate-space exactness, assignment
    * cardinality, and end-to-end recall under it. */
  private[graft] def semanticAssignments(
      e: org.apache.spark.sql.DataFrame,
      probes: Int = 1,
      hierarchical: Option[Boolean] = None): org.apache.spark.sql.DataFrame = {
    val n = e.count()
    val k = math.max(ivfK, math.ceil(n.toDouble / semanticCellTarget).toInt)
    val m = math.max(1L, n / semanticTrainSample)
    val cent = Clustering.trainCentroids(e, k, iters = 1, sampleMod = m)
    val useHier = hierarchical.getOrElse(k >= semanticHierarchicalMinCells)
    if (!useHier) {
      e.crossJoin(broadcast(centArray(cent)))
        .select(col("vec_id"), col("embedding"),
          explode(topCellsCol(col("cents"), col("embedding"), probes)).as("pc"))
        .select(col("vec_id"), col("embedding"), col("pc.cid").as("cluster"))
    } else {
      val k1 = math.max(2, math.ceil(math.sqrt(k.toDouble)).toInt)
      // coarse level trains directly on the fine centroids as a
      // corpus (cids are distinct, trainCentroids seeds from the k₁
      // smallest sampled ids — no dense re-id needed, which also
      // keeps a single-partition row_number over all k fine
      // centroids out of the plan: at extreme scale k itself is
      // corpus/512 and a global window over it would be the
      // bottleneck this branch exists to remove)
      val coarse = Clustering.trainCentroids(
          cent.select(col("cid").as("vec_id"), col("ce").as("embedding")), k1)
        .select(col("cid").as("gid"), col("ce").as("ge"))
      // fine centroid → its ONE nearest coarse group: O(k·k₁) rows.
      // The helper's fold scores cosine(candidate, emb) with the
      // candidate first — the same (ge, ce) argument order as before.
      val fineGroup = cent.crossJoin(broadcast(centArray(
          coarse.select(col("gid").as("cid"), col("ge").as("ce")))))
        .withColumn("best", bestCellCol(col("cents"), col("ce")))
        .select(col("best.cid").as("gid"), col("cid"), col("ce"))
      // a coarse group can end up with ZERO fine members (every fine
      // centroid nearer some other group) — ranking vectors against
      // such a group would silently drop any vector whose
      // [[semanticCoarseProbes]] nearest groups are all empty. Restrict
      // the descent to LIVE groups so every probe lands somewhere;
      // both relations are O(k)-small, the join is broadcast-trivial.
      val liveCoarse = coarse.join(
        fineGroup.select(col("gid")).distinct(), Seq("gid"))
      // vector → top coarse groups: the only corpus-wide centroid scan,
      // O(n·k₁) = O(n·√k) cosines — held as a per-row ARRAY of probed
      // group ids (no explode, no shuffle)
      val vg = e.crossJoin(broadcast(centArray(
          liveCoarse.select(col("gid").as("cid"), col("ge").as("ce")))))
        .select(col("vec_id"), col("embedding"),
          transform(topCellsCol(col("cents"), col("embedding"),
            semanticCoarseProbes), p => p("cid")).as("gids"))
      // vector → top `probes` fine cells among its probed groups only:
      // the per-group fine-centroid lists ride ONE broadcast map row
      // (gid → cid-sorted array), each vector flattens its probed
      // groups' lists and ranks them in-row — the whole descent is
      // map-side; O(k) state, O(probes·k/k₁) expected candidates/row
      val gmap = fineGroup.groupBy(col("gid"))
        .agg(array_sort(collect_list(struct(col("cid"), col("ce")))).as("arr"))
        .groupBy()
        .agg(map_from_entries(collect_list(struct(col("gid"), col("arr"))))
          .as("gmap"))
      vg.crossJoin(broadcast(gmap))
        .withColumn("cand",
          flatten(transform(col("gids"), g => element_at(col("gmap"), g))))
        .select(col("vec_id"), col("embedding"),
          explode(topCellsCol(col("cand"), col("embedding"), probes)).as("pc"))
        .select(col("vec_id"), col("embedding"), col("pc.cid").as("cluster"))
    }
  }

  /** Semantic (embedding-space) dedup, SemDeDup-style with multi-probe
    * assignment: k-means cluster the corpus, assign each vector to its
    * top-[[semanticProbes]] cells, then score pairwise cosine ONLY
    * within each cell and report pairs above [[semanticThreshold]] —
    * near-duplicate meaning, not near-duplicate text, which neither
    * exact digests nor shingle LSH can see. A pair is found iff the two
    * vectors co-occur in SOME probed cell; multi-probe widens that to
    * top-2 cells, recovering the near-boundary pairs single-probe
    * SemDeDup loses. Pairs found in both shared cells are deduped AFTER
    * the threshold filter (cheap — only survivors reach the groupBy),
    * reporting the smallest generating cell id. SemDedupSpec pins the
    * result to brute force restricted to probe-set-intersecting pairs
    * (exactness of the candidate space) and measures global recall.
    *
    * At scale: pair generation is a self-join on the cluster id, so
    * work is probes²·Σ|cell|² instead of n² — and the cell count
    * genuinely grows with the corpus ([[semanticCentroids]]: k =
    * ⌈n/[[semanticCellTarget]]⌉, sample-trained) keeping |cell|
    * bounded, which makes the pair join O(n·target), linear.
    * Assignment is one broadcast pass (n·k dense cosines — at extreme
    * scale assign hierarchically through s03's fixed-k coarse cells
    * first, the IVF-PQ layering); no full-corpus pairwise stage exists
    * anywhere in the plan.
    *
    * Oracled r11: every stage is deterministic, so the DuckDB mirror
    * replays it exactly — dynamic k = max(8, ⌈n/512⌉), the vec_id-mod
    * training sample, first-k seed, one DECIMAL Lloyd iteration,
    * top-2 cosine assignment, within-cell pair join, threshold, and
    * the min-cluster/max-cos pair dedup. The mirror replays the FLAT
    * assignment path, which is the path taken wherever k <
    * semanticHierarchicalMinCells (every correctness-gate SF); at a
    * corpus large enough to flip to hierarchical descent the compare
    * would fail loudly rather than silently pass — that path's
    * candidate-space exactness is gated by SemDedupSpec, which forces
    * BOTH paths on the same corpus. */
  val semanticDedup: QueryEntry = QueryEntry(
    "s06_semantic_dedup",
    s"""WITH kk AS (SELECT GREATEST($ivfK, CAST(CEIL(COUNT(*) / $semanticCellTarget.0) AS INT)) AS k,
       |                   GREATEST(1, COUNT(*) // $semanticTrainSample) AS m FROM embeddings),
       |v AS (SELECT vec_id, u['dim'] AS dim, CAST(u['x'] AS DOUBLE) AS x
       |      FROM (SELECT vec_id,
       |              unnest(list_transform(range(1, len(embedding) + 1),
       |                     i -> {'dim': i - 1, 'x': embedding[i]})) AS u
       |            FROM embeddings)
       |      WHERE vec_id % (SELECT m FROM kk) = 0),
       |seed AS (SELECT vec_id FROM (SELECT DISTINCT vec_id FROM v)
       |         QUALIFY ROW_NUMBER() OVER (ORDER BY vec_id) <= (SELECT k FROM kk)),
       |c0 AS (SELECT v.vec_id AS cl, dim, x AS c FROM v JOIN seed USING (vec_id)),
       |d1 AS (SELECT v.vec_id, c0.cl,
       |              SUM(CAST((v.x - c0.c) * (v.x - c0.c) AS DECIMAL(28,18))) AS dist
       |       FROM v JOIN c0 ON v.dim = c0.dim GROUP BY 1, 2),
       |a1 AS (SELECT vec_id, cl FROM (
       |         SELECT vec_id, cl,
       |                ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY dist, cl) AS rk
       |         FROM d1) WHERE rk = 1),
       |c1 AS (SELECT cl, dim,
       |              CAST(SUM(CAST(x AS DECIMAL(28,12))) AS DOUBLE) / COUNT(*) AS c
       |       FROM v JOIN a1 USING (vec_id) GROUP BY 1, 2),
       |cent AS (SELECT cl AS cid, list(c ORDER BY dim) AS ce FROM c1 GROUP BY 1),
       |centn AS (SELECT cid, ce,
       |            sqrt(list_sum(list_transform(range(1, len(ce) + 1),
       |                 i -> ce[i] * ce[i]))) AS cnrm
       |          FROM cent),
       |n AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
       |             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |      FROM embeddings),
       |sc AS (SELECT e.vec_id, c.cid,
       |         list_sum(list_transform(range(1, len(e.embedding) + 1),
       |           i -> CAST(e.embedding[i] AS DOUBLE) * c.ce[i])) / (e.nrm * c.cnrm) AS cs
       |       FROM n e, centn c),
       |assigned AS (SELECT vec_id, cid AS cluster FROM (
       |       SELECT vec_id, cid,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS crn
       |       FROM sc) WHERE crn <= $semanticProbes),
       |pairs AS (SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id
       |          FROM assigned a JOIN assigned b USING (cluster)
       |          WHERE a.vec_id < b.vec_id),
       |scored AS (SELECT p.cluster, p.a_id, p.b_id,
       |        list_sum(list_transform(range(1, len(x.embedding) + 1),
       |             i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
       |          / (x.nrm * y.nrm) AS cos
       |      FROM pairs p JOIN n x ON x.vec_id = p.a_id JOIN n y ON y.vec_id = p.b_id),
       |surv AS (SELECT a_id, b_id, MIN(cluster) AS cluster, MAX(cos) AS cos
       |         FROM scored WHERE cos >= $semanticThreshold GROUP BY 1, 2)
       |SELECT cluster, a_id, b_id, cos FROM surv ORDER BY a_id, b_id""".stripMargin
  ) { (s, d) =>
    semanticPairs(semanticAssignments(Tables.embeddings(s, d), semanticProbes))
  }

  /** s06's pair stage over a (vec_id, embedding, cluster) assignment
    * relation — factored out so SemDedupSpec can run the identical
    * pipeline over forced-flat and forced-hierarchical assignments. */
  private[graft] def semanticPairs(
      assigned: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val a = assigned.select(col("cluster"), col("vec_id").as("a_id"), col("embedding").as("ea"))
    val b = assigned.select(col("cluster"), col("vec_id").as("b_id"), col("embedding").as("eb"))
    a.join(b, Seq("cluster"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cos", cosine_similarity(col("ea"), col("eb")))
      .filter(col("cos") >= semanticThreshold)
      .groupBy(col("a_id"), col("b_id"))
      .agg(min(col("cluster")).as("cluster"), max(col("cos")).as("cos"))
      .select(col("cluster"), col("a_id"), col("b_id"), col("cos"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** PQ geometry: [[pqSubspaces]] orthogonal subspaces of
    * [[pqSubDim]] dims each (64 = 8×8), [[pqK]] centroids per
    * subspace. A corpus vector compresses to 8 one-byte codes — 32×
    * smaller than the 256-byte float32 vector — and that is the ONLY
    * per-vector state the approximate scan touches. */
  val pqSubspaces = 8
  val pqSubDim = 8
  val pqK = 16

  /** Candidates per query surviving the ADC scan into exact rerank. */
  val pqCandidates = 50

  /** Codebook-training sample size target (the [[semanticTrainSample]]
    * recipe): training sees ~this many vectors regardless of corpus
    * size, so the Lloyd passes are corpus-independent — the FAISS
    * posture, where only the single ENCODE pass touches every vector. */
  val pqTrainSample = 2048

  /** Subspace-exploded view: (vec_id, sub, sdim, x), x widened to
    * double (exact for float32 input). */
  private def subExploded(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"),
        (col("dim") / pqSubDim).cast("int").as("sub"),
        (col("dim") % pqSubDim).as("sdim"),
        col("xf").cast("double").as("x"))

  /** Train the product-quantization codebook (first-k init + one Lloyd
    * iteration per subspace, ALL subspaces in one relational pass,
    * over the deterministic `vec_id % sampleMod == 0` sample) and
    * encode the corpus under it. Training on a bounded sample makes
    * the Lloyd passes corpus-independent; only the final encode
    * assignment scans every vector — before round 8's sample fix both
    * Lloyd assigns ran over the full corpus, doubling the 100-TB scan
    * count for no codebook-quality gain. Returns (codebook, codes):
    * codebook = (sub, cl, sdim, c) with ≤ [[pqSubspaces]]·[[pqK]]
    * centroids — O(M·k·d/M) = O(k·d) state, corpus-independent, always
    * broadcastable; codes = (vec_id, sub, cl), the 8-byte-per-vector
    * compressed corpus. Distances sum in DECIMAL so assignment argmins
    * are partitioning-independent (the s05/lloydStep recipe). */
  /** Subvector view: (vec_id, sub, xs) with xs the sub'th
    * [[pqSubDim]]-dim slice (element type preserved — SquaredL2 widens
    * per element in codegen) — one row per (vector, subspace), 8×
    * fewer rows than the per-dimension explode, and the shape
    * [[graft.functions.VectorFunctions.SquaredL2]] consumes. */
  private def subVec(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.select(col("vec_id"),
        explode(sequence(lit(0), lit(pqSubspaces - 1))).as("sub"),
        col("embedding"))
      .select(col("vec_id"), col("sub"),
        expr(s"slice(embedding, sub * $pqSubDim + 1, $pqSubDim)").as("xs"))

  /** Codebook rows (sub, cl, sdim, c) → per-(sub, cl) centroid ARRAYS
    * — the broadcastable form the PQ assignment scores against. Dims
    * are unique per (sub, cl), so the struct sort is total. */
  private def pqCodebookArrays(cb: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cb.groupBy(col("sub"), col("cl"))
      .agg(transform(array_sort(collect_list(struct(col("sdim"), col("c")))),
        s => s("c")).as("cs"))

  /** Array-form codebook rows (sub, cl, cs) → ONE broadcastable row
    * `(cbs: array<struct<sub, arr: array<struct<cl,cs>>>>)`, sub- and
    * cl-ascending — the form the zero-shuffle encode folds over. Subs
    * are contiguous 0..M−1 by construction ([[subVec]] explodes the
    * full range), so element_at(cbs, sub+1) is the sub'th entry. */
  private def codebookArray(cbArr: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cbArr.groupBy(col("sub"))
      .agg(array_sort(collect_list(struct(col("cl"), col("cs")))).as("arr"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("sub"), col("arr")))).as("cbs"))
      .where(size(col("cbs")) > 0)

  /** All [[pqSubspaces]] codes of one vector as a per-row expression:
    * per subspace, argmin over the broadcast centroid list of the SAME
    * codegen'd squared-L2 the row form used, (dist ASC, cl ASC) tie
    * rule via a strict `<` fold over the cl-ascending array — output
    * is the FAISS codes8 layout directly, with zero explode, zero
    * window, zero groupBy (previously: explode to 8 rows/vector,
    * window over (vec_id, sub), then a groupBy(vec_id) collect — two
    * corpus-wide exchanges per encode). */
  private def pqCodes8Col(cbs: Column, emb: Column): Column =
    graft.functions.VectorFunctions.pq_encode8(cbs, emb, pqSubspaces, pqSubDim)

  /** PQ-encode under a FROZEN per-dim codebook straight into the FAISS
    * codes8 layout — (vec_id, codes8) plus any `carry` columns ridden
    * through (the cell id, in the IVF-PQ paths — previously a join
    * back onto the assignment). One map-only pass; see
    * [[pqCodes8Col]]. The append path (s19) uses this to encode an
    * arriving batch against STORED state without retraining. */
  private[graft] def pqCodes(in: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame,
      carry: Seq[String] = Nil): org.apache.spark.sql.DataFrame =
    in.crossJoin(broadcast(codebookArray(pqCodebookArrays(cb))))
      .select(col("vec_id") +:
        pqCodes8Col(col("cbs"), col("embedding")).as("codes8") +:
        carry.map(col): _*)

  private[graft] def pqTrain(e: org.apache.spark.sql.DataFrame,
      sampleMod: Long = 1L)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.types.DecimalType
    // training sample: ids 0, m, 2m, … — deterministic, pushes below
    // any upstream window/join on vec_id (the trainCentroids recipe)
    val es = if (sampleMod == 1L) e else e.filter(col("vec_id") % sampleMod === 0)
    val c0 = subVec(es).filter(col("vec_id") < pqK * sampleMod)
      .select(col("sub"), col("vec_id").as("cl"), col("xs").as("cs"))
    // Lloyd assignment of the (bounded) sample under the init
    // codebook: the same per-row argmin fold as the encode, exploded
    // back to (vec_id, sub, cl) rows for the mean update's join
    val codes0 = es.crossJoin(broadcast(codebookArray(c0)))
      .select(col("vec_id"),
        posexplode(pqCodes8Col(col("cbs"), col("embedding")))
          .as(Seq("sub", "cl")))
    // mean update stays decimal-exact: it SUMS ACROSS the (bounded)
    // sample's rows, where accumulation order is partition-dependent
    val c1 = subExploded(es).join(codes0, Seq("vec_id", "sub"))
      .groupBy(col("sub"), col("cl"), col("sdim"))
      .agg((sum(col("x").cast(DecimalType(28, 12))).cast("double") /
        count(lit(1))).as("c"))
    // dense-remap centroid ids to 0..k−1 per subspace (init ids are
    // sample vec_ids): codes become true small ints and the ADC flat
    // LUT key sub·k + code stays compact. Window runs over ≤ M·k·d/M
    // codebook rows, hash-partitioned by sub.
    // the O(M·k·subDim) codebook is read at least twice by every
    // caller (the returned encode plus its own LUT/probe heads)
    val c1d = materialize(c1.withColumn("cl",
      (expr("dense_rank() OVER (PARTITION BY sub ORDER BY cl)") - 1).cast("long")))
    (c1d, pqCodes(e, c1d))
  }

  /** Σ_sub lut[sub·k + codes8[sub]] as a FIXED 8-term codegen'd sum —
    * a pure per-row double, partitioning-independent by construction.
    * The LUT is a DENSE array (possible because centroid ids are
    * dense-remapped 0..k−1), so each term is an O(1) array index —
    * a map-typed LUT measured 5× slower end-to-end because Spark maps
    * are unsorted arrays and element_at(map, key) linear-scans all
    * M·k entries per lookup. element_at on arrays is 1-based. */
  private def lutSum(lut: Column): Column =
    (0 until pqSubspaces).map(sub =>
      element_at(lut,
        (element_at(col("codes8"), sub + 1) + lit(sub * pqK + 1)).cast("int")))
      .reduce(_ + _)

  /** (sub, cl, v) rows → a dense M·k-slot double array indexed
    * sub·k+cl (0-based slot; unassigned slots null, never referenced
    * because codes only carry live centroid ids). Aggregate-then-
    * expand: the map is built once per GROUP (O(M·k) rows), the dense
    * expansion costs M·k map probes at construction — not per corpus
    * row. */
  private def lutArr(v: Column): Column = {
    val m = map_from_entries(collect_list(struct(
      (col("sub") * pqK + col("cl")).cast("int").as("k"),
      v.cast("double").as("v"))))
    transform(sequence(lit(0), lit(pqSubspaces * pqK - 1)),
      i => element_at(m, i.cast("int")))
  }

  // ── zero-aggregation ADC state (r20 optimization round) ────────────
  //
  // The probe's lookup state (cdot/csq/cnorm/qc/pdot) was previously
  // derived RELATIONALLY: explode centroids and queries to per-dim
  // rows, join against per-dim codebook rows, and run ~8 tiny
  // grouped decimal sums — each one an Exchange plus (under AQE) its
  // own query-stage job, ~20 exchanges per probe over relations that
  // are all O(k·M·pqK) and corpus-independent (the r19 "not yet
  // optimized" headline; optimization guide §2.4 remove shuffles
  // outright). Every one of those sums is a dot product between two
  // SMALL per-row arrays that already ride the broadcast centArray /
  // codebookArray rows — so, exactly like the r19 assignment folds,
  // the state now derives per ROW through two compiled expressions
  // (VectorFunctions.DecimalDot / PqLut): zero explodes, zero joins,
  // zero aggregations, zero exchanges. A higher-order-function fold
  // spelling of the same state was built and MEASURED first (this
  // round): oracle-identical, but s12/s19 ran ~1–2 s SLOWER than the
  // relational shape — interpreted evaluation plus per-query-stage
  // planning of the nested lambda trees cost more than the ~20 tiny
  // exchanges they removed (the same negative result r19 recorded for
  // the assignment fold, which is why these are compiled expressions).
  //
  // Bit parity: each slot is Σ DECIMAL(28,18)(aᵢ·bᵢ) accumulated AT
  // (28,18) — Add gives (29,18), exact, and the cast back is lossless
  // at these magnitudes (the Clustering.nearestDecimal recipe). The
  // relational sum() accumulated the SAME addends at (38,18), also
  // exact, so both totals are the same rational number and cast to
  // the same double. All consumers (s08/s12/s19 + s07 and their
  // dependents) re-passed the DuckDB oracle hash-identical on
  // sf0.001 AND sf0.01.

  /** Exact-decimal dot product — compiled
    * CAST(Σ_i DECIMAL(28,18)(a_i·b_i) AS DOUBLE), the identical
    * addends the old `sum((a*b).cast(DECIMAL(28,18)))` aggregates
    * saw (elements widen to double first; exact for float input). */
  private def ddot(a: Column, b: Column): Column =
    graft.functions.VectorFunctions.decimal_dot(a, b)

  /** Dense M·k ADC LUT (the [[lutArr]] layout: slot sub·pqK+cl, dead
    * slots null) built per ROW against the broadcast codebook-array
    * row `cbs`: slot value = ddot(vec slice, cs), or ddot(cs, cs)
    * when `squared`. One compiled per-row call. */
  private def lutOf(cbs: Column, vec: Column, squared: Boolean): Column =
    graft.functions.VectorFunctions.pq_lut(
      cbs, vec, pqSubspaces, pqSubDim, pqK, squared)

  /** Product-quantization ANN (s07) — the compressed-scan scale path:
    * the ADC (asymmetric distance computation) phase ranks the corpus
    * touching ONLY the 8-byte PQ codes plus a broadcast per-query
    * lookup table, and the exact cosine runs on just [[pqCandidates]]
    * survivors per query. Approximate score = q·x̂ / ‖x̂‖ with x̂ the
    * codebook reconstruction: subspaces are orthogonal, so q·x̂ =
    * Σ_sub pdot(sub, code) and ‖x̂‖² = Σ_sub ‖c_sub‖² — both table
    * lookups. The per-query table is (M·k) entries built against the
    * O(k·d) codebook, flattened to an int-keyed lookup MAP; ADC itself
    * is a map-only scan of ONE row per vector (its 8 codes as an
    * array) against the broadcast LUTs, scoring with a fixed 8-term
    * codegen'd sum — no shuffle, no aggregation, and the per-row
    * fixed-order double sum is partitioning-independent (the earlier
    * shape shuffled 8 rows per (query, vector) into a decimal
    * aggregate for the same guarantee at 8× the rows).
    *
    * At 100 TB: the float corpus is read ONCE (train + encode); every
    * search after that scans 8 B/vector instead of 256 B — the FAISS
    * PQ argument relationally — and rerank I/O is O(queries·C·dim).
    * Compose with s03's coarse quantizer for IVF-PQ (probe, then
    * ADC-scan the probed cells' codes). "Probabilistic" only in
    * recall: since r11 the DuckDB mirror ([[IvfOracle.pqProbeOracle]])
    * replays training, dense remap, frozen-codebook encode, the
    * DECIMAL LUTs, the subspace-ordered ADC fold, and the exact
    * rerank — codes AND neighbor lists hash-gated. RecallSpec gates
    * recall@5 vs s01 ground truth, PqSpec codebook/code-state bounds. */
  val annPq: QueryEntry = QueryEntry(
    "s07_ann_pq", IvfOracle.pqProbeOracle
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    // footer-only count (aggregate pushdown) sizing the training sample
    val (codebook, codes) = pqTrain(e, math.max(1L, e.count() / pqTrainSample))
    pqProbe(e, codebook, codes)
  }

  /** PQ probe — the query-side half of s07 against a trained codebook
    * and the corpus's codes8 rows. A query whose embedding is NULL or
    * shorter than subspaces·subDim has no LUT and is absent from the
    * output, as under the relational LUT shape this replaced. */
  private[graft] def pqProbe(e: org.apache.spark.sql.DataFrame,
      codebook: org.apache.spark.sql.DataFrame,
      codes: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // per-query LUTs — pmap(sub·k+cl) = dot(q|sub, centroid),
    // qmap(sub·k+cl) = ‖centroid‖² — in ONE map pass per query row
    // against the one-row broadcast codebook array: zero joins, zero
    // aggregations (see the zero-aggregation ADC note; previously a
    // per-dim codebook join + two grouped decimal sums + a lutArr
    // groupBy — 3 exchanges)
    val lut = e.filter(col("vec_id") < 10)
      .crossJoin(broadcast(codebookArray(pqCodebookArrays(codebook))))
      .select(col("vec_id").as("qid"),
        lutOf(col("cbs"), col("embedding"), squared = false).as("pmap"),
        lutOf(col("cbs"), col("embedding"), squared = true).as("qmap"))
      .filter(col("pmap").isNotNull)
    val cand = codes.filter(col("vec_id") >= 10)
      .crossJoin(broadcast(lut))
      .withColumn("ascore", lutSum(col("pmap")) / sqrt(lutSum(col("qmap"))))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("vec_id"))))
      .filter(col("arn") <= pqCandidates)
      .select(col("qid"), col("vec_id"))
    val qe = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    cand.join(e, Seq("vec_id")).join(broadcast(qe), Seq("qid"))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** IVF-PQ ANN (s08) — the composition the s07 scaladoc promises and
    * the FAISS workhorse index: s03's fixed-[[ivfK]] coarse quantizer
    * prunes the corpus to each query's [[ivfProbes]] nearest cells, and
    * within them scoring runs on [[pqSubspaces]]-byte RESIDUAL codes
    * (PQ trained on x − c(x), which has far less variance than x, the
    * standard fidelity win). The ADC decomposition keeps everything a
    * broadcast-table lookup in exact decimal:
    *
    *   dot(q, x̂) = dot(q, c) + Σ_sub pdot(qid, sub, code)
    *   ‖x̂‖²     = ‖c‖² + 2·Σ_sub cdot(cell, sub, code) + Σ_sub csq(sub, code)
    *
    * where pdot is O(queries·M·k), cdot O(cells·M·k), and the per-cell
    * scalars O(cells) — all corpus-independent broadcast state. The
    * scan phase touches ~nprobe/k of the corpus's 8-byte codes; the
    * exact cosine reranks only [[pqCandidates]] survivors per query.
    * Probabilistic recall → rows-only; RecallSpec gates recall@5
    * (bounded above by s03's probed-cell recall, approached from below
    * as the top-C rerank absorbs ADC ranking error). */
  val annIvfPq: QueryEntry = QueryEntry(
    "s08_ann_ivfpq",
    // oracled r11: the full residual IVF-PQ chain replayed
    // (IvfOracle.ivfPqProbeOracle) - coarse + residual-PQ training,
    // frozen-state encode, DECIMAL ADC state, clamped ADC scan, rerank
    IvfOracle.ivfPqProbeOracle()
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val (cent, codebook, codesCell) = ivfPqBuild(e)
    ivfPqProbe(e, cent, codebook, codesCell)
  }

  /** Nearest-cell assignment KEEPING the winning centroid vector
    * (vec_id, embedding, cell, ce) — the form residual coding needs:
    * one broadcast-fold map pass, one row out per vector, zero
    * shuffles. */
  private def assignCellsWithCe(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.crossJoin(broadcast(centArray(cent)))
      .withColumn("best", bestCellCol(col("cents"), col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("best.cid").as("cell"), col("best.ce").as("ce"))

  /** Per-vector residual r = x − c(x) over an [[assignCellsWithCe]]
    * relation, the cell id ridden through (its consumers previously
    * joined the assignment back by vec_id to recover it). */
  private def cellResiduals(assigned: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    assigned.select(col("vec_id"),
      zip_with(col("embedding"), col("ce"),
        (x, c) => x.cast("double") - c).as("embedding"),
      col("cell"))

  /** Assign + residual-encode vectors under FROZEN stored state (the
    * s19 append path and its spec's rebuild twin): nearest stored
    * cell, residual against that centroid, PQ codes under the stored
    * codebook — (vec_id, codes8, cell), exactly [[ivfPqBuild]]'s
    * stored layout, with zero training anywhere — and, since the r19
    * fold rework, zero shuffles: assignment, residual, and all 8
    * code argmins run inside one map pass over the batch. */
  private[graft] def ivfPqEncodeCells(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      cb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    pqCodes(cellResiduals(assignCellsWithCe(e, cent)), cb,
      carry = Seq("cell"))

  /** IVF-PQ index construction — the corpus-scanning half of s08,
    * factored out so s12 can persist its outputs: the O(k) coarse
    * centroid table, the O(M·k) residual codebook, and the compressed
    * corpus (vec_id, codes8, cell) — 8 bytes + a cell id per vector. */
  private[graft] def ivfPqBuild(e: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    // one footer-only count sizes BOTH quantizers' training samples
    val n = e.count()
    // The three index relations are materialized once — the in-memory
    // analogue of the persisted s12 index, read by the probe's many
    // aggregation heads (cdot/csq/cnorm/pdot/qc; lazy, s08's plan had
    // 96 corpus scans). Sizes: cent O(ivfK) rows, codebook
    // O(M·k·subDim) — both trivially resident; codes 8 B + a cell id
    // per vector — the FAISS in-RAM index, i.e. the state a 100 TB
    // deployment persists instead (s12's parquet layout).
    val cent = ivfCentroids(e, n)
    // residuals r = x − c(x) with the cell ridden through — since the
    // r19 fold rework assignment + residual is ONE map pass (no
    // window exchange, no join back for the cell id)
    val residuals = cellResiduals(assignCellsWithCe(e, cent))
    // sample-trained on residuals: the vec_id % m filter pushes below
    // the coarse-assignment fold, so training never assigns the full
    // corpus to cells twice
    // pqTrain returns the codebook already materialized (train-once)
    val (codebook, _) = pqTrain(residuals,
      math.max(1L, n / pqTrainSample))
    // encode under the MATERIALIZED codebook (pqCodes is exactly the
    // encode half of pqTrain, so the codes are bit-identical — the
    // oracle replays the same frozen-state chain)
    val codesCell = materialize(pqCodes(residuals, codebook, carry = Seq("cell")))
    (cent, codebook, codesCell)
  }

  /** IVF-PQ probe — the query-side half of s08, reading ONLY the index
    * relations plus the raw corpus for the final exact rerank (a
    * by-id fetch of [[pqCandidates]]·queries vectors). All ADC
    * lookup state (cdot/csq/cnorm and the per-query LUTs) derives
    * from the centroid table and codebook — O(k·M·[[pqK]]) work,
    * corpus-independent — so a stored index needs no corpus scan to
    * probe. A query whose embedding is NULL or shorter than
    * subspaces·subDim has no LUT and is absent from the output. */
  private[graft] def ivfPqProbe(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame,
      codebook: org.apache.spark.sql.DataFrame,
      codesCell: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // Per-cell ADC state — cmap(cell, sub·k+cl) = dot(c_cell|sub,
    // centroid), cnormsq(cell) = ‖c_cell‖², sqmap(sub·k+cl) =
    // ‖centroid‖² — derived in ONE map pass over the O(k) exploded
    // broadcast centroid row crossed with the one-row codebook array:
    // zero joins, zero aggregations (see the zero-aggregation note
    // above; previously 3 per-dim joins + 5 grouped decimal sums).
    val cbsA = codebookArray(pqCodebookArrays(codebook))
    val cellState = centArray(cent).crossJoin(cbsA)
      .select(explode(col("cents")).as("c"), col("cbs"))
      .select(col("c.cid").as("cell"),
        lutOf(col("cbs"), col("c.ce"), squared = false).as("cmap"),
        ddot(col("c.ce"), col("c.ce")).as("cnormsq"),
        lutOf(col("cbs"), col("c.ce"), squared = true).as("sqmap"))
    // Query side, same discipline: per query row, the probed cells
    // (the centroid vector rides the topCells struct, so qc = dot(q,c)
    // is a per-row fold too) and the pmap LUT — then ONE tiny join
    // packs the per-cell state on, so the corpus-side ADC scan pays a
    // SINGLE broadcast join for all of its lookup state (previously
    // four: probeList, pLut, cellState, qc).
    val probeState = e.filter(col("vec_id") < 10)
      .crossJoin(broadcast(centArray(cent))).crossJoin(broadcast(cbsA))
      .select(col("vec_id").as("qid"), col("embedding"),
        explode(topCellsCol(col("cents"), col("embedding"), ivfProbes)).as("pc"),
        lutOf(col("cbs"), col("embedding"), squared = false).as("pmap"))
      // a NULL or short query embedding has no LUT: the query is dropped
      .filter(col("pmap").isNotNull)
      .select(col("qid"), col("pc.cid").as("cell"),
        ddot(col("embedding"), col("pc.ce")).as("qc"), col("pmap"))
      .join(cellState, Seq("cell"))
    // ADC scan restricted to probed cells: ONE row per (query, vector)
    // carrying the vector's 8-code array, scored by three fixed 8-term
    // codegen'd LUT sums — map-only after the single broadcast join,
    // no shuffle, no aggregation (the earlier shape shuffled 8 rows
    // per (query, vector) into decimal sums for the same
    // partitioning-independence a per-row fixed-order fold gives free)
    val cand = codesCell.filter(col("vec_id") >= 10)
      .join(broadcast(probeState), Seq("cell"))
      // ‖x̂‖² is a fixed-order double sum that can round to a tiny
      // negative near zero; sqrt would then yield NaN, which Spark
      // sorts ABOVE every double descending — clamp at 0 and rank
      // degenerate reconstructions last instead of first
      .withColumn("dsq", greatest(lit(0d),
        col("cnormsq") + lit(2) * lutSum(col("cmap")) +
          lutSum(col("sqmap"))))
      .withColumn("ascore", when(col("dsq") > 0d,
        (col("qc") + lutSum(col("pmap"))) / sqrt(col("dsq")))
        .otherwise(lit(Double.MinValue)))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("vec_id"))))
      .filter(col("arn") <= pqCandidates)
      .select(col("qid"), col("vec_id"))
    val qe = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    cand.join(e, Seq("vec_id")).join(broadcast(qe), Seq("qid"))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** s09's rerank depth: int8 direction error is tiny (≤ 0.4% per
    * dim), so a shallow exact rerank already recovers the true top-5. */
  val sqCandidates = 20

  /** Scalar-quantized int8 ANN (s09) — the simplest compressed-scan
    * index and the one production systems reach for before PQ:
    * per-vector symmetric quantization code_i = round(x_i / s) with
    * s = max|x_i| / 127, giving a 1-byte-per-dimension corpus (d bytes
    * vs 4d float — a 4× scan-I/O cut with no training phase, no
    * codebook state, and per-vector — not per-batch — error bounds).
    * Cosine is invariant to per-vector scaling, so the approximate
    * phase scores the integer CODES directly — cos(q, s·c) = cos(q, c)
    * — in the same codegen'd CosineSimilarity loop as the float path
    * (the expression accepts array<tinyint>; no interpreted
    * reconstruction in the hot loop). The scale column still ships
    * with the codes: it is what a dot-product or L2 consumer would
    * need, and the SqSpec reconstruction gate proves the pair is a
    * faithful 1-byte encoding. Exact cosine reranks the top
    * [[sqCandidates]] survivors per query.
    *
    * At 100 TB: encode is one corpus pass (the HOF encode cost is paid
    * once, off the query path); every search after that streams d
    * bytes/vector with no exchange until the per-query top-C window on
    * candidate IDs. Probabilistic ranking → rows-only; RecallSpec
    * gates recall@5 against s01 and SqSpec gates the quantization
    * invariants. */
  val annSq: QueryEntry = QueryEntry(
    "s09_ann_sq",
    // oracled r11: per-vector scale, HALF-UP int8 codes, the
    // approximate cosine scan over codes, the top-20 screen, and the
    // exact rerank all replayed — both engines round half away from
    // zero and the int codes make the approximate dot exact
    """WITH n AS (SELECT vec_id, embedding,
      |        sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |      FROM embeddings),
      |sc AS (SELECT vec_id, embedding,
      |         GREATEST(CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE),
      |                  CAST(1e-30::FLOAT AS DOUBLE)) / 127 AS scale
      |       FROM embeddings WHERE vec_id >= 10),
      |coded AS (SELECT vec_id,
      |            list_transform(range(1, len(embedding) + 1),
      |              i -> round(CAST(embedding[i] AS DOUBLE) / scale)) AS codes
      |          FROM sc),
      |cn AS (SELECT vec_id, codes,
      |         sqrt(list_sum(list_transform(range(1, len(codes) + 1),
      |              i -> codes[i] * codes[i]))) AS cnrm
      |       FROM coded),
      |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 10),
      |cand AS (SELECT qid, vec_id FROM (
      |          SELECT q.qid, c.vec_id,
      |                 ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
      |                   list_sum(list_transform(range(1, len(q.qe) + 1),
      |                     i -> CAST(q.qe[i] AS DOUBLE) * c.codes[i])) / (q.qn * c.cnrm)
      |                   DESC, c.vec_id) AS arn
      |          FROM cn c, q) WHERE arn <= 20),
      |scored AS (SELECT qid, cand.vec_id AS nid,
      |        list_sum(list_transform(range(1, len(x.embedding) + 1),
      |             i -> CAST(x.embedding[i] AS DOUBLE) * CAST(y.embedding[i] AS DOUBLE)))
      |          / (x.nrm * y.nrm) AS cos
      |      FROM cand JOIN n x ON x.vec_id = cand.qid
      |                JOIN n y ON y.vec_id = cand.vec_id)
      |SELECT qid, nid, rank, cos FROM (
      |  SELECT qid, nid, cos,
      |         ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cos DESC, nid) AS rank
      |  FROM scored)
      |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val coded = sqEncode(e.filter(col("vec_id") >= 10))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val cand = coded.crossJoin(broadcast(q))
      .withColumn("ascore", cosine_similarity(col("qe"), col("codes")))
      .withColumn("arn", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("ascore").desc, col("vec_id"))))
      .filter(col("arn") <= sqCandidates)
      .select(col("qid"), col("vec_id"))
    cand.join(e, Seq("vec_id")).join(broadcast(q), Seq("qid"))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** The int8 encode behind [[annSq]]: (vec_id, scale, codes) with
    * codes ∈ [-127, 127]^d and scale = max|x|/127 (floored away from
    * zero so an all-zero vector encodes to zero codes instead of
    * NaN). Kept package-visible so SqSpec can gate the encoding
    * invariants directly. */
  private[graft] def sqEncode(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    e.select(col("vec_id"), col("embedding"),
        (greatest(array_max(transform(col("embedding"), x => abs(x))), lit(1e-30f))
          .cast("double") / 127d).as("scale"))
      .select(col("vec_id"), col("scale"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("scale")).cast("tinyint")).as("codes"))
  }

  /** s10's metadata predicate over `documents` — the production
    * retrieval filter ("English, substantial pages only"). Selectivity
    * ~0.3 on testdata; FilteredAnnSpec re-derives it independently. */
  private[graft] def filteredEligible(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .filter(col("lang") === "en" && col("n_chars") >= 200)
      .select(col("doc_id").as("vec_id"))

  /** Filtered ANN (s10): top-k under a metadata predicate — the
    * production retrieval shape. The predicate is applied BEFORE
    * candidate generation: the corpus semi-joins to the eligible
    * document ids, then the IVF index is trained on and probed over
    * the FILTERED corpus, so selectivity composes with the index
    * (probing touches ~nprobe/k of the eligible vectors). The
    * alternative — post-filtering an unfiltered top-k — starves: at
    * selectivity σ a top-5 needs ~5/σ unfiltered candidates, and any
    * fixed candidate budget under-delivers as σ shrinks.
    *
    * At 100 TB the semi-join is a shuffle on narrow (vec_id) keys —
    * the eligible side is corpus-proportional, so it is NOT
    * broadcast; everything downstream inherits s03's scale shape
    * (O(k) centroid broadcast, per-cell rerank). Probabilistic IVF
    * recall → rows-only; FilteredAnnSpec gates predicate soundness,
    * no-starvation, and recall vs predicate-restricted brute force. */
  val annFiltered: QueryEntry = QueryEntry(
    "s10_ann_filtered",
    // oracled r11: s03's mirror with BOTH the training population and
    // the assigned corpus restricted to the metadata-eligible ids --
    // filter-then-index, exactly the entry's semantics
    IvfOracle.probeOracle(
      trainWhere = "vec_id >= 10 AND vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200)",
      assignedWhere = "vec_id IN (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200)")
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val corpus = e.filter(col("vec_id") >= 10)
      .join(filteredEligible(s, d), Seq("vec_id"), "left_semi")
    val cent = ivfCentroids(corpus)
    val centA = centArray(cent)
    val assigned = corpus.crossJoin(broadcast(centA))
      .withColumn("best", bestCellCol(col("cents"), col("embedding")))
      .select(col("vec_id"), col("embedding"), col("best.cid").as("cluster"))
    // queries are NOT subject to the predicate — they probe the
    // filtered index with the same multi-cell rule as s03
    val qprobe = e.filter(col("vec_id") < 10).crossJoin(broadcast(centA))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(topCellsCol(col("cents"), col("embedding"), ivfProbes)).as("pc"))
      .select(col("qid"), col("qe"), col("pc.cid").as("cluster"))
    assigned.join(broadcast(qprobe), Seq("cluster"))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Root of every persisted index (s11–s14): session conf
    * `graft.index.root`, default `/dev/shm/graftindex` locally, layout
    * `<root>/<entry>/<dataset>/…`. SINGLE-WRITER contract: each entry
    * (re)builds its index with `mode(overwrite)` as a side effect of
    * DataFrame construction, so two concurrent invocations over the
    * same (entry, dataset) race — one overwrite can delete part files
    * mid-read of the other's probe scan. Concurrent runs must set
    * distinct roots (`spark.conf.set("graft.index.root", …)`); the
    * bench/verify harnesses are sequential by construction. Plan-only
    * inspection also triggers the build — the eager write is the
    * honest cost of a build+probe entry; a production caller splits
    * build from probe and reuses the directory. */
  /** Local default is tmpfs for the same reason `spark.local.dir` is
    * (GraftSession): this VM's block device shows sporadic
    * multi-second sync stalls that land inside index-writing entries'
    * timings (r19: s15 swung 4.1 → 8.9 s between isolated runs with
    * the canary flat); scratch index state on a real cluster sits on
    * node-local NVMe or HDFS. Production callers set
    * `graft.index.root` explicitly — the p25 scratch-root pattern. */
  private[graft] def indexDir(s: org.apache.spark.sql.SparkSession,
      entry: String, d: String): String =
    s.conf.get("graft.index.root", "/dev/shm/graftindex") + "/" + entry +
      "/" + d.replaceAll("[^a-zA-Z0-9]", "_")

  /** Nearest-centroid assignment WITH the winning cosine
    * (vec_id, embedding, cluster, cs) — the raw form [[nearestCells]]
    * projects and the drift monitor (s16) aggregates: the assignment
    * quality statistic costs nothing extra because the cosine is
    * already computed to pick the cell. */
  private[graft] def assignCells(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.crossJoin(broadcast(centArray(cent)))
      .withColumn("best", bestCellCol(col("cents"), col("embedding")))
      .select(col("vec_id"), col("embedding"),
        col("best.cid").as("cluster"), col("best.cs").as("cs"))

  /** Nearest-centroid assignment (vec_id, embedding, cluster) — the
    * shared build step of the cell-partitioned index family
    * (s11/s13/s14): one broadcast pass over the corpus, one row out
    * per vector. */
  private[graft] def nearestCells(e: org.apache.spark.sql.DataFrame,
      cent: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    assignCells(e, cent)
      .select(col("vec_id"), col("embedding"), col("cluster"))

  /** Probe of a stored cell-partitioned index (s11's layout): rank the
    * stored centroids per query, read ONLY the probed cells via
    * dynamic partition pruning, exact-rerank inside them. `eligible`
    * (s13) restricts candidates to an id set BEFORE ranking —
    * filter-then-rank, so the top-5 is never starved by ineligible
    * high-scorers. */
  private[graft] def probeStoredCells(s: org.apache.spark.sql.SparkSession,
      idxDir: String, e: org.apache.spark.sql.DataFrame,
      eligible: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    probeAssignedCells(s.read.parquet(s"$idxDir/centroids"),
      s.read.parquet(s"$idxDir/cells"), e, eligible)

  /** [[probeStoredCells]] over already-loaded index relations —
    * factored so PersistedAnnSpec can probe an in-memory full rebuild
    * under pinned centroids and compare against the stored path. */
  private[graft] def probeAssignedCells(centS: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame, e: org.apache.spark.sql.DataFrame,
      eligible: Option[org.apache.spark.sql.DataFrame] = None,
      tombstones: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame =
    probeAssignedCellsWith(centS, cells.filter(col("vec_id") >= 10),
      e.filter(col("vec_id") < 10), eligible, tombstones)

  /** Batch probe of a stored s11-layout index with an EXPLICIT query
    * relation `(vec_id, embedding)` — the production serving shape
    * (thousands of queries against a frozen index per batch), where
    * the entries' fixed `vec_id < 10` probe set is a 10-query
    * correctness harness. Same plan skeleton as the entries: broadcast
    * the O(queries·k) probe relation, dynamic-partition-prune to the
    * probed cells, exact-rerank inside them. */
  private[graft] def probeStoredCellsBatch(
      s: org.apache.spark.sql.SparkSession, idxDir: String,
      queries: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    probeAssignedCellsWith(s.read.parquet(s"$idxDir/centroids"),
      s.read.parquet(s"$idxDir/cells"), queries)

  private[graft] def probeAssignedCellsWith(
      centS: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      eligible: Option[org.apache.spark.sql.DataFrame] = None,
      tombstones: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    val qprobe = queries.crossJoin(broadcast(centArray(centS)))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(topCellsCol(col("cents"), col("embedding"), ivfProbes)).as("pc"))
      .select(col("qid"), col("qe"), col("pc.cid").as("cluster"))
    val cand = cells.join(broadcast(qprobe), Seq("cluster"))
    // predicate BEFORE ranking (corpus-proportional but id-only:
    // shuffled semi-join, never broadcast)
    val kept = eligible.fold(cand)(el => cand.join(el, Seq("vec_id"), "left_semi"))
    // tombstones (s18): deleted ids are masked at probe time by an
    // anti-join — O(deleted) and id-only, the mirror of `eligible`
    val live = tombstones.fold(kept)(tb => kept.join(tb, Seq("vec_id"), "left_anti"))
    live
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Persisted-index ANN (s11): the production "train once, probe
    * many" shape s01–s10 lack — every other entry rebuilds its index
    * per query. The IVF index is materialized as parquet ONCE per
    * corpus: the O(k) centroid table, plus the corpus vectors
    * `partitionBy(cluster)` — the FAISS inverted-list file layout
    * expressed as a partitioned table, where one cell = one partition
    * directory. Probing then reads ONLY the probed cells: the tiny
    * query-probe relation broadcast-joins the index on the PARTITION
    * column, so Spark's dynamic partition pruning skips every
    * unprobed cell's files at scan time (PersistedAnnSpec pins the
    * dynamicpruning filter in the plan). At 100 TB that is the whole
    * point of an index: a top-k probe touches ~nprobe/k of the stored
    * bytes, verified here by plan shape rather than trusted.
    *
    * The entry measures build + probe (honest for a benchmark); a
    * production caller builds once and reuses [[indexDir]]. Results
    * are IDENTICAL to s03 (same quantizer, same probe rule, same
    * rerank — PersistedAnnSpec asserts row equality), so correctness
    * rides on s03's RecallSpec gate. */
  val annPersisted: QueryEntry = QueryEntry(
    "s11_ann_persisted",
    // oracled r11: the stored-layout probe is row-identical to s03
    // (PersistedAnnSpec), so s03's mirror IS this entry's oracle --
    // the persistence layer is now gated engine-vs-engine, not only
    // stored-vs-rebuilt
    IvfOracle.probeOracle()
  ) { (s, d) =>
    val idxDir = indexDir(s, "s11", d)
    val e = Tables.embeddings(s, d)
    writeIvfIndex(e, idxDir)
    // probe path: STORED state only (plus the query vectors)
    probeStoredCells(s, idxDir, e)
  }

  /** Share of the corpus that arrives AFTER the initial index build in
    * [[annPersistedAppend]] — vectors with vec_id ≡ 7 (mod 10), ~10%,
    * a disjoint deterministic slice of every id range. */
  private val appendMod = 7

  /** Incremental index maintenance (s14): the one production operation
    * a "train once, probe many" index still needs — absorb an arriving
    * vector batch WITHOUT retraining. The initial build trains the
    * quantizer on the base corpus only (~90%, vec_id ≢ [[appendMod]]
    * mod 10) and persists s11's layout; the append pass then assigns
    * the arriving batch against the STORED centroids — a broadcast of
    * O(k) frozen state, one map pass over the batch, `mode(append)` on
    * the cell partitions — touching zero existing files and zero base
    * vectors. Probing is byte-identical to s11's (same stored layout),
    * and because assignment is a pure per-vector function of the
    * frozen centroids, probe-after-append ≡ probe of a full rebuild
    * with the same centroids pinned — PersistedAnnSpec asserts exactly
    * that equivalence, plus dynamic partition pruning on the probe.
    *
    * At 100 TB this is what makes the stored index sustainable over a
    * growing corpus: each ingest batch costs O(batch·k) assignment
    * cosines and appends O(batch) rows into existing cell directories;
    * the quantizer is retrained only when drift (cell-size skew, rising
    * assignment distance) says so — a monitored offline decision, not a
    * per-batch cost. Probabilistic recall (rides s03's quantizer) →
    * rows-only. */
  val annPersistedAppend: QueryEntry = QueryEntry(
    "s14_ann_persisted_append",
    // oracled r11: append under frozen centroids == assignment of the
    // whole corpus against a quantizer trained on the base slice only
    // (probe-after-append == full-rebuild probe, the PersistedAnnSpec
    // equivalence, now hash-gated against the oracle engine)
    IvfOracle.probeOracle(
      trainWhere = "NOT (vec_id % 10 = 7 AND vec_id >= 10)")
  ) { (s, d) =>
    val idxDir = indexDir(s, "s14", d)
    val e = Tables.embeddings(s, d)
    val arriving = col("vec_id") % 10 === appendMod && col("vec_id") >= 10
    writeIvfIndex(e.filter(!arriving), idxDir)
    // INCREMENTAL APPEND: assign the arriving batch against the STORED
    // centroids (no retrain, no rewrite of existing cell files)
    nearestCells(e.filter(arriving), s.read.parquet(s"$idxDir/centroids"))
      .write.mode("append").partitionBy("cluster").parquet(s"$idxDir/cells")
    probeStoredCells(s, idxDir, e)
  }

  /** Persisted IVF-PQ (s12): s11's stored-index economics applied to
    * the COMPRESSED index — what production vector stores actually
    * persist. Stored state: the O(k) centroid table, the O(M·[[pqK]])
    * residual codebook, and the corpus as (vec_id, codes8)
    * `partitionBy(cell)` — 8 bytes + ids per vector, ~32× less than
    * s11's raw float vectors. Probing derives every ADC lookup table
    * from the two small stored relations (no corpus scan), reads only
    * the probed cells' code files via dynamic partition pruning, and
    * fetches raw vectors by id solely for the top-[[pqCandidates]]
    * exact rerank. At 100 TB a probe therefore touches
    * ~nprobe/k × 8-byte codes plus candidates — the FAISS on-disk
    * story end-to-end, as a partitioned table. PersistedAnnSpec
    * asserts exact row equality with s08 (the identical build state
    * round-tripped through parquet) and pins the dynamicpruning
    * filter on the codes scan. */
  val annIvfPqPersisted: QueryEntry = QueryEntry(
    "s12_ann_ivfpq_persisted",
    // oracled r11: persistence changes bytes, not rows (stored ==
    // fresh, PersistedAnnSpec) - s08's mirror IS this entry's oracle
    IvfOracle.ivfPqProbeOracle()
  ) { (s, d) =>
    val idxDir = indexDir(s, "s12", d)
    val e = Tables.embeddings(s, d)
    val (cent, codebook, codesCell) = ivfPqBuild(e)
    codesCell.write.mode("overwrite").partitionBy("cell").parquet(s"$idxDir/codes")
    cent.write.mode("overwrite").parquet(s"$idxDir/centroids")
    codebook.write.mode("overwrite").parquet(s"$idxDir/codebook")
    ivfPqProbe(e,
      s.read.parquet(s"$idxDir/centroids"),
      s.read.parquet(s"$idxDir/codebook"),
      s.read.parquet(s"$idxDir/codes"))
  }

  /** Filter-at-probe ANN (s13): s10's predicate served from a SHARED
    * stored index — the other half of the filtered-retrieval
    * trade-off. s10 pre-filters and indexes the eligible corpus
    * (best recall, but one index per predicate); s13 probes the
    * general cell-partitioned index (s11's layout, one index for
    * every query) and applies the predicate to candidates BEFORE
    * ranking — filter-then-rank inside the probed cells, so the
    * top-5 is taken over eligible candidates only, never starved by
    * ineligible high-scorers. The residual loss vs s10 is structural:
    * eligible vectors whose cells the query doesn't probe
    * (FilteredAnnSpec measures both recalls side by side).
    *
    * Scale shape: stored-index probe with dynamic partition pruning
    * (s11), plus one narrow semi-join of the probed cells' members
    * against the eligible-id relation — corpus-proportional but
    * id-only, shuffled not broadcast. */
  val annFilteredProbe: QueryEntry = QueryEntry(
    "s13_ann_filtered_probe",
    // oracled r11: full-corpus index, eligibility applied to the
    // probed candidates BEFORE ranking (filter-then-rank)
    IvfOracle.probeOracle(candWhere = "nid IN (SELECT doc_id FROM documents WHERE lang = 'en' AND n_chars >= 200)")
  ) { (s, d) =>
    val idxDir = indexDir(s, "s13", d)
    val e = Tables.embeddings(s, d)
    writeIvfIndex(e, idxDir)
    probeStoredCells(s, idxDir, e, eligible = Some(filteredEligible(s, d)))
  }

  /** Stored-index compaction (s15) — the maintenance op that keeps
    * s14's economics honest over many ingest batches: each append
    * drops a few small files into every touched cell directory, so an
    * index that absorbs thousands of batches degrades into a
    * small-files problem (per-file open/footer cost starts to rival
    * the data read; at 100 TB object stores bill per request).
    * Compaction rewrites the fragmented index into a NEW generation
    * dir — one key-sorted file per cell, via a single hash
    * repartition on the cell id — and probes from it; existing
    * generations are never rewritten in place, so a reader racing the
    * compactor sees a complete old generation (the delete-after-cutover
    * is the catalog's job, not the engine's). Contents are untouched,
    * only layout changes: PersistedAnnSpec asserts probe-from-compacted
    * ≡ probe-from-fragmented row-for-row, that the fragmented index
    * really was multi-file per cell, and that the compacted one is
    * single-file per cell. Probabilistic recall (s03's quantizer) →
    * rows-only. */
  val annIndexCompact: QueryEntry = QueryEntry(
    "s15_index_compact",
    // oracled r11: compaction changes bytes, not rows -- the probe
    // equals assignment under the base-slice-trained quantizer
    IvfOracle.probeOracle(
      trainWhere = "NOT (vec_id % 10 IN (7, 8, 9) AND vec_id >= 10)")
  ) { (s, d) =>
    val idxDir = indexDir(s, "s15", d)
    val e = Tables.embeddings(s, d)
    def batch(m: Int) = col("vec_id") % 10 === m && col("vec_id") >= 10
    val isBase = !(batch(7) || batch(8) || batch(9))
    writeIvfIndex(e.filter(isBase), idxDir)
    // three s14-style ingest batches fragment the cell directories
    Seq(7, 8, 9).foreach { m =>
      nearestCells(e.filter(batch(m)), s.read.parquet(s"$idxDir/centroids"))
        .write.mode("append").partitionBy("cluster").parquet(s"$idxDir/cells")
    }
    // COMPACT: new generation, one sorted file per cell (hash
    // repartition on the partition column → each cell lands in
    // exactly one task)
    s.read.parquet(s"$idxDir/cells")
      .repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$idxDir/cells_g2")
    probeAssignedCells(
      s.read.parquet(s"$idxDir/centroids"),
      s.read.parquet(s"$idxDir/cells_g2"), e)
  }

  /** Share-ratio band and assignment-cosine drop beyond which
    * [[annIndexDrift]] flags a cell for retraining. */
  private[graft] val driftShareBand = 2.0
  private[graft] val driftCosDrop = 0.05

  /** Index drift monitor (s16) — the retrain DECISION INPUT the
    * append path (s14) defers to: "the quantizer is retrained only
    * when drift says so". Baseline per-cell statistics (member count,
    * mean assignment cosine) are computed during the base build — from
    * the SAME assignment pass that places vectors into cells, so they
    * cost nothing extra — and stored as an O(k) relation next to the
    * centroids. At each ingest batch, the monitor computes the
    * identical statistics for the ARRIVING vectors only (again free:
    * the append pass already assigns them) and emits one row per cell:
    * base vs new share, share ratio, mean-cosine drop, and a retrain
    * flag (share shifted beyond [[driftShareBand]]× in either
    * direction, or assignment quality dropped by [[driftCosDrop]]).
    *
    * At 100 TB nothing here scans stored data: the monitor reads two
    * O(k) relations and folds the in-flight batch — the index is never
    * re-opened, and retraining stays a monitored offline decision
    * instead of a per-batch cost.
    *
    * Determinism (r11, p16's nano-unit discipline): each assignment
    * cosine freezes to round(cs·10⁹) before the per-cell mean, so the
    * mean is an integer-sum ratio — order-free AND exactly mirrorable
    * in the oracle (the raw double mean's fold order was
    * engine-specific, the old rows-only reason; a 10⁻⁹ quantization is
    * noise against the 0.05 drift threshold). Fully oracled: the
    * mirror replays the base-slice quantizer, both stat tables, and
    * the share/ratio/drop/retrain algebra with identical expression
    * order. IndexDriftSpec's crafted-drift gate unchanged. */
  val annIndexDrift: QueryEntry = QueryEntry(
    "s16_index_drift",
    s"""WITH ${IvfOracle.ivfCtes(
          "NOT (vec_id % 10 = 7 AND vec_id >= 10) AND vec_id >= 10")},
       |asg AS (SELECT vec_id, cid AS cluster,
       |               CAST(round(cs * 1000000000) AS BIGINT) AS csn
       |        FROM rn JOIN sc USING (vec_id, cid)
       |        WHERE crn = 1),
       |bstat AS (SELECT cluster, COUNT(*) AS base_n,
       |                 (CAST(SUM(csn) AS DOUBLE) / COUNT(*)) / 1e9 AS base_cos
       |          FROM asg
       |          WHERE NOT (vec_id % 10 = 7 AND vec_id >= 10) AND vec_id >= 10
       |          GROUP BY 1),
       |nstat AS (SELECT cluster, COUNT(*) AS new_n,
       |                 (CAST(SUM(csn) AS DOUBLE) / COUNT(*)) / 1e9 AS new_cos
       |          FROM asg
       |          WHERE vec_id % 10 = 7 AND vec_id >= 10
       |          GROUP BY 1),
       |tt AS (SELECT (SELECT CAST(SUM(base_n) AS DOUBLE) FROM bstat) AS bt,
       |              (SELECT CAST(SUM(new_n) AS DOUBLE) FROM nstat) AS nt),
       |j AS (SELECT COALESCE(b.cluster, ne.cluster) AS cluster,
       |             COALESCE(b.base_n, 0) AS base_n, COALESCE(ne.new_n, 0) AS new_n,
       |             COALESCE(b.base_n, 0) / tt.bt AS base_share,
       |             COALESCE(ne.new_n, 0) / tt.nt AS new_share,
       |             b.base_cos, ne.new_cos
       |      FROM bstat b FULL OUTER JOIN nstat ne ON ne.cluster = b.cluster, tt),
       |r AS (SELECT *,
       |        CASE WHEN base_share > 0 THEN new_share / base_share END AS share_ratio,
       |        CASE WHEN base_cos IS NOT NULL AND new_cos IS NOT NULL
       |             THEN base_cos - new_cos END AS cos_drop
       |      FROM j)
       |SELECT cluster, base_n, new_n, base_share, new_share, base_cos, new_cos,
       |       share_ratio, cos_drop,
       |       (COALESCE(share_ratio >= $driftShareBand, TRUE)
       |        OR COALESCE(share_ratio <= ${1.0 / driftShareBand}, TRUE)
       |        OR COALESCE(cos_drop >= $driftCosDrop, FALSE)) AS retrain
       |FROM r ORDER BY cluster""".stripMargin
  ) { (s, d) =>
    val idxDir = indexDir(s, "s16", d)
    val e = Tables.embeddings(s, d)
    val arriving = col("vec_id") % 10 === appendMod && col("vec_id") >= 10
    val base = e.filter(!arriving && col("vec_id") >= 10)
    val cent = ivfCentroids(base)
    // base build: cells + centroids + the O(k) per-cell baseline stats
    val assignedBase = assignCells(base, cent)
    assignedBase.drop("cs")
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$idxDir/cells")
    cent.write.mode("overwrite").parquet(s"$idxDir/centroids")
    // nano-quantized mean (p16's fixed-point discipline): integer sum
    // over round(cs·1e9), divided out at the end — order-free and
    // oracle-exact where a raw double avg's fold order is not
    def meanCosNano(cs: Column): Column =
      (sum(round(cs * 1e9).cast("long")).cast("double") / count(lit(1))) / 1e9
    assignedBase.groupBy(col("cluster"))
      .agg(count(lit(1)).as("base_n"), meanCosNano(col("cs")).as("base_cos"))
      .write.mode("overwrite").parquet(s"$idxDir/stats")
    // ingest batch: same stats over the arriving vectors, assigned
    // against the STORED centroids (the s14 append pass's by-product)
    val newStats = assignCells(e.filter(arriving),
        s.read.parquet(s"$idxDir/centroids"))
      .groupBy(col("cluster"))
      .agg(count(lit(1)).as("new_n"), meanCosNano(col("cs")).as("new_cos"))
    val baseStats = s.read.parquet(s"$idxDir/stats")
    val totals = baseStats.agg(sum(col("base_n")).cast("double").as("bt"))
      .crossJoin(newStats.agg(sum(col("new_n")).cast("double").as("nt")))
    baseStats.join(newStats, Seq("cluster"), "full_outer")
      .crossJoin(broadcast(totals))
      .select(col("cluster"),
        coalesce(col("base_n"), lit(0L)).as("base_n"),
        coalesce(col("new_n"), lit(0L)).as("new_n"),
        (coalesce(col("base_n"), lit(0L)) / col("bt")).as("base_share"),
        (coalesce(col("new_n"), lit(0L)) / col("nt")).as("new_share"),
        col("base_cos"), col("new_cos"))
      .withColumn("share_ratio",
        when(col("base_share") > 0, col("new_share") / col("base_share")))
      .withColumn("cos_drop",
        when(col("base_cos").isNotNull && col("new_cos").isNotNull,
          col("base_cos") - col("new_cos")))
      .withColumn("retrain",
        coalesce(col("share_ratio") >= driftShareBand, lit(true)) ||
          coalesce(col("share_ratio") <= lit(1.0) / driftShareBand, lit(true)) ||
          coalesce(col("cos_drop") >= driftCosDrop, lit(false)))
      .orderBy(col("cluster"))
  }

  /** MMR trade-off weight (relevance vs diversity) and selection size
    * for [[annMmr]]. */
  private[graft] val mmrLambda = 0.7
  private[graft] val mmrK = 5
  private[graft] val mmrPool = 20

  /** MMR-diversified retrieval (s17) — the rerank between ANN and the
    * consumer: plain top-k returns near-duplicates of one answer when
    * the corpus is redundant (exactly what a dedup-worthy corpus is);
    * Maximal Marginal Relevance greedily picks [[mmrK]] results that
    * balance query relevance against redundancy with what is already
    * selected: argmax λ·cos(q,d) − (1−λ)·max_{s∈S} cos(d,s).
    *
    * Two-stage shape: stage 1 is s01's corpus pass (broadcast queries,
    * one scan) truncated to a [[mmrPool]]-candidate pool per query via
    * the bounded WindowGroupLimit top-k; stage 2 is the greedy loop —
    * [[mmrK]] bounded iterations over O(queries·pool) rows, every join
    * keyed on qid, nothing corpus-sized (the pool is materialized
    * once so the corpus scan never re-executes). At 100 TB the corpus
    * cost is exactly one s01 pass (or any indexed entry swapped in as
    * the candidate generator); the rerank cost is independent of
    * corpus size, the property that makes MMR deployable. Oracled
    * r11: the greedy loop is mmrK−1 deterministic argmax steps, so
    * the mirror unrolls them ([[IvfOracle.mmrTailSql]]) with the same
    * float arithmetic (bit-identical λ / 1−λ literals) and tiebreaks;
    * MmrSpec's selection-order invariants and diversity-gain
    * measurements unchanged. */
  val annMmr: QueryEntry = QueryEntry(
    "s17_ann_mmr",
    s"""WITH n AS (SELECT vec_id, embedding,
       |        sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
       |             i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
       |      FROM embeddings),
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 10),
       |pool AS MATERIALIZED (SELECT qid, vec_id, cos FROM (
       |       SELECT q.qid, c.vec_id,
       |              list_sum(list_transform(range(1, len(q.qe) + 1),
       |                i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |                / (q.qn * c.nrm) AS cos,
       |              ROW_NUMBER() OVER (PARTITION BY q.qid ORDER BY
       |                list_sum(list_transform(range(1, len(q.qe) + 1),
       |                  i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |                  / (q.qn * c.nrm) DESC, c.vec_id) AS rk
       |       FROM n c, q WHERE c.vec_id >= 10) WHERE rk <= $mmrPool),
       |${IvfOracle.mmrTailSql()}""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val pool = materialize(e.filter(col("vec_id") >= 10).crossJoin(broadcast(q))
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= mmrPool)
      .select(col("qid"), col("vec_id"), col("embedding"), col("cos")))
    mmrSelect(pool)
  }

  /** s17's greedy MMR loop over a (qid, vec_id, embedding, cos)
    * candidate pool — factored so any stage-1 candidate generator
    * (s01's corpus pass in s17, the filtered stored-index probe in
    * s20) can feed the same rerank. The pool must already be bounded
    * per query, and callers materialize it so the generator never
    * re-executes inside the loop.
    *
    * The growing selection is materialized PER ITERATION: each step
    * references `sel` three times (the union's kept branch, the
    * anti-join mask, and the diversity join), so a lazy loop re-inlines
    * the previous step's whole subtree 3× per round — 3^k plan growth
    * (161 leaf scans and a ~7,900-line formatted plan at mmrK = 5, the
    * r19 adjudication of the s20 elevation; the same re-inlined-subtree
    * class as s08's lazy index relations at r18, one level up — here
    * the data stays tiny but the OPTIMIZER/CODEGEN cost explodes, a
    * driver-side bottleneck no executor count fixes). Materializing
    * the O(queries·k)-row selection keeps the plan linear in k;
    * superseded snapshots are released immediately
    * (connectedComponents' discipline). */
  private[graft] def mmrSelect(pool: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    var sel = materialize(pool
      .withColumn("r", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("r") === 1)
      .select(col("qid"), col("vec_id"), col("embedding"), col("cos"),
        lit(1).as("rank")))
    for (k <- 2 to mmrK) {
      val remaining = pool.join(
        sel.select(col("qid"), col("vec_id")), Seq("qid", "vec_id"), "left_anti")
      val scored = remaining
        .join(sel.select(col("qid"), col("embedding").as("se")), Seq("qid"))
        .withColumn("sim", cosine_similarity(col("embedding"), col("se")))
        .groupBy(col("qid"), col("vec_id"))
        .agg(first(col("embedding")).as("embedding"), first(col("cos")).as("cos"),
          max(col("sim")).as("maxsim"))
        .withColumn("mmr",
          lit(mmrLambda) * col("cos") - lit(1 - mmrLambda) * col("maxsim"))
      val next = materialize(sel.unionByName(scored
        .withColumn("r", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("mmr").desc, col("vec_id"))))
        .filter(col("r") === 1)
        .select(col("qid"), col("vec_id"), col("embedding"), col("cos"),
          lit(k).as("rank"))))
      // the superseded snapshot's blocks are dead once `next` holds the
      // union of it and the new pick — free them now, not at GC
      release(sel)
      sel = next
    }
    sel.select(col("qid"), col("vec_id").as("nid"), col("rank"), col("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Deleted slice for [[annPersistedDelete]]: vec_id ≡ 3 (mod 10),
    * corpus rows only (~10%) — disjoint from [[appendMod]]'s slice. */
  private val deleteMod = 3

  /** Tombstone deletes + delete-aware compaction (s18) — the LAST
    * lifecycle operation the stored index family needed: s11 builds,
    * s14 appends, s15 compacts, s16 decides retraining — s18 REMOVES
    * (takedowns, opt-outs, and dedup verdicts all delete vectors from
    * a 100 TB index that cannot be rewritten per request). Two-phase,
    * the LSM discipline every production store uses:
    *
    *  1. DELETE is a metadata write: the deleted ids land in an
    *     O(deleted) tombstone relation next to the index; no cell
    *     file is touched. Probes mask tombstones with an id-only
    *     anti-join (the mirror of s13's eligible semi-join) — cost
    *     O(candidates), correct immediately.
    *  2. COMPACTION (s15's generation discipline) folds tombstones
    *     physically: one anti-join during the generation rewrite, one
    *     sorted file per cell, and the new generation needs no mask —
    *     probes drop the anti-join and the tombstone set resets with
    *     the old generation's retirement.
    *
    * Because deletion is set subtraction under a FROZEN quantizer,
    * probe-with-tombstones ≡ probe of an index built without the
    * deleted vectors under the same centroids, and compaction changes
    * bytes but not rows — PersistedAnnSpec asserts both equivalences
    * and that the compacted generation contains zero tombstoned ids.
    * Probabilistic recall (s03's quantizer) → rows-only. */
  val annPersistedDelete: QueryEntry = QueryEntry(
    "s18_index_delete",
    // oracled r11: tombstoned ids are masked from the candidate set;
    // quantizer trained on the full corpus as the entry does
    IvfOracle.probeOracle(
      candWhere = "NOT (nid % 10 = 3 AND nid >= 10)")
  ) { (s, d) =>
    val idxDir = indexDir(s, "s18", d)
    val e = Tables.embeddings(s, d)
    writeIvfIndex(e, idxDir)
    // DELETE: O(deleted) ids, written beside the index — zero cell
    // files touched, effective at the very next probe
    e.filter(col("vec_id") % 10 === deleteMod && col("vec_id") >= 10)
      .select(col("vec_id"))
      .write.mode("overwrite").parquet(s"$idxDir/tombstones")
    // COMPACT: fold tombstones into generation 2 (one anti-join inside
    // the s15 rewrite), after which no probe-time mask is needed
    val tomb = s.read.parquet(s"$idxDir/tombstones")
    s.read.parquet(s"$idxDir/cells")
      .join(tomb, Seq("vec_id"), "left_anti")
      .repartition(col("cluster"))
      .sortWithinPartitions(col("cluster"), col("vec_id"))
      .write.mode("overwrite").partitionBy("cluster").parquet(s"$idxDir/cells_g2")
    probeAssignedCells(s.read.parquet(s"$idxDir/centroids"),
      s.read.parquet(s"$idxDir/cells_g2"), e)
  }

  /** Incremental append for the COMPRESSED persisted index (s19) —
    * s14's economics carried to the index production actually stores
    * (s12's IVF-PQ): absorb an arriving batch with BOTH quantizers
    * frozen. The append pass assigns each arriving vector to its
    * nearest STORED coarse cell, residual-encodes it under the STORED
    * codebook ([[pqEncode]] — the training loop never runs), and
    * `mode(append)`s (vec_id, codes8) rows into the cell partitions:
    * O(batch·(k + M·pqK)) distance folds and 8 bytes + ids of new
    * index per vector, zero existing files touched, zero corpus
    * re-reads.
    *
    * Because assignment and encoding are pure per-vector functions of
    * the frozen stored state, probe-after-append ≡ probe of the whole
    * corpus re-encoded under the same state — PersistedAnnSpec asserts
    * that equivalence exactly (the stored base codes must also match
    * the rebuild's base codes bit-for-bit, or the join would diverge).
    * Drift accumulates in the RESIDUALS as the true cell population
    * shifts — s16's monitor is the retrain trigger here too.
    * Probabilistic recall → rows-only. */
  val annIvfPqAppend: QueryEntry = QueryEntry(
    "s19_ivfpq_append",
    // oracled r11: both quantizers trained on the base slice, the
    // whole corpus (base + arriving) encoded under the frozen state -
    // append == rebuild, now gated against the oracle engine
    IvfOracle.ivfPqProbeOracle(
      baseWhere = "NOT (vec_id % 10 = 7 AND vec_id >= 10)")
  ) { (s, d) =>
    val idxDir = indexDir(s, "s19", d)
    val e = Tables.embeddings(s, d)
    val arriving = col("vec_id") % 10 === appendMod && col("vec_id") >= 10
    val (cent, codebook, codesCell) = ivfPqBuild(e.filter(!arriving))
    codesCell.write.mode("overwrite").partitionBy("cell").parquet(s"$idxDir/codes")
    cent.write.mode("overwrite").parquet(s"$idxDir/centroids")
    codebook.write.mode("overwrite").parquet(s"$idxDir/codebook")
    val storedCent = s.read.parquet(s"$idxDir/centroids")
    val storedCb = s.read.parquet(s"$idxDir/codebook")
    // INCREMENTAL APPEND: frozen-state encode of the arriving batch,
    // appended into existing cell partitions
    ivfPqEncodeCells(e.filter(arriving), storedCent, storedCb)
      .write.mode("append").partitionBy("cell").parquet(s"$idxDir/codes")
    ivfPqProbe(e, storedCent, storedCb, s.read.parquet(s"$idxDir/codes"))
  }

  /** Composed retrieval pipeline (s20) — the production serving path
    * as ONE plan, proving the retrieval operators chain the way p12
    * proved the data-prep operators chain: stored-index build (s11's
    * cell-partitioned layout) → predicate filter at probe (s13's
    * filter-then-rank eligible semi-join) → bounded candidate pool →
    * greedy MMR diversification (s17's rerank, shared [[mmrSelect]]).
    * A user of the reference composes exactly this from its pieces;
    * here the composition is a single lazy DataFrame whose stages fuse
    * under Catalyst — past the index build, only the pool is
    * materialized (it bounds the rerank's input at O(queries·pool) and
    * stops the probe re-running inside the greedy loop).
    *
    * Scale posture inherits each stage's argument: the probe reads
    * only probed cells (dynamic partition pruning, pinned), the
    * eligible set is an id-only shuffled semi-join applied BEFORE
    * ranking (no starvation), and the rerank cost is
    * corpus-independent. Oracled r11: the composition is a pure
    * chain of already-transcribed stages — s03's quantizer mirror,
    * s13's eligible screen, the bounded pool, and the unrolled MMR
    * tail — so the whole serving path is hash-gated end-to-end;
    * MmrSpec gates first-pick equivalence with the plain filtered
    * probe, eligibility soundness, and selection shape. */
  val annRetrievalPipeline: QueryEntry = QueryEntry(
    "s20_retrieval_pipeline",
    s"""WITH ${IvfOracle.ivfCtes()},
       |assigned AS (SELECT vec_id, cid AS cluster FROM rn
       |             WHERE crn = 1 AND vec_id >= 10),
       |qprobe AS (SELECT vec_id AS qid, cid AS cluster
       |           FROM rn WHERE crn <= $ivfProbes AND vec_id < 10),
       |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 10),
       |pool AS MATERIALIZED (SELECT qid, vec_id, cos FROM (
       |       SELECT p.qid, a.vec_id,
       |              list_sum(list_transform(range(1, len(q.qe) + 1),
       |                i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |                / (q.qn * c.nrm) AS cos,
       |              ROW_NUMBER() OVER (PARTITION BY p.qid ORDER BY
       |                list_sum(list_transform(range(1, len(q.qe) + 1),
       |                  i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |                  / (q.qn * c.nrm) DESC, a.vec_id) AS rk
       |       FROM assigned a JOIN qprobe p USING (cluster)
       |            JOIN q ON q.qid = p.qid
       |            JOIN n c ON c.vec_id = a.vec_id
       |       WHERE a.vec_id IN (SELECT doc_id FROM documents
       |                          WHERE lang = 'en' AND n_chars >= 200))
       |       WHERE rk <= $mmrPool),
       |${IvfOracle.mmrTailSql()}""".stripMargin
  ) { (s, d) =>
    val idxDir = indexDir(s, "s20", d)
    val e = Tables.embeddings(s, d)
    writeIvfIndex(e, idxDir)
    val centS = s.read.parquet(s"$idxDir/centroids")
    val qprobe = e.filter(col("vec_id") < 10)
      .crossJoin(broadcast(centArray(centS)))
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        explode(topCellsCol(col("cents"), col("embedding"), ivfProbes)).as("pc"))
      .select(col("qid"), col("qe"), col("pc.cid").as("cluster"))
    val pool = materialize(s.read.parquet(s"$idxDir/cells")
      .filter(col("vec_id") >= 10)
      .join(broadcast(qprobe), Seq("cluster"))
      // predicate BEFORE ranking (s13's posture): id-only, shuffled
      .join(filteredEligible(s, d), Seq("vec_id"), "left_semi")
      .withColumn("cos", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= mmrPool)
      .select(col("qid"), col("vec_id"), col("embedding"), col("cos")))
    mmrSelect(pool)
  }

  /** s21 engine: IVF top-5 at an explicit probe count, scored against
    * the s01 exact ground truth — per-query hits and recall@5. Hits/5
    * is one integer division → engine-exact; the probe parameter is
    * the knob an index operator actually tunes with this monitor. */
  private[graft] def ivfRecall(s: org.apache.spark.sql.SparkSession,
      d: String, probes: Int): org.apache.spark.sql.DataFrame = {
    val truth = annBruteForce.build(s, d).select(col("qid"), col("nid"))
    val approx = ivfTop5(Tables.embeddings(s, d), probes)
      .select(col("qid"), col("vec_id").as("nid"), lit(1).as("hit"))
    truth.join(approx, Seq("qid", "nid"), "left")
      .groupBy(col("qid"))
      .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
      .select(col("qid"), col("hits"),
        (col("hits").cast("double") / lit(5.0)).as("recall_at_5"))
      .orderBy(col("qid"))
  }

  /** Index recall monitor (s21) — the eval harness a production vector
    * store runs continuously: exact top-5 ground truth for a bounded
    * query sample (s01's shape: broadcast queries, one corpus stream)
    * joined against the IVF index's answers at the configured
    * [[ivfProbes]], reporting per-query recall@5. Companion to s16's
    * drift monitor: drift says the index's GEOMETRY is stale, this
    * says what that costs in ANSWER quality — the number that decides
    * nprobe bumps or a retrain. Ground-truth cost is O(|sample|·n),
    * NOT O(n²) — the sample stays fixed as the corpus grows.
    * Oracled r11: both inputs are deterministic (s01's exact truth,
    * s03's deterministic quantizer), so the mirror recomputes truth,
    * probe, and the per-query overlap exactly; RecallSpec still gates
    * the monitor's bounds (probe-all ⇒ recall 1.0 on every query). */
  val annRecallEval: QueryEntry = QueryEntry(
    "s21_recall_eval",
    s"""WITH ${IvfOracle.ivfCtes()},
       |${IvfOracle.probeSql()},
       |truth AS (SELECT qid, nid FROM (
       |  SELECT q.vec_id AS qid, c.vec_id AS nid,
       |         ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |           list_sum(list_transform(range(1, len(q.embedding) + 1),
       |             i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
       |             / (q.nrm * c.nrm) DESC, c.vec_id) AS trank
       |  FROM n q, n c WHERE q.vec_id < 10 AND c.vec_id >= 10)
       |  WHERE trank <= 5)
       |SELECT t.qid,
       |       CAST(SUM(CASE WHEN r.nid IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits,
       |       CAST(SUM(CASE WHEN r.nid IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE) / 5.0
       |         AS recall_at_5
       |FROM truth t LEFT JOIN ranked r ON r.qid = t.qid AND r.nid = t.nid
       |GROUP BY t.qid ORDER BY t.qid""".stripMargin
  ) {
    (s, d) => ivfRecall(s, d, ivfProbes)
  }

  /** Hybrid lexical+vector retrieval with RRF fusion (s22) — the
    * two-channel search shape RAG / retrieval pipelines actually run:
    * BM25 (k1=1.2, b=0.75) over the documents' own term statistics
    * ranks one channel, exact cosine over the aligned embeddings ranks
    * the other, and reciprocal-rank fusion (k=60) merges the top-20 of
    * each into a final top-5 per query.
    *
    * Everything is exactly oracled by the same two tricks the suite
    * already trusts: ORDER is the only float-sensitive output (s01
    * proved cosine-rank parity), and BM25 term scores are frozen to
    * fixed-point micro units before the per-document sum, so the
    * reduction is exact integer arithmetic in any order (the t15
    * discipline); RRF contributions are likewise integer nano units of
    * 1/(60+rank). Absent-from-channel ranks surface as 0, not NULL.
    *
    * At scale: the 9-row query-term relation broadcasts and FILTERS
    * the (doc, term) table before any wide join — the classic
    * postings-fetch: per-query work is O(Σ posting lists), never a
    * corpus scan per query; document/corpus statistics (len, df, the
    * 1-row totals) are the standard index-build aggregates. The
    * vector channel is s01's broadcast-queries corpus stream. Both
    * rank windows partition by qid. */
  val hybridSearch: QueryEntry = QueryEntry(
    "s22_hybrid_search",
    """WITH corpus AS (SELECT doc_id, text FROM documents WHERE doc_id >= 10),
      |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM corpus),
      |dl AS (SELECT doc_id, COUNT(*) AS len FROM toks GROUP BY 1),
      |tf AS (SELECT doc_id, w, COUNT(*) AS m FROM toks GROUP BY 1, 2),
      |dfx AS (SELECT w, COUNT(*) AS df FROM tf GROUP BY 1),
      |tot AS (SELECT COUNT(*) AS n, CAST(SUM(len) AS BIGINT) AS total FROM dl),
      |q(qid, w) AS (VALUES (CAST(0 AS BIGINT),'table'),(0,'scan'),(0,'filter'),
      |                     (1,'join'),(1,'merge'),(1,'sort'),
      |                     (2,'vector'),(2,'spark'),(2,'query')),
      |scored AS (SELECT qid, tf.doc_id,
      |    CAST(SUM(CAST(round(ln(1 + (n - df + 0.5) / (df + 0.5))
      |      * (m * 2.2 / (m + 1.2 * (0.25 + 0.75 * len * n / total)))
      |      * 1000000) AS BIGINT)) AS BIGINT) AS bm_micro
      |  FROM tf JOIN q USING (w) JOIN dfx USING (w)
      |       JOIN dl ON tf.doc_id = dl.doc_id, tot
      |  GROUP BY 1, 2),
      |lex AS (SELECT qid, doc_id,
      |          ROW_NUMBER() OVER (PARTITION BY qid ORDER BY bm_micro DESC, doc_id) AS lex_rank
      |        FROM scored),
      |nv AS (SELECT vec_id, embedding,
      |         sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |           i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |       FROM embeddings),
      |qv AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM nv WHERE vec_id < 3),
      |cosc AS (SELECT qid, e.vec_id AS doc_id,
      |           list_sum(list_transform(range(1, len(qe) + 1),
      |             i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))) / (qn * e.nrm) AS cs
      |         FROM nv e, qv WHERE e.vec_id >= 10),
      |vecr AS (SELECT qid, doc_id,
      |           ROW_NUMBER() OVER (PARTITION BY qid ORDER BY cs DESC, doc_id) AS vec_rank
      |         FROM cosc),
      |fused AS (SELECT qid, doc_id,
      |    COALESCE(l.lex_rank, 0) AS lex_rank, COALESCE(v.vec_rank, 0) AS vec_rank,
      |    COALESCE(CAST(round(1000000000 / (60 + l.lex_rank)) AS BIGINT), 0)
      |      + COALESCE(CAST(round(1000000000 / (60 + v.vec_rank)) AS BIGINT), 0) AS rrf_nano
      |  FROM (SELECT * FROM lex WHERE lex_rank <= 20) l
      |  FULL JOIN (SELECT * FROM vecr WHERE vec_rank <= 20) v USING (qid, doc_id))
      |SELECT qid, doc_id, fused_rank, rrf_nano, lex_rank, vec_rank FROM (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qid ORDER BY rrf_nano DESC, doc_id) AS fused_rank
      |  FROM fused)
      |WHERE fused_rank <= 5 ORDER BY qid, fused_rank""".stripMargin
  ) { (s, d) =>
    val corpus = Tables.documents(s, d).filter(col("doc_id") >= 10)
    val toks = corpus.select(col("doc_id"),
      explode(split(col("text"), " ")).as("w"))
    val dl = toks.groupBy(col("doc_id")).agg(count(lit(1)).as("len"))
    val tf = toks.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("m"))
    val dfx = tf.groupBy(col("w")).agg(count(lit(1)).as("df"))
    val tot = dl.agg(count(lit(1)).as("n"), sum(col("len")).as("total"))
    val q = {
      import s.implicits._
      Seq(0L -> "table", 0L -> "scan", 0L -> "filter",
        1L -> "join", 1L -> "merge", 1L -> "sort",
        2L -> "vector", 2L -> "spark", 2L -> "query").toDF("qid", "w")
    }
    val scored = tf.join(broadcast(q), Seq("w"))
      .join(dfx, Seq("w"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .withColumn("term_micro", expr(
        "cast(round(ln(1 + (n - df + 0.5) / (df + 0.5))" +
          " * (m * 2.2 / (m + 1.2 * (0.25 + 0.75 * len * n / total)))" +
          " * 1000000) as bigint)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("term_micro")).as("bm_micro"))
    val lex = scored.withColumn("lex_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("bm_micro").desc, col("doc_id"))))
      .filter(col("lex_rank") <= 20)
      .select(col("qid"), col("doc_id"), col("lex_rank").cast("long").as("lex_rank"))
    val e = Tables.embeddings(s, d)
    val qv = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val vecr = e.filter(col("vec_id") >= 10).crossJoin(broadcast(qv))
      .withColumn("cs", cosine_similarity(col("qe"), col("embedding")))
      .withColumn("vec_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("cs").desc, col("vec_id"))))
      .filter(col("vec_rank") <= 20)
      .select(col("qid"), col("vec_id").as("doc_id"),
        col("vec_rank").cast("long").as("vec_rank"))
    val fused = lex.join(vecr, Seq("qid", "doc_id"), "full_outer")
      .select(col("qid"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
        coalesce(col("vec_rank"), lit(0L)).as("vec_rank"),
        (coalesce(expr("cast(round(1000000000 / (60 + lex_rank)) as bigint)"), lit(0L))
          + coalesce(expr("cast(round(1000000000 / (60 + vec_rank)) as bigint)"), lit(0L)))
          .as("rrf_nano"))
    fused.withColumn("fused_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("rrf_nano").desc, col("doc_id"))))
      .filter(col("fused_rank") <= 5)
      .select(col("qid"), col("doc_id"), col("fused_rank").cast("long").as("fused_rank"),
        col("rrf_nano"), col("lex_rank"), col("vec_rank"))
      .orderBy(col("qid"), col("fused_rank"))
  }

  /** Threshold (radius) similarity search (s23) — the missing third
    * retrieval mode next to top-k (s01) and filtered top-k (s10): ALL
    * corpus neighbors with cosine ≥ τ per query, however many there
    * are. Used for near-dup sweeps ("everything suspiciously close to
    * this example") and recall-oriented retrieval where a fixed k
    * truncates. Unlike top-k there is no rank to tie-break, so the
    * result set is fully deterministic and EXACTLY oracled — the one
    * s-family shape where brute force admits a hash-equal DuckDB
    * mirror including the pair list itself.
    *
    * Scale: broadcast the O(queries) batch, one pruned corpus scan
    * (vec_id, embedding only), the codegen'd [[cosine_similarity]]
    * fold per (vector, query), and NO shuffle before the output sort —
    * the same block-scan shape 100 TB sharded retrieval uses. τ is
    * 0.30, three orders of magnitude away from any pair's ULP noise at
    * every test SF, so the predicate cannot flip between engines. */
  val rangeSearch: QueryEntry = QueryEntry(
    "s23_range_search",
    """WITH n AS (SELECT vec_id, embedding,
      |             sqrt(list_sum(list_transform(range(1, len(embedding) + 1),
      |                  i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[i] AS DOUBLE)))) AS nrm
      |           FROM embeddings),
      |q AS (SELECT vec_id AS qid, embedding AS qe, nrm AS qn FROM n WHERE vec_id < 8)
      |SELECT qid, e.vec_id AS nid
      |FROM n e, q
      |WHERE e.vec_id >= 8
      |  AND list_sum(list_transform(range(1, len(qe) + 1),
      |        i -> CAST(qe[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE)))
      |      / (qn * e.nrm) >= 0.30
      |ORDER BY qid, nid""".stripMargin
  ) { (s, d) =>
    val e = Tables.embeddings(s, d)
    val q = e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    e.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
      .filter(cosine_similarity(col("qe"), col("embedding")) >= 0.30)
      .select(col("qid"), col("vec_id").as("nid"))
      .orderBy(col("qid"), col("nid"))
  }

  /** Stored-index statistics relation (s24) — the `SHOW INDEX` /
    * observability face of the s11 lifecycle: per-cell row counts,
    * corpus share, and id ranges read from the STORED index alone
    * (centroids + cell partitions — the corpus is never rescanned).
    * This is the relation an operator dashboards and the
    * retrain/compact decisions (s16 drift, s15 compaction) consume;
    * partition pruning makes each cell's count a metadata-cheap scan
    * at 100 TB. Output order is by cell id. Oracled r11: the stored
    * layout is the deterministic crn=1 assignment, so the mirror
    * recomputes per-cell counts, id envelopes, and shares exactly;
    * IndexStatsSpec's partition/membership/share gates unchanged. */
  val indexStats: QueryEntry = QueryEntry(
    "s24_index_stats",
    s"""WITH ${IvfOracle.ivfCtes()},
       |assigned AS (SELECT vec_id, cid AS cluster FROM rn WHERE crn = 1),
       |st AS (SELECT cluster, COUNT(*) AS n_vectors,
       |              MIN(vec_id) AS min_id, MAX(vec_id) AS max_id
       |       FROM assigned GROUP BY 1),
       |tot AS (SELECT SUM(n_vectors) AS n_total FROM st)
       |SELECT cluster, n_vectors,
       |       CAST(n_vectors AS DOUBLE) / n_total AS share, min_id, max_id
       |FROM st, tot ORDER BY cluster""".stripMargin
  ) { (s, d) =>
    val idxDir = indexDir(s, "s11", d)
    val e = Tables.embeddings(s, d)
    // rebuild gate checks BOTH halves of the index: a crash between the
    // cells write and the centroids write would otherwise leave a
    // half-built index this guard never repairs (the later centroids
    // read — and IndexStatsSpec's centroid-membership gate — would die
    // on the missing path instead of rebuilding)
    if (!new java.io.File(s"$idxDir/cells").exists() ||
        !new java.io.File(s"$idxDir/centroids").exists()) {
      writeIvfIndex(e, idxDir)
    }
    val cells = s.read.parquet(s"$idxDir/cells")
    val stats = cells.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_vectors"),
        min(col("vec_id")).as("min_id"), max(col("vec_id")).as("max_id"))
    stats
      .crossJoin(broadcast(stats.agg(sum(col("n_vectors")).as("n_total"))))
      .select(col("cluster"), col("n_vectors"),
        (col("n_vectors").cast("double") / col("n_total")).as("share"),
        col("min_id"), col("max_id"))
      .orderBy(col("cluster"))
  }

  /** s01's brute-force cosine top-5 with the corpus AND queries read
    * over the mongodb WIRE catalog (s25): float32 embeddings roundtrip
    * BSON arrays bit-exactly (MongoSourceSpec), the codegen'd
    * CosineSimilarity runs on the cursor-batched rows, and the rank
    * output hashes against the SAME DuckDB oracle as s01 — vector
    * search over a federated store, not just local parquet. */
  val annWireMongo: QueryEntry = QueryEntry("s25_ann_wire_mongo", annTop5Oracle) {
    (s, d) =>
      s.conf.set("spark.sql.graft.root", d)
      annTop5(s.sql("SELECT vec_id, embedding FROM mongodb.tpcds.embeddings"))
  }

  val all: Seq[QueryEntry] =
    Seq(annBruteForce, annLsh, annIvf, embedDocSearch, semanticDedup,
      annPq, annIvfPq, annSq, annFiltered, annPersisted, annIvfPqPersisted,
      annFilteredProbe, annPersistedAppend, annIndexCompact, annIndexDrift,
      annMmr, annPersistedDelete, annIvfPqAppend, annRetrievalPipeline,
      annRecallEval, hybridSearch, rangeSearch, indexStats, annWireMongo)
}
