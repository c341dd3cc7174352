package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Streaming document-ingest surface — the unbounded twin of the batch
  * dedup family (SURVEY.md §2.9 extension surface).
  *
  * [[novel]] is d07/d12's semantics as a continuous pipeline: every
  * arriving document is emitted iff its content digest has never been
  * seen, with the seen-set living in the streaming state store instead
  * of a static "seen" relation. dropDuplicates keys state by the
  * 32-byte digest — one state row per DISTINCT document ever ingested,
  * independent of arrival volume, sharded across executors by digest
  * hash. At 100 TB ingest the state store is the RocksDB backend and a
  * watermark on an ingest-time column bounds it to the dedup horizon
  * (dropDuplicatesWithinWatermark); the bounded-input twin here keeps
  * NoTimeout state so the spec can gate exact batch equivalence
  * (StreamingSpec: phase-2 emissions = exactly the batch-novel digests
  * of d07's oracle, one representative each, none re-emitted). */
object DocsStreaming {

  /** First-arrival winner per content digest over an unbounded
    * document stream. */
  def novel(docs: DataFrame): DataFrame =
    docs
      .withColumn("digest", sha2(col("text"), 256))
      .dropDuplicates("digest")
      .select(col("doc_id"), col("digest"))

  /** EXACTLY-ONCE microbatch sinks. `foreachBatch` alone is
    * at-least-once: after a crash between the table commit and the
    * checkpoint write, Structured Streaming REPLAYS the last batch —
    * without an idempotence token the replay double-applies (an upsert
    * tolerates it; an append or any non-idempotent merge does not).
    * The token here is the `#txn <appId> <batchId>` manifest header
    * ([[graft.sources.GraftVersions.lastTxn]]), written ATOMICALLY
    * with the snapshot commit — the Delta `txn` action design. Each
    * batch first consults the table's high-water mark for its writer
    * id and skips batches at or below it, so the
    * crash-replay interleaving commits each batch's rows exactly once.
    * Batch ids are monotonic per query by Structured Streaming's
    * contract; `appId` names the WRITER (stable across restarts —
    * e.g. the checkpoint location), so two different streams into one
    * table keep independent ledgers. Retention preserves the ledger:
    * expire carries `#txn` headers into its tombstones. At 100 TB the
    * check is one driver-side header scan per batch (and a restarted
    * stream's FIRST batch is the only one that can ever be stale). */
  def idempotentAppendSink(dir: String, appId: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty &&
        graft.sources.GraftVersions.lastTxn(dir, appId).forall(_ < batchId))
      graft.sources.GraftVersions.commit(dir, batch, overwrite = false,
        txn = Some((appId, batchId)))
  }

  /** [[idempotentAppendSink]]'s MERGE twin: the CDC upsert stream with
    * a crash-replay guarantee (merge-with-counters or delete-markers
    * would double-apply without it). */
  def idempotentMergeSink(dir: String, keyCol: String, appId: String)
      : (DataFrame, Long) => Unit = { (batch, batchId) =>
    if (!batch.isEmpty &&
        graft.sources.GraftVersions.lastTxn(dir, appId).forall(_ < batchId))
      graft.sources.GraftMerge.mergeInto(batch.sparkSession, dir, batch,
        keyCol, txn = Some((appId, batchId)))
    ()
  }

  /** CDF-DRIVEN dedup-index maintenance: the composition that keeps
    * d23's persisted MinHash band index CURRENT with a versioned
    * documents table — each table commit's change feed becomes one
    * micro-batch whose rows are signature-computed and APPENDED into
    * the index (zero existing index files touched, the s14 posture),
    * so "dedup the next arriving batch against everything ever
    * ingested" never rescans the corpus: the table streams at its
    * commit rate, the index follows at the delta's cost, probes prune
    * to touched band buckets.
    *
    * Delivery is at-least-once (foreachBatch); the index tolerates it
    * BY CONSTRUCTION — probes dedup candidates and plausible pairs
    * (GraftBlooms-style soundness: duplicates cost candidate-bounded
    * work, never a wrong answer) — so no txn ledger is needed for a
    * store that is itself a downstream view. CdfIndexSpec gates
    * stream-maintained ≡ batch-built probe equality and replay
    * tolerance. */
  /** `rowLevel = true` consumes the PER-ROW change feed instead of the
    * file-granularity added-files channel: a copy-on-write UPDATE then
    * indexes only the documents whose content actually changed
    * (`insert` + `update_postimage` images), not every row of every
    * rewritten file — at 100 TB the difference between appending
    * O(changed docs) and O(touched files × rows) signatures per
    * commit. Preimages/deletes are ignored: the band index is
    * candidate-generating and sound under stale entries (probes verify
    * exactly), so removing old signatures is a compaction concern, not
    * a correctness one. */
  def bandIndexMaintenance(spark: org.apache.spark.sql.SparkSession,
      tableDir: String, idxDir: String, rowLevel: Boolean = false)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val reader = spark.readStream
      .format("graft.streaming.GraftCdfProvider")
      .option("path", tableDir)
    val cdf = (if (rowLevel)
      reader.option("rowLevel", "true").option("mergeKey", "doc_id")
    else reader).load()
    cdf.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val fresh =
        if (rowLevel)
          batch.filter(col("_change_type").isin("insert", "update_postimage"))
        else batch
      if (!fresh.isEmpty)
        graft.operators.Dedup.buildBandIndex(fresh.sparkSession,
          fresh.select(col("doc_id"), col("text")), idxDir, append = true)
      ()
    }
  }

  /** Streaming upsert into a versioned lakehouse table — the CDC-sink
    * shape (l04's MERGE driven by an unbounded source): each
    * micro-batch copy-on-write-merges into the table through
    * [[idempotentMergeSink]], so every micro-batch becomes one snapshot
    * commit, exactly once across crash replays — the ingest history is
    * time-travelable at micro-batch boundaries (`VERSION AS OF`),
    * untouched files are reused by reference, and a reader mid-stream
    * sees a consistent snapshot, never a torn batch. Micro-batches are
    * sequential by Structured Streaming's contract, so the merge's
    * conflict path fires only for a SECOND writer outside the stream —
    * loudly, failing the batch rather than losing rows. MergeSpec gates
    * the per-batch snapshot trail and the crash-replay interleaving. */
  def mergeStreamExactlyOnce(dir: String, keyCol: String, appId: String,
      updates: DataFrame)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val sink = idempotentMergeSink(dir, keyCol, appId)
    updates.writeStream.foreachBatch { (b: DataFrame, id: Long) =>
      sink(b, id); ()
    }
  }
}
