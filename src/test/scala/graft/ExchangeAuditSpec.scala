package graft

import org.apache.spark.sql.execution._
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition

/** Suite-wide driver-bottleneck tripwire (round-8, verdict r7 #2): a
  * `SinglePartition` shuffle exchange ships EVERY row of its input to
  * one task — the one plan shape that cannot scale past a single
  * executor core no matter how many workers exist. Per-query gates
  * (p05/p06/e08 in PlanAuditSpec) guard known shapes; this spec
  * enumerates the whole registered surface so a future operator cannot
  * sneak a global-funnel stage in unnoticed.
  *
  * Audited on the INITIAL physical plan (no materialization): AQE
  * coalescing at test scale can shrink a healthy hash exchange to one
  * partition on 60k rows, which is tiny-data adaptivity, not a plan
  * requirement — the initial plan shows what the query demands at any
  * scale.
  *
  * A SinglePartition exchange is acceptable in exactly two cases:
  *  1. STRUCTURAL: it feeds a final-mode scalar aggregate (no grouping
  *     keys). Input is one partial-agg row per upstream partition —
  *     O(partitions), not O(rows) — at 1000 executors that is 1000
  *     rows, by construction.
  *  2. WHITELISTED: the query intentionally funnels an
  *     already-aggregated, provably small relation (p05's stat cells,
  *     p07/t10's vocabulary rank window, p08/p09's BPE lexicon). Each entry carries the
  *     size-bound argument; anything not listed fails the build.
  */
class ExchangeAuditSpec extends SparkSpec {

  /** query → reason its non-structural SinglePartition exchange is
    * size-bounded. Adding an entry requires writing the bound. */
  private val whitelist: Map[String, String] = Map(
    "p05_mixture_stats" -> ("global-share window over the (lang × source) " +
      "stat CELLS — input is the grouped aggregate's output, " +
      "O(distinct cells), not O(docs); gated row-level by PlanAuditSpec"),
    "p07_vocab_build" -> ("global rank sort over the frequency-thresholded " +
      "VOCABULARY — input is one row per kept token type (post-aggregate, " +
      "post-min-count filter), bounded by vocab size not corpus size"),
    "p08_bpe_train" -> ("one-task BPE training over the LEXICON — input is " +
      "the word-count aggregate's output, one row per distinct corpus word " +
      "(post-aggregate), bounded by vocabulary size not corpus size: the " +
      "same class as p07's vocabulary window"),
    "p09_bpe_encode" -> ("same one-task training pass as p08, on the " +
      "broadcast (w, toks) side: one row per distinct corpus word " +
      "(post-aggregate); the corpus occurrence side joins it map-side and " +
      "reduces by a doc_id hash exchange, never SinglePartition"),
    "t10_rank_score" -> ("same stage as p07: the broadcast vocab side's " +
      "ROW_NUMBER global rank over the frequency-thresholded vocabulary " +
      "(Pipeline.vocab) — O(kept token types); the per-document output " +
      "side sorts by rangepartitioning, not SinglePartition"),
    "p15_token_budget" -> ("waterfill windows (rank, running cap sum, " +
      "water-line search) over the per-SOURCE token aggregate — input is " +
      "the grouped aggregate's output, O(distinct sources), not O(docs); " +
      "the corpus-sized work reduces map-side before the source exchange"),
    "p17_curriculum" -> ("cumulative-count window over the score HISTOGRAM " +
      "— input is the bucket aggregate's output, O(occupied buckets) " +
      "cells, not O(docs); the corpus reduces map-side before the bucket " +
      "exchange and documents join phases back via broadcast"))
  // p23's global position window needs NO whitelist entry: it sits
  // above the LIMIT-200 prefix, whose GlobalLimit already outputs a
  // single partition — the window adds no exchange at all.

  private def scalarFinalAgg(p: SparkPlan): Boolean = p match {
    case h: HashAggregateExec => h.groupingExpressions.isEmpty
    case h: ObjectHashAggregateExec => h.groupingExpressions.isEmpty
    case s: SortAggregateExec => s.groupingExpressions.isEmpty
    case _ => false
  }

  /** Collect consumers of every SinglePartition shuffle exchange that
    * is NOT feeding a scalar final aggregate. Walks through codegen
    * wrappers so the consumer is the real operator, and into subquery
    * plans (correlated scalars plan their own exchanges). */
  private def offenders(plan: SparkPlan): Seq[String] = {
    val out = scala.collection.mutable.ListBuffer[String]()
    def walk(node: SparkPlan, consumer: SparkPlan): Unit = {
      node match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan, consumer)
        case w: WholeStageCodegenExec => walk(w.child, consumer)
        case i: InputAdapter => walk(i.child, consumer)
        case e: ShuffleExchangeExec if e.outputPartitioning == SinglePartition =>
          if (!scalarFinalAgg(consumer)) out += consumer.nodeName
          walk(e.child, e)
        case other =>
          other.children.foreach(walk(_, other))
      }
      node.subqueries.foreach(walk(_, node))
    }
    walk(plan, plan)
    out.toSeq
  }

  test("no query plans a non-whitelisted SinglePartition exchange") {
    // failure-isolated (verdict r14 #4): an entry that throws at
    // planning is reported as its OWN violation instead of aborting
    // the suite-wide audit and blinding it to the other 200+ entries
    val violations = SparkEntry.allEntries.flatMap { e =>
      try {
        val plan = e.build(spark, sf1).queryExecution.executedPlan
        val off = offenders(plan)
        if (off.isEmpty || whitelist.contains(e.name)) None
        else Some(s"${e.name}: SinglePartition → ${off.mkString(", ")}")
      } catch {
        case scala.util.control.NonFatal(t) =>
          Some(s"${e.name}: PLANNING FAILED — ${t.getClass.getSimpleName}: " +
            t.getMessage.linesIterator.take(2).mkString(" "))
      }
    }
    assert(violations.isEmpty,
      "non-whitelisted SinglePartition exchanges:\n" + violations.mkString("\n"))
  }

  test("whitelist carries no stale entries") {
    val stale = whitelist.keys.filter { name =>
      val e = SparkEntry.allEntries.find(_.name == name)
      e.isEmpty || (try {
        offenders(e.get.build(spark, sf1).queryExecution.executedPlan).isEmpty
      } catch {
        // a planning failure is the first test's finding, not staleness
        case scala.util.control.NonFatal(_) => false
      })
    }
    assert(stale.isEmpty, s"whitelisted but clean (remove): ${stale.mkString(", ")}")
  }
}
