package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Benchmark clock: epoch milliseconds with sub-millisecond resolution,
  * so the benchmark's own spans line up with the epoch-millisecond
  * timestamps Spark puts on its listener events. */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def ms: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory span recorder for a traced run. Spans are JSON objects with
  * a kind `k`, a start `t0` and an end `t1` in [[Clock]] milliseconds.
  * The benchmark's own operation spans are added by the caller; plan
  * phases come from a [[QueryExecutionListener]] and jobs and stages
  * (with their tasks' metrics summed) from a [[SparkListener]]. Nothing
  * is written until [[write]] runs at the end of the run. */
final class Tracer(spark: SparkSession) {
  private val spans = new ConcurrentLinkedQueue[String]()
  def add(fields: (String, Any)*): Unit = spans.add(Json.obj(fields))

  private final class StageAcc {
    var tasks, failed, writeTasks = 0L
    var runMs, cpuNs, gcMs, deserMs, peakMem, shW, shR, fetchMs, shWNs = 0L
    var spill, inB, inR, outB, outR, maxTaskMs = 0L
  }
  private val stageAcc = mutable.Map.empty[(Int, Int), StageAcc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val launches = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val execStart = mutable.Map.empty[Long, Long]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { t0 =>
        add("k" -> "job", "id" -> e.jobId, "t0" -> t0.toDouble,
          "t1" -> e.time.toDouble,
          "failed" -> !e.jobResult.isInstanceOf[JobSucceeded.type])
      }
    }
    override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
      launches.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Long]) += e.taskInfo.launchTime
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val a = stageAcc.getOrElseUpdate((e.stageId, e.stageAttemptId), new StageAcc)
      val i = e.taskInfo
      a.tasks += 1
      if (!i.successful) a.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.deserMs += m.executorDeserializeTime
        a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
        a.shW += m.shuffleWriteMetrics.bytesWritten
        a.shWNs += m.shuffleWriteMetrics.writeTime
        a.shR += m.shuffleReadMetrics.totalBytesRead
        a.fetchMs += m.shuffleReadMetrics.fetchWaitTime
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inB += m.inputMetrics.bytesRead
        a.inR += m.inputMetrics.recordsRead
        a.outB += m.outputMetrics.bytesWritten
        a.outR += m.outputMetrics.recordsWritten
        if (m.outputMetrics.recordsWritten > 0) a.writeTasks += 1
        a.maxTaskMs = math.max(a.maxTaskMs, m.executorRunTime)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val s = e.stageInfo
      val a = stageAcc.remove((s.stageId, s.attemptNumber())).getOrElse(new StageAcc)
      val t0 = s.submissionTime.getOrElse(0L)
      val t1 = s.completionTime.getOrElse(t0)
      add("k" -> "stage", "id" -> s.stageId, "job" -> stageJob.getOrElse(s.stageId, -1),
        "t0" -> t0.toDouble, "t1" -> t1.toDouble,
        "tasks" -> a.tasks, "failed_tasks" -> a.failed,
        "run_ms" -> a.runMs, "cpu_ns" -> a.cpuNs, "gc_ms" -> a.gcMs,
        "deser_ms" -> a.deserMs, "peak_mem" -> a.peakMem,
        "shuffle_write" -> a.shW, "shuffle_write_ns" -> a.shWNs,
        "shuffle_read" -> a.shR, "fetch_wait_ms" -> a.fetchMs,
        "spill" -> a.spill, "in_bytes" -> a.inB, "in_rows" -> a.inR,
        "out_bytes" -> a.outB, "out_rows" -> a.outR,
        "write_tasks" -> a.writeTasks, "max_task_ms" -> a.maxTaskMs,
        "task_wait_ms" -> waitOf(s))
    }
    // an AQE update is stamped with the start of its SQL execution, not
    // with the time the bus delivers it, so it is attributed to the
    // operation that ran the execution
    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => execStart(s.executionId) = s.time
        case u: SparkListenerSQLAdaptiveExecutionUpdate =>
          execStart.get(u.executionId).foreach { t =>
            add("k" -> "aqe", "t0" -> t.toDouble, "t1" -> t.toDouble, "exec" -> u.executionId)
          }
        case x: SparkListenerSQLExecutionEnd => execStart.remove(x.executionId)
        case _ => ()
      }
    }
  }

  /** Summed wait from stage submission to each task's launch. */
  private def waitOf(s: StageInfo): Long = {
    val ls = launches.remove((s.stageId, s.attemptNumber())).getOrElse(Nil)
    val t0 = s.submissionTime.getOrElse(0L)
    ls.map(l => math.max(0L, l - t0)).sum
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      phases(qe)
  }

  private def phases(qe: QueryExecution): Unit = {
    qe.tracker.phases.foreach { case (name, p) =>
      add("k" -> "phase", "name" -> name, "t0" -> p.startTimeMs.toDouble,
        "t1" -> p.endTimeMs.toDouble)
    }
    // stamped with the end of the query's own planning phase, which lies
    // inside the operation that ran it
    qe.tracker.phases.get("planning").foreach { p =>
      add("k" -> "plan", "t0" -> p.endTimeMs.toDouble, "t1" -> p.endTimeMs.toDouble,
        "exchanges" -> Tracer.exchanges(qe.executedPlan))
    }
  }

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Detach after every event posted so far has been delivered. */
  def detach(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.asScala.foreach(w.println) finally w.close()
  }
}

object Tracer {
  /** Exchanges in a plan, looking through adaptive wrappers, query
    * stages and subqueries. */
  def exchanges(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case s: QueryStageExec => exchanges(s.plan)
    case e: Exchange => 1 + e.children.map(exchanges).sum
    case other => (other.children ++ other.subqueries).map(exchanges).sum
  }
}
