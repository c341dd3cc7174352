package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, per guide). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = GraftSession.local("8")
  val sf1: String = "/root/testdata/sf0.001"
  val sf2: String = "/root/testdata/sf0.01"

  /** Spark jobs started while `body` runs, counted by a job tag. The
    * listener bus delivers events in order, so once a later fence job's
    * start arrives every job `body` launched has been counted. */
  protected def jobsLaunchedBy(body: => Unit): Int = countJobs(body, anyThread = false)

  /** Every Spark job started, on any thread, between a fence job before
    * `body` and one after it — for work `body` hands to other threads
    * (the statement face's HTTP handlers), whose jobs carry no tag the
    * caller set. */
  protected def jobsStartedDuring(body: => Unit): Int = countJobs(body, anyThread = true)

  private def countJobs(body: => Unit, anyThread: Boolean): Int = {
    val sc = spark.sparkContext
    val tag = s"spec-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val opened = new java.util.concurrent.atomic.AtomicBoolean(!anyThread)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).map(_.getProperty("spark.job.tags", ""))
          .getOrElse("").split(",")
        if (tags.contains(s"$tag-open")) opened.set(true)
        else if (tags.contains(s"$tag-fence")) fenced.countDown()
        else if (opened.get && fenced.getCount > 0 && (anyThread || tags.contains(tag)))
          jobs.incrementAndGet()
      }
    }
    def fence(t: String): Unit = {
      sc.addJobTag(t)
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(t)
    }
    sc.addSparkListener(listener)
    try {
      if (anyThread) fence(s"$tag-open")
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      fence(s"$tag-fence")
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
