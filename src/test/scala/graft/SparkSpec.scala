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
  protected def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val tag = s"spec-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val fenced = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val tags = Option(e.properties).map(_.getProperty("spark.job.tags", ""))
          .getOrElse("").split(",")
        if (tags.contains(tag)) jobs.incrementAndGet()
        if (tags.contains(s"$tag-fence")) fenced.countDown()
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.addJobTag(tag)
      try body finally sc.removeJobTag(tag)
      sc.addJobTag(s"$tag-fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.removeJobTag(s"$tag-fence")
      assert(fenced.await(60, java.util.concurrent.TimeUnit.SECONDS), "listener bus did not drain")
      jobs.get
    } finally sc.removeSparkListener(listener)
  }
}
