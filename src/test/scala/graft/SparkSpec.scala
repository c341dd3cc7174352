package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs (one JVM-wide session, per guide). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local("8")
  val sf1: String = "/root/testdata/sf0.001"
  val sf2: String = "/root/testdata/sf0.01"

  private val tempDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]

  /** A new directory under `java.io.tmpdir`, deleted when the spec ends. */
  protected def tempDir(prefix: String): java.io.File = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toFile
    tempDirs.add(dir)
    dir
  }

  /** A new, empty `spark.sql.graft.root` (a [[tempDir]]). */
  protected def freshRoot(prefix: String): String = {
    val dir = tempDir(prefix).toString
    spark.conf.set("spark.sql.graft.root", dir)
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.forEach(d => LocalFiles.rmTree(d)) finally super.afterAll()

  private def fileNames(paths: Seq[String]): Set[String] =
    paths.map(p => p.substring(p.lastIndexOf('/') + 1)).toSet

  /** The files of `dir`'s current snapshot that file pruning keeps as
    * candidates for `pred` (manifest stats, then bloom sidecars). */
  protected def candidateFiles(dir: String,
      pred: org.apache.spark.sql.Column): Set[String] =
    fileNames(graft.sources.GraftMerge.pruneByStats(spark,
      graft.sources.GraftVersions.Snapshot.current(dir), pred))

  /** The candidates MERGE keeps for a source with key column `keyCol`. */
  protected def mergeCandidateFiles(dir: String,
      source: org.apache.spark.sql.DataFrame, keyCol: String): Set[String] =
    fileNames(graft.sources.GraftMerge.mergeCandidates(spark,
      graft.sources.GraftVersions.Snapshot.current(dir),
      source.select(org.apache.spark.sql.functions.col(keyCol)).distinct(), keyCol))

  /** The files of `dir`'s current snapshot holding a row that matches
    * `pred` — what exact discovery finds; pruning keeps a superset. */
  protected def filesHolding(dir: String,
      pred: org.apache.spark.sql.Column): Set[String] =
    fileNames(graft.sources.GraftVersions.Snapshot.current(dir).read(spark)
      .filter(pred)
      .select(org.apache.spark.sql.functions.col("_metadata.file_path"))
      .collect().map(_.getString(0)).toSeq)

  /** Every file of `dir`'s current snapshot. */
  protected def allFiles(dir: String): Set[String] =
    fileNames(graft.sources.GraftVersions.manifest(dir,
      graft.sources.GraftVersions.current(dir)))

  /** Spark jobs started while `body` runs, counted by a job tag. The
    * listener bus delivers events in order, so once a later fence job's
    * start arrives every job `body` launched has been counted. */
  protected def jobsLaunchedBy(body: => Unit): Int = count(body, anyThread = false)._1

  /** Jobs and tasks (summed over the submitted stages) `body` launched. */
  protected def jobsAndTasksLaunchedBy(body: => Unit): (Int, Int) =
    count(body, anyThread = false)

  /** Every Spark job started, on any thread, between a fence job before
    * `body` and one after it — for work `body` hands to other threads
    * (the statement face's HTTP handlers), whose jobs carry no tag the
    * caller set. */
  protected def jobsStartedDuring(body: => Unit): Int = count(body, anyThread = true)._1

  private def count(body: => Unit, anyThread: Boolean): (Int, Int) = {
    val sc = spark.sparkContext
    val tag = s"spec-jobs-${System.nanoTime}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val tasks = new java.util.concurrent.atomic.AtomicInteger
    val opened = new java.util.concurrent.atomic.AtomicBoolean(!anyThread)
    val fenced = new java.util.concurrent.CountDownLatch(1)
    def tags(p: java.util.Properties) =
      Option(p).map(_.getProperty("spark.job.tags", "")).getOrElse("").split(",")
    def counted(t: Array[String]) = !t.contains(s"$tag-open") && opened.get && fenced.getCount > 0 && (anyThread || t.contains(tag))
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val t = tags(e.properties)
        if (t.contains(s"$tag-open")) opened.set(true)
        else if (t.contains(s"$tag-fence")) fenced.countDown()
        else if (counted(t)) jobs.incrementAndGet()
      }
      override def onStageSubmitted(
          e: org.apache.spark.scheduler.SparkListenerStageSubmitted): Unit =
        if (counted(tags(e.properties))) tasks.addAndGet(e.stageInfo.numTasks)
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
      (jobs.get, tasks.get)
    } finally sc.removeSparkListener(listener)
  }
}
