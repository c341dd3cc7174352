package graft

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job wall-clock profile of registered queries (dev tool; guide
  * §1 "measure first"). Times each Spark JOB inside one query
  * execution plus the gaps between jobs (driver-side planning/codegen
  * sit in the gaps), so a multi-second entry can be attributed to the
  * job that owns it instead of guessed at.
  * Usage: runMain graft.ProfileOne <sfDir> <name> [<name>...] */
object ProfileOne {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.range(1000000).agg(org.apache.spark.sql.functions.sum("id")).collect()

    case class JobRec(id: Int, start: Long, var end: Long = -1L,
        var stages: Int = 0, var tasks: Int = 0, desc: String)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.synchronized {
        val desc = Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
        jobs(js.jobId) = JobRec(js.jobId, js.time,
          stages = js.stageInfos.size,
          tasks = js.stageInfos.map(_.numTasks).sum, desc = desc)
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(je.jobId).foreach(_.end = je.time)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      (1 to 2).foreach { i =>
        jobs.synchronized(jobs.clear())
        val t0 = System.currentTimeMillis()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val t1 = System.currentTimeMillis()
        Thread.sleep(300) // let the listener bus drain
        println(f"PROFILE $n run$i total=${(t1 - t0) / 1000.0}%.3f s, ${jobs.size} jobs")
        var prevEnd = t0
        jobs.synchronized(jobs.values.toSeq).sortBy(_.start).foreach { j =>
          val gap = (j.start - prevEnd) / 1000.0
          val dur = (j.end - j.start) / 1000.0
          if (gap > 0.005 || dur > 0.005)
            println(f"  gap=$gap%6.3f job=${j.id}%3d dur=$dur%6.3f stages=${j.stages}%2d tasks=${j.tasks}%4d ${j.desc.take(60)}")
          prevEnd = math.max(prevEnd, j.end)
        }
        println(f"  tail-gap=${(t1 - prevEnd) / 1000.0}%.3f")
        Bench.cleanup(spark)
      }
    }
    spark.stop()
  }
}
