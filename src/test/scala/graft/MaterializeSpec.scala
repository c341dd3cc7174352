package graft

import org.apache.spark.{Dependency, ShuffleDependency}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import scala.jdk.CollectionConverters._

/** `GraftBridge.materialize`, the one materialization of a reused
  * operator relation: Spark's eager local checkpoint without the step
  * that cuts lineage. The plan leaf it leaves must be the one the
  * checkpoint left (so plans, exchanges and oracle hashes hold), filled
  * by the same single job, while a lost block stays recomputable. */
class MaterializeSpec extends SparkSpec {

  private def leaf(df: DataFrame): LogicalRDD = df.queryExecution.analyzed match {
    case lr: LogicalRDD => lr
    case p => fail(s"expected a LogicalRDD leaf, got ${p.nodeName}")
  }

  /** Hash-partitioned and sorted within partitions, so the leaf has a
    * partitioning and an ordering to keep. */
  private def shuffled(): DataFrame = spark.range(0, 2000, 1, 4)
    .repartition(5, col("id") % 7).sortWithinPartitions(col("id")).toDF()

  private def lineage(r: RDD[_]): Seq[Dependency[_]] =
    r.dependencies.flatMap(d => d +: lineage(d.rdd))

  test("materialize launches exactly one job and keeps the rows") {
    val plain = spark.range(0, 2000, 1, 4).withColumn("sq", col("id") * col("id"))
    var m: DataFrame = null
    assert(jobsLaunchedBy { m = GraftBridge.materialize(plain) } == 1)
    assert(m.collect().toSeq == plain.collect().toSeq)
  }

  test("the leaf keeps the partitioning and ordering the local checkpoint gives") {
    def both(): (LogicalRDD, LogicalRDD) = {
      val in = shuffled()
      (leaf(GraftBridge.materialize(in)), leaf(in.localCheckpoint()))
    }
    val (m, c) = both()
    assert(m.outputPartitioning == c.outputPartitioning)
    assert(m.outputOrdering == c.outputOrdering)
    // an adaptive plan's root reports neither, so compare them
    // non-trivially with adaptive execution off
    val aqe = "spark.sql.adaptive.enabled"
    val saved = spark.conf.get(aqe)
    spark.conf.set(aqe, "false")
    try {
      val (m, c) = both()
      assert(m.outputPartitioning == c.outputPartitioning)
      assert(m.outputPartitioning.numPartitions == 5)
      assert(m.outputOrdering == c.outputOrdering && m.outputOrdering.nonEmpty)
    } finally spark.conf.set(aqe, saved)
  }

  test("the materialized RDD is persisted, not checkpointed, and keeps its lineage") {
    val in = shuffled()
    val rdd = leaf(GraftBridge.materialize(in)).rdd
    assert(!rdd.isCheckpointed)
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(lineage(rdd).exists(_.isInstanceOf[ShuffleDependency[_, _, _]]))
    val cut = leaf(in.localCheckpoint()).rdd
    assert(cut.isCheckpointed)
    assert(!lineage(cut).exists(_.isInstanceOf[ShuffleDependency[_, _, _]]))
  }

  test("release drops the materialized RDD") {
    val df = GraftBridge.materialize(shuffled())
    val id = leaf(df).rdd.id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    GraftBridge.release(df)
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  /** Tripwire: a relation is materialized in exactly one place. A
    * checkpoint cuts lineage, so a lost executor fails the next read;
    * a bare cache or persist is filled lazily by whichever consumer
    * runs first and is released by nobody. */
  test("nothing under src/main/scala materializes outside GraftBridge.materialize") {
    val banned = Seq("localCheckpoint(", ".checkpoint(", ".cache()", ".persist(")
    def lines(f: java.io.File): IndexedSeq[String] =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n", -1).toIndexedSeq
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the repository root: ${root.getAbsolutePath}")
    val bridge = new java.io.File(root, "org/apache/spark/sql/GraftBridge.scala")
    val b = lines(bridge)
    val start = b.indexWhere(_.trim.startsWith("def materialize("))
    assert(start >= 0, "GraftBridge.materialize not found")
    val end = b.indexWhere(_ == "  }", start)
    val hits = for {
      f <- java.nio.file.Files.walk(root.toPath).iterator.asScala.map(_.toFile)
        .filter(_.getName.endsWith(".scala")).toSeq.sorted
      (l, i) <- lines(f).zipWithIndex
      if banned.exists(l.contains)
    } yield (f, i, l.trim)
    val (inside, outside) = hits.partition { case (f, i, _) =>
      f == bridge && i > start && i < end
    }
    assert(outside.isEmpty, outside.map { case (f, i, l) =>
      s"${f.getPath}:${i + 1}: $l" }.mkString("materialized outside the helper:\n", "\n", ""))
    assert(inside.map(_._3).count(_.contains(".persist(")) == 1, inside.toString)
  }
}
