package graft

import graft.operators.Clustering
import org.apache.spark.sql.functions._

class ClusteringSpec extends SparkSpec {

  test("connected components labels a known graph correctly") {
    import spark.implicits._
    // two components {1,2,3,4} (a chain, diameter 3) and {10,11}; 20 isolated via self-loop
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L)).toDF("a", "b")
    val got = Clustering.connectedComponents(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  // Each round's convergence probe is an observe() metric filled by the
  // job that materializes the round. Were that to stop working, the
  // loop would fall back to one extra count() job per round, three
  // more here. The graph takes three rounds and 19 or 20 jobs: adaptive
  // execution sometimes launches one more shuffle-stage job in the last
  // round (12 runs gave both counts before the loop moved off the local
  // checkpoint, too).
  test("connected components on the known graph launches a fixed number of jobs") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (20L, 20L)).toDF("a", "b")
    val jobs = jobsLaunchedBy(Clustering.connectedComponents(edges))
    assert(jobs == 19 || jobs == 20, s"$jobs jobs")
  }

  test("connected components handles a long chain (diameter > a few iterations)") {
    import spark.implicits._
    val n = 40L
    val edges = (1L until n).map(i => (i, i + 1)).toDF("a", "b")
    val got = Clustering.connectedComponents(edges).collect()
    assert(got.length == n)
    assert(got.forall(_.getLong(1) == 1L))
  }

  test("connectedComponents rejects non-positive maxIter") {
    import spark.implicits._
    val edges = Seq((1L, 2L)).toDF("a", "b")
    intercept[IllegalArgumentException] {
      Clustering.connectedComponents(edges, maxIter = 0)
    }
  }

  test("d09 cluster ids are members and keep marks exactly the minimum") {
    val df = SparkEntry.queries("d09_dup_clusters")(spark, sf2).cache()
    try {
      val rows = df.collect()
      assert(rows.nonEmpty)
      val byCluster = rows.groupBy(_.getLong(1))
      byCluster.foreach { case (cl, members) =>
        val ids = members.map(_.getLong(0))
        assert(ids.contains(cl), s"cluster $cl lacks its representative")
        assert(ids.min == cl, s"cluster $cl is not the min member")
        members.foreach(r => assert(r.getBoolean(2) == (r.getLong(0) == cl)))
        // a dup cluster has at least 2 members (singletons carry no edge)
        assert(members.length >= 2)
      }
    } finally df.unpersist()
  }

  test("kmeans assigns every vector and clusters are non-degenerate") {
    val out = SparkEntry.queries("s05_kmeans_train")(spark, sf2).collect()
    val total = out.map(_.getLong(1)).sum
    val nVec = Tables.embeddings(spark, sf2).count()
    assert(total == nVec, s"assigned $total of $nVec vectors")
    assert(out.length > 1, "k-means collapsed to a single cluster")
    out.foreach(r => assert(r.getLong(1) > 0))
  }

  test("kmeans second iteration moves assignments (training actually iterates)") {
    import org.apache.spark.sql.DataFrame
    // iteration-1 vs iteration-2 assignments must differ for at least one
    // vector in the testdata, otherwise the unrolled trace tests nothing
    val s = spark
    val d = sf2
    val v = Tables.embeddings(s, d)
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "xf")))
      .select(col("vec_id"), col("dim"), col("xf").cast("double").as("x"))
    def assign(centroids: DataFrame): DataFrame = {
      v.join(broadcast(centroids), Seq("dim"))
        .withColumn("sq", ((col("x") - col("c")) * (col("x") - col("c")))
          .cast(org.apache.spark.sql.types.DecimalType(28, 18)))
        .groupBy(col("vec_id"), col("cl")).agg(sum(col("sq")).as("dist"))
        .withColumn("rk", expr("row_number() OVER (PARTITION BY vec_id ORDER BY dist, cl)"))
        .filter(col("rk") === 1).select(col("vec_id"), col("cl"))
    }
    val c0 = v.filter(col("vec_id") < 8).select(col("vec_id").as("cl"), col("dim"), col("x").as("c"))
    val a1 = assign(c0)
    val c1 = v.join(a1, Seq("vec_id")).groupBy(col("cl"), col("dim"))
      .agg((sum(col("x").cast(org.apache.spark.sql.types.DecimalType(28, 12))).cast("double")
        / count(lit(1))).as("c"))
    val a2 = assign(c1)
    val moved = a1.as("x").join(a2.as("y"), col("x.vec_id") === col("y.vec_id"))
      .filter(col("x.cl") =!= col("y.cl")).count()
    assert(moved > 0, "no vector changed cluster between iterations")
  }
}
