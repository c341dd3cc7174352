package graft

import graft.operators.Temporal
import org.apache.spark.sql.functions._

/** e17 sliding-window HLL distinct gates. The driver oracle pins the
  * exact regime (≤ ~512 distinct per window union: datasketches HLL
  * lgK=12 stays in coupon mode, estimate == truth); these gates cover
  * (a) that exactness claim independently at sf0.01, and (b) the
  * approximate regime the oracle can't reach — tens of thousands of
  * distinct ids per window, where the estimate must land inside HLL's
  * published error envelope. */
class SlidingHllSpec extends SparkSpec {

  private def exactSliding(events: org.apache.spark.sql.DataFrame) = {
    val hrs = events.select(date_trunc("hour", col("ts")).as("h")).distinct()
    hrs.join(events,
        date_trunc("hour", col("ts")).between(
          col("h") - expr("interval 5 hours"), col("h")))
      .groupBy(col("h"))
      .agg(countDistinct(col("user_id")).as("exact"))
  }

  test("estimate equals exact sliding distinct in the coupon regime (sf0.01)") {
    val ev = Tables.events(spark, sf2)
    val est = Temporal.slidingHll(ev)
    val joined = est.join(exactSliding(ev), Seq("h")).collect()
    assert(joined.length == 720)
    joined.foreach { r =>
      assert(r.getAs[Long]("users_6h") == r.getAs[Long]("exact"),
        s"window ${r.get(0)} estimate drifted in exact mode")
    }
  }

  test("estimate stays within HLL error envelope at high cardinality") {
    import spark.implicits._
    // 240k events over 24 hours, ~40k distinct users per 6h window —
    // far past coupon mode, estimates are genuinely probabilistic
    val ev = spark.range(240000L).selectExpr(
      "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,0, id % 86400) as ts",
      // odd multiplier coprime to 160000: consecutive ids spray densely
      "(id * 2654435761L) % 160000 as user_id")
    val est = Temporal.slidingHll(ev)
    val joined = est.join(exactSliding(ev), Seq("h")).collect()
    assert(joined.length == 24)
    joined.foreach { r =>
      val e = r.getAs[Long]("users_6h").toDouble
      val t = r.getAs[Long]("exact").toDouble
      assert(math.abs(e - t) / t <= 0.05,
        s"window ${r.get(0)}: estimate $e vs exact $t off by ${math.abs(e - t) / t}")
    }
  }

  test("streaming sliding-distinct twin equals batch e17 on anchor hours") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = tempDir("graft-e17").toPath
    Files.copy(Paths.get(s"$sf1/events.parquet"),
      dir.resolve("events.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val q = graft.streaming.EventsStreaming.slidingDistinct(
        graft.streaming.EventsStreaming.readStream(spark, dir.toString))
      .writeStream.outputMode("complete")
      .format("memory").queryName("e17_out").start()
    try q.processAllAvailable() finally q.stop()
    // streaming window [h-5h, h+1h) ≡ batch trailing window anchored
    // at h; streaming also emits non-anchor windows (ends at hours
    // with no events of their own) — compare on the batch anchors
    val streamed = spark.table("e17_out").collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1)).toMap
    val batch = Temporal.slidingHll(Tables.events(spark, sf1)).collect()
      .map(r => r.getTimestamp(0) -> r.getLong(1))
    assert(batch.nonEmpty)
    batch.foreach { case (h, users) =>
      val wend = java.sql.Timestamp.from(h.toInstant.plusSeconds(3600))
      assert(streamed.get(wend).contains(users),
        s"anchor $h: batch $users vs streaming ${streamed.get(wend)}")
    }
  }

  test("windows exist only for event-bearing hours") {
    import spark.implicits._
    // events at hours 0 and 7 only: no phantom windows for hours 1-6
    val ev = Seq(("2024-03-01 00:10:00", 1L), ("2024-03-01 07:10:00", 2L))
      .toDF("t", "user_id").select(to_timestamp(col("t")).as("ts"), col("user_id"))
    val hours = Temporal.slidingHll(ev).select(col("h")).as[java.sql.Timestamp]
      .collect().map(_.toString).sorted
    assert(hours.toSeq == Seq("2024-03-01 00:00:00.0", "2024-03-01 07:00:00.0"))
  }
}
