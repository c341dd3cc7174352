package graft

import java.sql.Timestamp
import org.apache.spark.sql.functions._

/** e13 rate-anomaly gates beyond the driver oracle: a crafted spike
  * must score exactly the hand-computed z (the rational-statistics
  * argument made concrete), a constant baseline must yield NULL z
  * (zero variance → no score, not ±inf), and the trailing frame must
  * exclude the scored hour itself. */
class AnomalySpec extends SparkSpec {

  private def ev(id: Long, h: Int, m: Int): (Long, Timestamp, Long, String, Double, String) =
    (id, Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00"), id % 7, "x", 1.0, "{}")

  /** Hours 0..5 carry counts 1,2,3,1,2,3 (baseline), hour 6 carries a
    * 30-event spike, hour 7 returns to 2. */
  private lazy val dir: String = {
    val d = tempDir("graft_anom").toString
    import spark.implicits._
    val counts = Seq(1, 2, 3, 1, 2, 3, 30, 2)
    val rows = counts.zipWithIndex.flatMap { case (n, h) =>
      (0 until n).map(i => ev(h * 100L + i, h, i % 60))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  private def z(d: String): Map[Timestamp, (Long, Double, Option[Double])] =
    SparkEntry.queries("e13_rate_anomaly")(spark, d).collect()
      .map(r => r.getTimestamp(0) ->
        (r.getLong(2), r.getDouble(3),
          if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap

  test("a crafted spike scores exactly the hand-computed z") {
    val got = z(dir)
    // hour 6: baseline 1,2,3,1,2,3 → s=12, ss=28, m=6
    val mean = 12.0 / 6
    val varr = (28.0 - 12.0 * 12.0 / 6) / 6
    val expected = (30 - mean) / math.sqrt(varr)
    val h6 = got(Timestamp.valueOf("2024-01-01 06:00:00"))
    assert(h6._1 == 30L && h6._2 == mean)
    assert(h6._3.contains(expected), s"z = ${h6._3}, expected $expected")
    assert(expected > 3, "crafted spike should clear any sane threshold")
    // hour 7's baseline now CONTAINS the spike (2,3,1,2,3,30) — the
    // frame slides, the scored hour itself is excluded
    val h7 = got(Timestamp.valueOf("2024-01-01 07:00:00"))
    assert(h7._2 == 41.0 / 6, s"hour-7 baseline mean ${h7._2}")
    // hours 0..5 have fewer than 6 trailing observations → no row
    assert(got.size == 2, s"expected exactly 2 scored hours, got ${got.keySet}")
  }

  test("a constant baseline yields NULL z, not infinity") {
    val d = tempDir("graft_anom_const").toString
    import spark.implicits._
    val rows = (0 until 8).flatMap { h =>
      (0 until 2).map(i => ev(h * 100L + i, h, i))
    }
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    val got = z(d)
    assert(got.size == 2)
    got.values.foreach { case (n, mean, zv) =>
      assert(n == 2L && mean == 2.0 && zv.isEmpty,
        s"constant series must score NULL z, got $zv")
    }
  }
}
