package graft

/** CEP pattern gates (e15) on a crafted event log where every match is
  * known by hand — the oracle proves engine parity on real data; this
  * proves the SEMANTICS: maximal view-runs, session-boundary cuts,
  * adjacency (no gap events between the views and the purchase). */
class PatternMatchSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graft_cep").toString
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2026-01-01 10:00:00")
    def ts(min: Long) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    // user 1: view view purchase  (one session)      -> match, n_views=2
    //         [31-min gap]
    //         view purchase                           -> match, n_views=1
    // user 2: view click purchase (click breaks adjacency) -> no match
    // user 3: view view           (no purchase)       -> no match
    // user 4: view [31-min gap] purchase (gap splits) -> no match
    Seq(
      (1L, ts(0), 1L, "view", 1.0, "{}"),
      (2L, ts(1), 1L, "view", 1.0, "{}"),
      (3L, ts(2), 1L, "purchase", 1.0, "{}"),
      (4L, ts(40), 1L, "view", 1.0, "{}"),
      (5L, ts(41), 1L, "purchase", 1.0, "{}"),
      (6L, ts(0), 2L, "view", 1.0, "{}"),
      (7L, ts(1), 2L, "click", 1.0, "{}"),
      (8L, ts(2), 2L, "purchase", 1.0, "{}"),
      (9L, ts(0), 3L, "view", 1.0, "{}"),
      (10L, ts(1), 3L, "view", 1.0, "{}"),
      (11L, ts(0), 4L, "view", 1.0, "{}"),
      (12L, ts(40), 4L, "purchase", 1.0, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.parquet(s"$d/events.parquet")
    d
  }

  test("e15 finds exactly the hand-known matches with maximal run lengths") {
    val got = SparkEntry.queries("e15_pattern_match")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    // (user, session, start_rn, n_views): user 1 session 1 starts at
    // rn 1 with a 2-view run; session 2's single view at rn 1
    assert(got == Set((1L, 1L, 1L, 2L), (1L, 2L, 1L, 1L)), s"got $got")
  }

  test("e15 output on real data is adjacency-sound and run-maximal") {
    val rows = SparkEntry.queries("e15_pattern_match")(spark, sf2).collect()
    assert(rows.nonEmpty, "sf0.01 fixture lost its view->purchase pairs")
    rows.foreach { r =>
      assert(r.getLong(2) >= 1 && r.getLong(3) >= 1)
    }
  }
}
