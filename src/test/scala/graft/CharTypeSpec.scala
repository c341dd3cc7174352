package graft

import org.apache.spark.sql.functions._

/** char(n)/bpchar semantics (SURVEY.md §7.4.3; reference q003 groups by
  * `ca_state char(2)` with a NULL group in its golden output —
  * results/q003/workers-1/results.txt:12): values read back
  * blank-padded to the declared width, comparisons against shorter
  * literals pad before comparing, and the NULL group survives a
  * group-by. */
class CharTypeSpec extends SparkSpec {

  private lazy val wh = tempDir("graft-char").toString

  private def setup(): Unit = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS graft_char LOCATION '$wh/db'")
    spark.sql("DROP TABLE IF EXISTS graft_char.states")
    spark.sql("CREATE TABLE graft_char.states (st CHAR(2), v INT) USING parquet")
    spark.sql(
      "INSERT INTO graft_char.states VALUES ('R', 1), ('R', 2), (NULL, 3), ('AB', 4), (NULL, 5)")
  }

  test("char(2) values read back blank-padded to the declared width") {
    setup()
    val vals = spark.table("graft_char.states")
      .select(col("st")).where(col("v") === 1).collect()
    assert(vals.head.getString(0) == "R ", s"got '${vals.head.getString(0)}'")
  }

  test("comparison against a shorter literal pads before comparing") {
    setup()
    // 'R' (length 1) must match the stored 'R ' (length 2) — bpchar
    // padded-comparison semantics, not raw string equality
    assert(spark.table("graft_char.states").where(col("st") === "R").count() == 2)
    assert(spark.sql(
      "SELECT COUNT(*) AS n FROM graft_char.states WHERE st = 'R'").head().getLong(0) == 2)
  }

  test("group-by over char(2) keeps the NULL group (q003 golden shape)") {
    setup()
    val rows = spark.table("graft_char.states")
      .groupBy(col("st")).agg(count(lit(1)).as("n"), sum(col("v")).as("sv"))
      .collect().map(r => Option(r.getString(0)) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(None) == (2L, 8L), s"NULL group wrong/missing: $rows")
    assert(rows(Some("R ")) == (2L, 3L))
    assert(rows(Some("AB")) == (1L, 4L))
  }
}
