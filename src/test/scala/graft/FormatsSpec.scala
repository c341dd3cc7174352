package graft

import org.apache.spark.sql.functions._

/** Source/sink format coverage beyond parquet (SURVEY.md §2.1 —
  * the reference's stores are stand-ins for heterogeneous formats):
  * csv, json, orc round-trips preserve data. */
class FormatsSpec extends SparkSpec {

  private lazy val tmp = tempDir("graft-fmt").toString

  private lazy val src = Tables.orders(spark, sf1)
    .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))

  private def sorted(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      .collect().map(_.toString).sorted.toSeq

  test("csv round-trip") {
    src.write.mode("overwrite").option("header", "true").csv(s"$tmp/csv")
    val back = spark.read.option("header", "true")
      .schema(src.schema).csv(s"$tmp/csv")
    assert(sorted(back) == sorted(src))
  }

  test("json round-trip") {
    src.write.mode("overwrite").json(s"$tmp/json")
    val back = spark.read.schema(src.schema).json(s"$tmp/json")
    assert(sorted(back) == sorted(src))
  }

  test("orc round-trip") {
    src.write.mode("overwrite").orc(s"$tmp/orc")
    val back = spark.read.orc(s"$tmp/orc")
    assert(sorted(back) == sorted(src))
  }
}
