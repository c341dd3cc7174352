package graft

import java.time.{Instant, LocalDateTime, ZoneOffset}

import org.apache.spark.sql.GraftBridge.v2Literal
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, TableCatalog}
import org.apache.spark.sql.connector.expressions.{Expression, Expressions}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{InputPartition, SupportsPushDownFilters, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.sources.In
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.{GraftElasticCatalog, GraftElasticPartition, GraftMongoCatalog, GraftMongoPartition}

/** One filter translation per wire connector: a runtime dynamic filter
  * (a V2 `IN` with Catalyst-internal literals — longs, UTF8Strings,
  * epoch-micros) plans the same wire filter as the matching
  * compile-time V1 `In` pushed through the scan builder, because the
  * runtime path feeds the compile-time renderer. */
class WireRuntimeFilterSpec extends SparkSpec {

  private def table(cat: TableCatalog, ns: String, name: String): SupportsRead = {
    cat.initialize("wire", CaseInsensitiveStringMap.empty())
    cat.loadTable(Identifier.of(Array(ns), name)).asInstanceOf[SupportsRead]
  }

  /** The planned partitions of `t` with `v1` pushed at compile time,
    * and with the same set arriving at runtime as `IN(ref, v2…)`. */
  private def plans(t: SupportsRead, v1: In, ref: String,
      v2: Seq[Expression]): (Array[InputPartition], Array[InputPartition]) = {
    val pushed = t.newScanBuilder(CaseInsensitiveStringMap.empty())
    assert(pushed.asInstanceOf[SupportsPushDownFilters]
      .pushFilters(Array(v1)).isEmpty, s"$v1 stayed residual")
    val runtime = t.newScanBuilder(CaseInsensitiveStringMap.empty()).build()
    runtime.asInstanceOf[SupportsRuntimeV2Filtering].filter(Array(
      new Predicate("IN", (Expressions.column(ref) +: v2).toArray)))
    (pushed.build().toBatch.planInputPartitions(),
      runtime.toBatch.planInputPartitions())
  }

  /** An external V1 value and the internal V2 literal of one timestamp
    * column value, by the column's declared type. */
  private def ts(t: SupportsRead, col: String, micros: Long): (Any, Expression) = {
    val dt = t.schema()(col).dataType
    val i = Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
    val ext = dt match {
      case TimestampType => i
      case TimestampNTZType => LocalDateTime.ofInstant(i, ZoneOffset.UTC)
    }
    (ext, v2Literal(micros, dt))
  }

  private def str(s: String): Expression = v2Literal(UTF8String.fromString(s), StringType)

  test("runtime IN-sets render exactly as the compile-time In (mongodb, elastic)") {
    spark.conf.set("spark.sql.graft.root", sf1)
    val orders = table(new GraftMongoCatalog, "tpcds", "orders")
    val events = table(new GraftMongoCatalog, "tpcds", "events")
    val tsMicros = Seq(1704844800123456L, 1705449600000001L)
    val (tsV1, tsV2) = tsMicros.map(ts(events, "ts", _)).unzip
    val dateMicros = Seq(788918400000000L, 789004800000000L)
    val (dateV1, dateV2) = dateMicros.map(ts(orders, "o_orderdate", _)).unzip
    def mongo(t: SupportsRead, v1: In, ref: String, v2: Seq[Expression]): String = {
      val (pushed, runtime) = plans(t, v1, ref, v2)
      val filters = (pushed ++ runtime).map(_.asInstanceOf[GraftMongoPartition]
        .filter.map(_.render).getOrElse("<none>")).distinct
      assert(filters.length == 1 && filters.head.contains("$in"),
        s"$v1 vs runtime IN($ref): ${filters.mkString(" | ")}")
      filters.head
    }
    mongo(orders, In("o_custkey", Array(3L, 7L)), "o_custkey",
      Seq(v2Literal(3L, LongType), v2Literal(7L, LongType)))
    // the runtime reference's case is mapped back to the schema's
    mongo(orders, In("o_custkey", Array(3L, 7L)), "O_CUSTKEY",
      Seq(v2Literal(3L, LongType), v2Literal(7L, LongType)))
    mongo(orders, In("o_orderstatus", Array("F", "O")), "o_orderstatus",
      Seq(str("F"), str("O")))
    // BSON datetimes (ms) and int64 epoch-micros keep their encodings
    mongo(orders, In("o_orderdate", dateV1.toArray), "o_orderdate", dateV2)
    val evDoc = mongo(events, In("ts", tsV1.toArray), "ts", tsV2)
    tsMicros.foreach(us => assert(evDoc.contains(us.toString), evDoc))

    val docs = table(new GraftElasticCatalog, "default", "documents")
    def elastic(v1: In, ref: String, v2: Seq[Expression]): Unit = {
      val (pushed, runtime) = plans(docs, v1, ref, v2)
      val bodies = (pushed ++ runtime).map(_.asInstanceOf[GraftElasticPartition]
        .queryJson).distinct
      assert(bodies.length == 1 && bodies.head.contains(""""terms""""),
        s"$v1 vs runtime IN($ref): ${bodies.mkString(" | ")}")
    }
    elastic(In("doc_id", Array(2L, 5L)), "doc_id",
      Seq(v2Literal(2L, LongType), v2Literal(5L, LongType)))
    elastic(In("doc_id", Array(2L, 5L)), "DOC_ID",
      Seq(v2Literal(2L, LongType), v2Literal(5L, LongType)))
    elastic(In("lang", Array("en", "de")), "lang", Seq(str("en"), str("de")))
  }
}
