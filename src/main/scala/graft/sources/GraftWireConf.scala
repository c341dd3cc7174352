package graft.sources

import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.types.StructType

/** Session-tunable knobs shared by the wire connectors (jdbc, mongodb,
  * elastic) and the statement face. Read at use time from the active
  * session's SQLConf so a `SET` takes effect without rebuilding
  * catalogs. */
private[graft] object GraftWireConf {

  /** Max literal count a runtime dynamic filter may fold into a wire
    * request (jdbc `IN (…)` WHERE clause / mongodb `$in` find clause /
    * elastic `terms` bool.filter clause). Past
    * this the key set is no longer selective enough to pay its wire
    * bytes and the store-side membership work — the same sizing
    * discipline Trino applies to its dynamic filters (and ES itself
    * hard-caps a `terms` lookup at 65,536 values). Runtime filtering
    * is an optimization: an oversized filter is simply not sent and
    * the join stays correct Spark-side. */
  val RuntimeFilterMaxKeysKey = "spark.sql.graft.wire.runtimeFilterMaxKeys"

  def runtimeFilterMaxKeys: Int =
    try org.apache.spark.sql.internal.SQLConf.get
      .getConfString(RuntimeFilterMaxKeysKey, "65536").toInt
    catch { case _: NumberFormatException => 65536 }

  /** The one admission rule for runtime dynamic filters, shared by the
    * jdbc, mongodb and elastic scans: only `IN` predicates with at
    * most [[runtimeFilterMaxKeys]] literals go over the wire. Runtime
    * predicates carry the column AS THE USER TYPED it (Spark resolves
    * case-insensitively but keeps the query's spelling, and — unlike
    * compile-time pushdown — the runtime path never normalizes it back
    * to the relation schema), so each single-part reference is
    * rewritten to `schema`'s spelling; each scan then translates what
    * is admitted with its own compile-time renderer. */
  def admitRuntimeFilters(predicates: Array[Predicate],
      schema: StructType): Seq[Predicate] = {
    val maxKeys = runtimeFilterMaxKeys
    predicates.toSeq.filter { p =>
      p.name() == "IN" && p.children().nonEmpty &&
        p.children().length - 1 <= maxKeys
    }.map { p =>
      new Predicate(p.name(), p.children().map {
        case ref: NamedReference if ref.fieldNames().length == 1 =>
          schema.fields.find(_.name.equalsIgnoreCase(ref.fieldNames().head))
            .map(fd => Expressions.column(fd.name)).getOrElse(ref)
        case other => other
      })
    }
  }

  /** Where the statement face spools a result partition too large to
    * return inline (more than a page of rows or 64 Ki characters; each
    * such partition's task writes one gzip file) — resolved through the
    * Hadoop FileSystem API on BOTH the write and read side, so any
    * scheme the cluster's Hadoop conf knows (`hdfs://`, `s3a://`, a
    * mounted object store) works unchanged. On a real cluster this MUST
    * be storage every executor can write and the driver can read (the
    * spooling protocol's object-store bucket); locally the system tmp
    * dir. A `file:` dir under a NON-local master is refused by
    * [[GraftStatementServer.spoolPathUsable]] unless
    * [[StatementSpoolDirSharedKey]] declares it a shared mount: a
    * statement with a partition to spool then fails with guidance
    * naming both keys, while small results still work. */
  val StatementSpoolDirKey = "spark.sql.graft.statement.spoolDir"

  def statementSpoolDir(s: org.apache.spark.sql.SparkSession): String =
    s.conf.get(StatementSpoolDirKey, System.getProperty("java.io.tmpdir"))

  /** Operator declaration that a `file:`-scheme spool dir is a SHARED
    * mount (NFS or equal) visible at the same path from the driver and
    * every executor — the one case where `file:` + a non-local master
    * is legitimate. Without it a statement that needs a spool file
    * there fails rather than read files the driver cannot see. */
  val StatementSpoolDirSharedKey = "spark.sql.graft.statement.spoolDirShared"

  def statementSpoolDirShared(s: org.apache.spark.sql.SparkSession): Boolean =
    try s.conf.get(StatementSpoolDirSharedKey, "false").toBoolean
    catch { case _: IllegalArgumentException => false }
}
