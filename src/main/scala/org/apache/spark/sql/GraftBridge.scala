package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.types._

/** Bridge into `private[sql]` helpers so graft code can lift custom
  * Catalyst [[Expression]]s into user-facing [[Column]]s (the Spark 4.x
  * Column API is node-based; `classic.ExpressionUtils` does the lifting). */
object GraftBridge {
  /** Per-statement session isolation for the statement protocol face:
    * a clone shares the SparkContext and SharedState (so registered
    * catalogs and temp state resolve identically) but carries its OWN
    * SessionState — conf, CatalogManager, current catalog/namespace —
    * so applying a statement's `X-Trino-Catalog`/`X-Trino-Schema`
    * defaults never races concurrent statements or direct users of
    * the shared session. `cloneSession` is `private[sql]`; this is
    * the sanctioned bridge. */
  def cloneSession(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** Constructors for V2 connector literals/partitions that are
    * `private[sql]` in the Scala signature (public bytecode, pickled
    * visibility) — used by the PG-dialect pinning spec to hand-build
    * the pushdown shapes Spark itself would push. */
  def v2Literal(v: Any, dt: DataType)
      : org.apache.spark.sql.connector.expressions.Literal[Any] =
    org.apache.spark.sql.connector.expressions.LiteralValue(v, dt)
  /** Spark's own V2 → V1 predicate translation (literals converted to
    * external Scala values), so the mongodb and elastic scans render a
    * runtime filter with their compile-time V1 renderer. */
  def toV1(p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[sources.Filter] = internal.connector.PredicateUtils.toV1(p)
  /** Render a DataFrame's rows to strings EXECUTOR-side through the
    * df's OWN QueryExecution (`toRdd`), so the SQL metrics of the
    * already-planned tree keep accumulating — `Dataset.rdd` would
    * build a SEPARATE deserialization QueryExecution whose metrics the
    * statement server's live `stats` walk cannot see. The deserializer
    * to external Rows is the row encoder Spark itself would bind. */
  def renderedRdd(df: DataFrame, render: Row => String)
      : org.apache.spark.rdd.RDD[String] = {
    val enc = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder(
      df.schema)
    df.queryExecution.toRdd.mapPartitions { it =>
      val deser = enc.resolveAndBind().createDeserializer()
      it.map(ir => render(deser(ir)))
    }
  }

  def withPredicates(b: org.apache.spark.sql.jdbc.JdbcSQLQueryBuilder,
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate])
      : org.apache.spark.sql.jdbc.JdbcSQLQueryBuilder =
    b.withPredicates(predicates,
      org.apache.spark.sql.execution.datasources.jdbc.JDBCPartition(null, 0))

  /** The one materialization of an operator relation that is read more
    * than once. Without it every reference re-inlines the relation's
    * subtree: a training pass (IVF centroids, PQ codebooks), a corpus
    * explode (word/trigram/tf indexes), a signature aggregate, or the
    * previous round of an iterative loop (connected components, the MMR
    * selection), whose lazy plan grows 3^k with the rounds. One
    * materialization runs that subtree once and every consumer reads
    * its blocks.
    *
    * It is Spark's eager local Dataset checkpoint minus the step that
    * cuts lineage: under one SQL execution of `df`'s own QueryExecution
    * (so `observe()` metrics fill during it) the executed plan's rows
    * are persisted at MEMORY_AND_DISK, filled by one job, and wrapped
    * in a `LogicalRDD` that keeps the plan's partitioning, ordering and
    * statistics. A block lost with its executor is recomputed from
    * lineage, so task retry recovers it instead of failing the job. The
    * blocks stay until [[release]] (iterative loops drop each
    * superseded round), `Bench.cleanup`, or the RDD's GC. */
  def materialize(df: DataFrame): DataFrame = {
    val ds = df.asInstanceOf[classic.Dataset[Row]]
    val qe = ds.queryExecution
    val rows = execution.SQLExecution.withNewExecutionId(qe, Some("materialize")) {
      qe.executedPlan.resetMetrics()
      val r = qe.executedPlan.execute().map(_.copy())
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      r.count()
      r
    }
    ofRows(ds.sparkSession,
      execution.LogicalRDD.fromDataset(rows, ds, ds.isStreaming))
  }

  /** Drop the blocks behind a [[materialize]]d DataFrame now rather
    * than at the RDD's GC. No-op on any other plan. */
  def release(df: DataFrame): Unit = df.queryExecution.analyzed match {
    case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false); ()
    case _ =>
  }

  /** Materialized (RDD) blocks per live executor, from the block
    * manager master — zero for an executor that holds none. */
  def rddBlocksByExecutor(sc: org.apache.spark.SparkContext): Map[String, Int] =
    sc.env.blockManager.master.getStorageStatus
      .map(s => s.blockManagerId.executorId -> s.rddBlocks.size)
      .filter(_._1 != org.apache.spark.SparkContext.DRIVER_IDENTIFIER).toMap

  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Sound per-column INTEGRAL interval constraints implied by a
    * predicate Column's CONJUNCTS — the extraction behind graft's
    * manifest-level data skipping (GraftMerge.pruneByStats). Open ends
    * are Long.MinValue/MaxValue. */
  def conjunctBounds(c: Column): Map[String, (Long, Long)] =
    boundsWalk[Long](c, longLit, longNodeLit)(Ordering.Long).map {
      case (col, (lo, hi)) =>
        col -> (lo.getOrElse(Long.MinValue), hi.getOrElse(Long.MaxValue))
    }

  /** The STRING channel of the same extraction: per-column byte-array
    * bounds (UTF8 bytes, unsigned-lexicographic — Spark's UTF8String
    * ordering, which is also parquet's UTF8 stats comparator). Open
    * ends are None. */
  def conjunctStrBounds(c: Column)
      : Map[String, (Option[Array[Byte]], Option[Array[Byte]])] =
    boundsWalk[Array[Byte]](c, strLit, strNodeLit)(byteOrd)

  private val byteOrd: Ordering[Array[Byte]] =
    (a: Array[Byte], b: Array[Byte]) => java.util.Arrays.compareUnsigned(a, b)

  /** Finite per-column candidate-value SETS implied by a predicate's
    * CONJUNCTS — the extraction behind graft's bloom-sidecar point
    * skipping (GraftBlooms.prune): `col = v` contributes {v}, `col IN
    * (…)` the literal set, and several conjuncts on one column
    * INTERSECT (a matching row satisfies all of them). An EMPTY set is
    * meaningful: the recognized conjuncts are jointly unsatisfiable, so
    * NO file can hold a matching row. Unrecognized conjuncts contribute
    * nothing (sound, as in [[conjunctBounds]]); any OR/NOT above yields
    * no constraints. */
  def conjunctLongPoints(c: Column): Map[String, Set[Long]] =
    pointsWalk[Long](c, longLit, longNodeLit)

  /** The STRING channel of [[conjunctLongPoints]]. */
  def conjunctStrPoints(c: Column): Map[String, Set[String]] =
    pointsWalk[String](c, strLitStr, strNodeLitStr)

  /** Per-column NULLNESS constraints implied by a predicate's
    * CONJUNCTS: `col IS NULL` → true, `col IS NOT NULL` → false —
    * probed against the manifest's per-file null counts (a file with
    * zero nulls in the column cannot match IS NULL; a file that is all
    * null cannot match IS NOT NULL). Both requirements on one column
    * is unsatisfiable — encoded as BOTH entries present via the
    * special key handling in the caller (here: last-writer-wins is
    * avoided by collecting into a Set). */
  def conjunctNullness(c: Column): Map[String, Set[Boolean]] = {
    import org.apache.spark.sql.{internal => n}
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => CUA}
    def cname(e: Expression): Option[String] = e match {
      case a: ce.AttributeReference => Some(a.name)
      case u: CUA if u.nameParts.length == 1 => Some(u.nameParts.head)
      case _ => None
    }
    def cwalk(e: Expression): Seq[(String, Boolean)] = e match {
      case ce.And(l, r) => cwalk(l) ++ cwalk(r)
      case ce.IsNull(a) => cname(a).map(_ -> true).toSeq
      case ce.IsNotNull(a) => cname(a).map(_ -> false).toSeq
      case _ => Seq.empty
    }
    def nname(node: n.ColumnNode): Option[String] = node match {
      case a: n.UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def nwalk(node: n.ColumnNode): Seq[(String, Boolean)] = node match {
      case e: classic.ExpressionColumnNode => cwalk(e.expression)
      case f: n.UnresolvedFunction =>
        f.functionName match {
          case "and" => f.arguments.flatMap(nwalk)
          case "isnull" if f.arguments.length == 1 =>
            nname(f.arguments.head).map(_ -> true).toSeq
          case "isnotnull" if f.arguments.length == 1 =>
            nname(f.arguments.head).map(_ -> false).toSeq
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }
    nwalk(c.node).groupBy(_._1).map { case (col, xs) =>
      col -> xs.map(_._2).toSet
    }
  }

  private def strLitStr(e: Expression): Option[String] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    e match {
      case ce.Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(v.toString)
      case _ => None
    }
  }

  private def strNodeLitStr(node: internal.ColumnNode): Option[String] =
    node match {
      case l: internal.Literal => l.value match {
        case s: String => Some(s)
        case _ => None
      }
      case _ => None
    }

  private def pointsWalk[T](c: Column,
      clit: Expression => Option[T],
      nlit: internal.ColumnNode => Option[T]): Map[String, Set[T]] = {
    import org.apache.spark.sql.{internal => n}
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => CUA}

    def cname(e: Expression): Option[String] = e match {
      case a: ce.AttributeReference => Some(a.name)
      case u: CUA if u.nameParts.length == 1 => Some(u.nameParts.head)
      case cst: ce.Cast if widening(cst.child.dataType, cst.dataType) =>
        cname(cst.child)
      case _ => None
    }
    def ceq(a: Expression, b: Expression): Seq[(String, Set[T])] =
      (for { nm <- cname(a); v <- clit(b) } yield (nm, Set(v))).toSeq
    def cwalk(e: Expression): Seq[(String, Set[T])] = e match {
      case ce.And(l, r) => cwalk(l) ++ cwalk(r)
      case ce.EqualTo(a, b) => ceq(a, b) ++ ceq(b, a)
      case ce.In(a, list) =>
        val vs = list.map(clit)
        if (vs.nonEmpty && vs.forall(_.isDefined))
          cname(a).map(nm => (nm, vs.flatten.toSet)).toSeq
        else Seq.empty
      case _ => Seq.empty
    }

    def nname(node: n.ColumnNode): Option[String] = node match {
      case a: n.UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def neq(a: n.ColumnNode, b: n.ColumnNode): Seq[(String, Set[T])] =
      (for { nm <- nname(a); v <- nlit(b) } yield (nm, Set(v))).toSeq
    def nwalk(node: n.ColumnNode): Seq[(String, Set[T])] = node match {
      case e: classic.ExpressionColumnNode => cwalk(e.expression)
      case f: n.UnresolvedFunction =>
        val a = f.arguments
        f.functionName match {
          case "and" => a.flatMap(nwalk)
          case "=" | "==" if a.length == 2 => neq(a(0), a(1)) ++ neq(a(1), a(0))
          case "in" if a.length >= 2 =>
            val vs = a.drop(1).map(nlit)
            if (vs.forall(_.isDefined))
              nname(a.head).map(nm => (nm, vs.flatten.toSet)).toSeq
            else Seq.empty
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }

    nwalk(c.node).groupBy(_._1).map { case (col, sets) =>
      col -> sets.map(_._2).reduce(_ intersect _)
    }
  }

  /** Value-preserving (widening) integral casts only — a NARROWING
    * cast on either side changes the compared value (truncation), and
    * stripping it would derive WRONG bounds that prune matching files. */
  private def widening(from: DataType, to: DataType): Boolean = {
    def w(d: DataType): Int = d match {
      case ByteType => 1
      case ShortType => 2
      case IntegerType => 3
      case LongType => 4
      case _ => 0
    }
    w(from) > 0 && w(to) >= w(from)
  }

  private def longLit(e: Expression): Option[Long] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    e match {
      case ce.Literal(v: Byte, _) => Some(v.toLong)
      case ce.Literal(v: Short, _) => Some(v.toLong)
      case ce.Literal(v: Int, _) => Some(v.toLong)
      case ce.Literal(v: Long, _) => Some(v)
      case cst: ce.Cast if widening(cst.child.dataType, cst.dataType) =>
        longLit(cst.child)
      case _ => None
    }
  }

  private def strLit(e: Expression): Option[Array[Byte]] = {
    import org.apache.spark.sql.catalyst.{expressions => ce}
    e match {
      case ce.Literal(v: org.apache.spark.unsafe.types.UTF8String, StringType) =>
        Some(v.getBytes)
      case _ => None
    }
  }

  private def longNodeLit(node: internal.ColumnNode): Option[Long] =
    node match {
      case l: internal.Literal => l.value match {
        case b: Byte => Some(b.toLong)
        case s: Short => Some(s.toLong)
        case i: Int => Some(i.toLong)
        case lo: Long => Some(lo)
        case _ => None
      }
      case _ => None
    }

  private def strNodeLit(node: internal.ColumnNode): Option[Array[Byte]] =
    node match {
      case l: internal.Literal => l.value match {
        case s: String =>
          Some(org.apache.spark.unsafe.types.UTF8String.fromString(s).getBytes)
        case _ => None
      }
      case _ => None
    }

  /** The shared conjunct walk over BOTH predicate representations: the
    * node-space tree the `col()/lit()` API builds
    * (`internal.UnresolvedFunction("=", …)`) and Catalyst expressions
    * wrapped by `ExpressionColumnNode` (the SQL DML path rebuilding
    * resolved statement predicates). Any conjunct the walk does not
    * recognize contributes no constraint (a row matching `A AND B`
    * matches A, so excluding a file by A's bounds alone stays sound; an
    * OR at the top yields no constraints). Range bounds stay LOOSE (`>`
    * treated as `>=`) — no increment edge, still sound. Cast-stripping
    * on the COLUMN side is catalyst-only and widening-only (node-space
    * child types are unknown pre-resolution, so no stripping there).
    * UNRESOLVED attributes constrain only when their name is a SINGLE
    * part: `col("s.b")` denotes the nested field b of struct s, and
    * keying a constraint by the trailing part would prune on an
    * unrelated top-level column b's stats (ADVICE r13) — multipart
    * names contribute nothing, which is sound. */
  private def boundsWalk[T](c: Column,
      clit: Expression => Option[T],
      nlit: internal.ColumnNode => Option[T])(implicit ord: Ordering[T])
      : Map[String, (Option[T], Option[T])] = {
    import org.apache.spark.sql.{internal => n}
    import org.apache.spark.sql.catalyst.{expressions => ce}
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => CUA}

    // (column, lo, hi) with None = unbounded on that side
    type B = (String, Option[T], Option[T])

    def cname(e: Expression): Option[String] = e match {
      case a: ce.AttributeReference => Some(a.name)
      case u: CUA if u.nameParts.length == 1 => Some(u.nameParts.head)
      case cst: ce.Cast if widening(cst.child.dataType, cst.dataType) =>
        cname(cst.child)
      case _ => None
    }
    def crange(a: Expression, b: Expression,
        mk: T => (Option[T], Option[T])): Seq[B] =
      (for { nm <- cname(a); v <- clit(b) }
        yield { val (lo, hi) = mk(v); (nm, lo, hi) }).toSeq
    def cwalk(e: Expression): Seq[B] = e match {
      case ce.And(l, r) => cwalk(l) ++ cwalk(r)
      case ce.EqualTo(a, b) =>
        crange(a, b, v => (Some(v), Some(v))) ++
          crange(b, a, v => (Some(v), Some(v)))
      case ce.GreaterThan(a, b) =>
        crange(a, b, v => (Some(v), None)) ++ crange(b, a, v => (None, Some(v)))
      case ce.GreaterThanOrEqual(a, b) =>
        crange(a, b, v => (Some(v), None)) ++ crange(b, a, v => (None, Some(v)))
      case ce.LessThan(a, b) =>
        crange(a, b, v => (None, Some(v))) ++ crange(b, a, v => (Some(v), None))
      case ce.LessThanOrEqual(a, b) =>
        crange(a, b, v => (None, Some(v))) ++ crange(b, a, v => (Some(v), None))
      case ce.In(a, list) =>
        val vs = list.map(clit)
        if (vs.nonEmpty && vs.forall(_.isDefined))
          cname(a).map(nm =>
            (nm, Some(vs.flatten.min), Some(vs.flatten.max))).toSeq
        else Seq.empty
      case _ => Seq.empty
    }

    def nname(node: n.ColumnNode): Option[String] = node match {
      case a: n.UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def nrange(a: n.ColumnNode, b: n.ColumnNode,
        mk: T => (Option[T], Option[T])): Seq[B] =
      (for { nm <- nname(a); v <- nlit(b) }
        yield { val (lo, hi) = mk(v); (nm, lo, hi) }).toSeq
    def nwalk(node: n.ColumnNode): Seq[B] = node match {
      case e: classic.ExpressionColumnNode => cwalk(e.expression)
      case f: n.UnresolvedFunction =>
        val a = f.arguments
        f.functionName match {
          case "and" => a.flatMap(nwalk)
          case "=" | "==" if a.length == 2 =>
            nrange(a(0), a(1), v => (Some(v), Some(v))) ++
              nrange(a(1), a(0), v => (Some(v), Some(v)))
          case ">" | ">=" if a.length == 2 =>
            nrange(a(0), a(1), v => (Some(v), None)) ++
              nrange(a(1), a(0), v => (None, Some(v)))
          case "<" | "<=" if a.length == 2 =>
            nrange(a(0), a(1), v => (None, Some(v))) ++
              nrange(a(1), a(0), v => (Some(v), None))
          case "in" if a.length >= 2 =>
            val vs = a.drop(1).map(nlit)
            if (vs.forall(_.isDefined))
              nname(a.head).map(nm =>
                (nm, Some(vs.flatten.min), Some(vs.flatten.max))).toSeq
            else Seq.empty
          case _ => Seq.empty
        }
      case _ => Seq.empty
    }

    nwalk(c.node)
      .groupBy(_._1)
      .map { case (col, bs) =>
        val los = bs.flatMap(_._2)
        val his = bs.flatMap(_._3)
        col -> (if (los.isEmpty) None else Some(los.max),
          if (his.isEmpty) None else Some(his.min))
      }
      .filter { case (_, (lo, hi)) => lo.isDefined || hi.isDefined }
  }
}
