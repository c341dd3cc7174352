package graft.functions

import org.apache.spark.sql.{Column, GraftBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Vector similarity as native Catalyst expressions.
  *
  * The composable formulation (`aggregate(zip_with(...))`) is correct
  * but higher-order functions evaluate interpreted, outside whole-stage
  * codegen — too slow for the ANN hot loop. [[CosineSimilarity]] emits a
  * tight primitive loop via doGenCode, with double accumulation in
  * ascending index order, exactly matching the sequential fold the
  * DuckDB oracle uses — results are bit-identical to the composed form. */
object VectorFunctions {

  /** cosine(a, b) over array<float>/array<double>/array<tinyint>
    * columns → double. Null input array, differing array lengths, any
    * null element, or a zero-norm input (undefined cosine) → null —
    * mirroring the zip_with+aggregate formulation's null semantics
    * rather than returning a truncated or NaN value. The tinyint form
    * lets scalar-quantized int8 codes (s09) score inside the same
    * codegen'd loop — no interpreted transform-to-double in the hot
    * path. */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType

    // a null *element* also yields null, independent of input-array
    // nullability — keep isNull a real variable in codegen
    override def nullable: Boolean = true

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def checkInputDataTypes(): TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType | ByteType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"cosine_similarity needs array<float|double|tinyint>, got ${left.dataType}, ${right.dataType}")
    }

    private def getter(t: DataType): String = t match {
      case FloatType => "getFloat"
      case ByteType  => "getByte"
      case _         => "getDouble"
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val arrA = a.asInstanceOf[ArrayData]
      val arrB = b.asInstanceOf[ArrayData]
      val n = arrA.numElements()
      if (arrB.numElements() != n) return null
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
        case FloatType => arr.getFloat(i).toDouble
        case ByteType  => arr.getByte(i).toDouble
        case _         => arr.getDouble(i)
      }
      val ta = elemType(left); val tb = elemType(right)
      while (i < n) {
        if (arrA.isNullAt(i) || arrB.isNullAt(i)) return null
        val x = get(arrA, i, ta)
        val y = get(arrB, i, tb)
        dot += x * y; na += x * x; nb += y * y
        i += 1
      }
      if (na == 0.0 || nb == 0.0) return null
      dot / (math.sqrt(na) * math.sqrt(nb))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val getA = getter(elemType(left))
      val getB = getter(elemType(right))
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val dot = ctx.freshName("dot")
        val na = ctx.freshName("na")
        val nb = ctx.freshName("nb")
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) { ${ev.isNull} = true; }
           |double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |if (!${ev.isNull}) {
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    double x = (double) $a.$getA($i);
           |    double y = (double) $b.$getB($i);
           |    $dot += x * y; $na += x * x; $nb += y * y;
           |  }
           |}
           |if (!${ev.isNull} && ($na == 0.0 || $nb == 0.0)) { ${ev.isNull} = true; }
           |if (!${ev.isNull}) {
           |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CosineSimilarity =
      copy(left = newLeft, right = newRight)
  }

  /** squared L2 distance ‖a − b‖² over array<float|double|tinyint>
    * columns → double, accumulated in ascending index order — a pure
    * per-row function, so the result is the SAME double at any
    * partitioning (unlike a sum over exploded per-dimension rows,
    * whose accumulation order varies — the reason pqTrain's original
    * assignment needed decimal). Null/length semantics mirror
    * [[CosineSimilarity]]; zero-norm is meaningful here so no norm
    * guard. */
  case class SquaredL2(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    private def elemType(e: Expression): DataType =
      e.dataType.asInstanceOf[ArrayType].elementType

    override def checkInputDataTypes(): TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType | ByteType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"squared_l2 needs array<float|double|tinyint>, got ${left.dataType}, ${right.dataType}")
    }

    private def getter(t: DataType): String = t match {
      case FloatType => "getFloat"
      case ByteType  => "getByte"
      case _         => "getDouble"
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val arrA = a.asInstanceOf[ArrayData]
      val arrB = b.asInstanceOf[ArrayData]
      val n = arrA.numElements()
      if (arrB.numElements() != n) return null
      def get(arr: ArrayData, i: Int, t: DataType): Double = t match {
        case FloatType => arr.getFloat(i).toDouble
        case ByteType  => arr.getByte(i).toDouble
        case _         => arr.getDouble(i)
      }
      val ta = elemType(left); val tb = elemType(right)
      var acc = 0.0
      var i = 0
      while (i < n) {
        if (arrA.isNullAt(i) || arrB.isNullAt(i)) return null
        val d = get(arrA, i, ta) - get(arrB, i, tb)
        acc += d * d
        i += 1
      }
      acc
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val getA = getter(elemType(left))
      val getB = getter(elemType(right))
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val acc = ctx.freshName("acc")
        val d = ctx.freshName("d")
        s"""
           |int $n = $a.numElements();
           |if ($b.numElements() != $n) { ${ev.isNull} = true; }
           |double $acc = 0.0;
           |if (!${ev.isNull}) {
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
           |    double $d = (double) $a.$getA($i) - (double) $b.$getB($i);
           |    $acc += $d * $d;
           |  }
           |}
           |if (!${ev.isNull}) { ${ev.value} = $acc; }
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): SquaredL2 =
      copy(left = newLeft, right = newRight)
  }

  /** argmax over a cid-ascending centroid array of cosine(ce, emb)
    * under the (cs DESC, cid ASC) tie rule — the zero-shuffle
    * replacement for crossJoin × row_number assignment (r19), emitted
    * as ONE codegen'd loop so the corpus pass stays whole-stage
    * compiled (a higher-order `aggregate` fold computes the same
    * values interpreted, ~10× slower per row — guide §4 / the r19
    * optimization brief's codegen rule).
    *
    * `left`: array<struct<cid: long, ce: array<double|float>>>;
    * `right`: the probe vector, array<float|double|tinyint>. Returns
    * struct(cs, cid, ce) of the winner. Per-candidate cosine is the
    * EXACT CosineSimilarity arithmetic (same loop, same accumulation
    * order, same null/zero-norm skips), and the comparison is Spark's
    * double ordering (SQLOrderingUtil: NaN above every value), so the
    * winner matches ORDER BY cs DESC, cid ASC bit-for-bit. A
    * candidate whose cosine is null (length mismatch, null element,
    * zero norm) never wins; if NO candidate wins the result is null
    * (cannot occur on trained centroids — gated by the oracles). */
  case class NearestCell(left: Expression, right: Expression)
      extends BinaryExpression {

    private def centsType: StructType = left.dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

    override def dataType: DataType = StructType(Seq(
      StructField("cs", DoubleType, nullable = true),
      StructField("cid", LongType, nullable = true),
      StructField("ce", centsType("ce").dataType, nullable = true)))

    override def nullable: Boolean = true

    private def ceElem: DataType = centsType("ce").dataType
      .asInstanceOf[ArrayType].elementType

    private def embElem: DataType =
      right.dataType.asInstanceOf[ArrayType].elementType

    override def checkInputDataTypes(): TypeCheckResult = {
      val okL = left.dataType match {
        case ArrayType(StructType(Array(
          StructField("cid", LongType, _, _),
          StructField("ce", ArrayType(FloatType | DoubleType, _), _, _))), _) => true
        case _ => false
      }
      val okR = right.dataType match {
        case ArrayType(FloatType | DoubleType | ByteType, _) => true
        case _ => false
      }
      if (okL && okR) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"nearest_cell needs (array<struct<cid:long, ce:array<float|double>>>, " +
          s"array<float|double|tinyint>), got ${left.dataType}, ${right.dataType}")
    }

    private def getter(t: DataType): String = t match {
      case FloatType => "getFloat"
      case ByteType  => "getByte"
      case _         => "getDouble"
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val cents = a.asInstanceOf[ArrayData]
      val emb = b.asInstanceOf[ArrayData]
      val n = emb.numElements()
      var bestCs = Double.NegativeInfinity
      var bestIdx = -1
      var k = 0
      while (k < cents.numElements()) {
        if (!cents.isNullAt(k)) {
          val c = cents.getStruct(k, 2)
          if (!c.isNullAt(1)) {
            val ce = c.getArray(1)
            if (ce.numElements() == n) {
              var dot = 0.0; var na = 0.0; var nb = 0.0
              var i = 0; var nul = false
              while (i < n && !nul) {
                if (ce.isNullAt(i) || emb.isNullAt(i)) nul = true
                else {
                  val x = if (ceElem == FloatType) ce.getFloat(i).toDouble
                          else ce.getDouble(i)
                  val y = embElem match {
                    case FloatType => emb.getFloat(i).toDouble
                    case ByteType  => emb.getByte(i).toDouble
                    case _         => emb.getDouble(i)
                  }
                  dot += x * y; na += x * x; nb += y * y
                  i += 1
                }
              }
              if (!nul && na != 0.0 && nb != 0.0) {
                val cs = dot / (math.sqrt(na) * math.sqrt(nb))
                if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                      .compareDoubles(cs, bestCs) > 0) {
                  bestCs = cs; bestIdx = k
                }
              }
            }
          }
        }
        k += 1
      }
      if (bestIdx < 0) null
      else {
        val c = cents.getStruct(bestIdx, 2)
        InternalRow(bestCs, c.getLong(0), c.getArray(1))
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val getCe = getter(ceElem)
      val getEmb = getter(embElem)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val k = ctx.freshName("k"); val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val bestCs = ctx.freshName("bestCs")
        val bestIdx = ctx.freshName("bestIdx")
        val c = ctx.freshName("c"); val ce = ctx.freshName("ce")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val nul = ctx.freshName("nul")
        val cs = ctx.freshName("cs"); val win = ctx.freshName("win")
        s"""
           |int $n = $b.numElements();
           |double $bestCs = Double.NEGATIVE_INFINITY;
           |int $bestIdx = -1;
           |for (int $k = 0; $k < $a.numElements(); $k++) {
           |  if ($a.isNullAt($k)) continue;
           |  InternalRow $c = $a.getStruct($k, 2);
           |  if ($c.isNullAt(1)) continue;
           |  ArrayData $ce = $c.getArray(1);
           |  if ($ce.numElements() != $n) continue;
           |  double $dot = 0.0, $na = 0.0, $nb = 0.0;
           |  boolean $nul = false;
           |  for (int $i = 0; $i < $n; $i++) {
           |    if ($ce.isNullAt($i) || $b.isNullAt($i)) { $nul = true; break; }
           |    double x = (double) $ce.$getCe($i);
           |    double y = (double) $b.$getEmb($i);
           |    $dot += x * y; $na += x * x; $nb += y * y;
           |  }
           |  if ($nul || $na == 0.0 || $nb == 0.0) continue;
           |  double $cs = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
           |  if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($cs, $bestCs) > 0) {
           |    $bestCs = $cs; $bestIdx = $k;
           |  }
           |}
           |if ($bestIdx < 0) { ${ev.isNull} = true; }
           |else {
           |  InternalRow $win = $a.getStruct($bestIdx, 2);
           |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
           |    new Object[]{ $bestCs, $win.getLong(0), $win.getArray(1) });
           |}
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NearestCell =
      copy(left = newLeft, right = newRight)
  }

  /** All [[graft.operators.Similarity.pqSubspaces]] PQ codes of one
    * vector as ONE codegen'd expression — the zero-shuffle,
    * whole-stage-compiled encode (r19). `left`:
    * array<struct<sub, arr: array<struct<cl: long, cs: array<…>>>>>,
    * sub- and cl-ascending; `right`: the vector. For each subspace
    * `sub`, the candidate distance is the EXACT SquaredL2 arithmetic
    * over the elements [sub·subDim, sub·subDim + subDim) of the
    * vector, the winner is (dist ASC, cl ASC) under Spark's double
    * ordering, and a candidate with a null/length-mismatched distance
    * never wins — replicating slice + squared_l2 + the strict `<`
    * fold bit-for-bit. No winner in a subspace yields code −1 (the
    * fold's init; cannot occur under a trained codebook). */
  case class PqEncode8(left: Expression, right: Expression,
      subspaces: Int, subDim: Int) extends BinaryExpression {

    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def nullable: Boolean = true

    private def csElem: DataType = left.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("arr").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]("cs")
      .dataType.asInstanceOf[ArrayType].elementType

    private def embElem: DataType =
      right.dataType.asInstanceOf[ArrayType].elementType

    override def checkInputDataTypes(): TypeCheckResult = {
      val okL = left.dataType match {
        case ArrayType(StructType(Array(
          StructField("sub", _, _, _),
          StructField("arr", ArrayType(StructType(Array(
            StructField("cl", LongType, _, _),
            StructField("cs", ArrayType(FloatType | DoubleType, _), _, _))), _), _, _))), _) => true
        case _ => false
      }
      val okR = right.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (okL && okR) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"pq_encode8 needs (array<struct<sub, arr:array<struct<cl:long, cs:array<float|double>>>>>, " +
          s"array<float|double>), got ${left.dataType}, ${right.dataType}")
    }

    private def getter(t: DataType): String = t match {
      case FloatType => "getFloat"
      case _         => "getDouble"
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val cbs = a.asInstanceOf[ArrayData]
      val emb = b.asInstanceOf[ArrayData]
      val n = emb.numElements()
      val out = new Array[Long](subspaces)
      var sub = 0
      while (sub < subspaces) {
        val off = sub * subDim
        // slice(emb, off+1, subDim) length under array-slice semantics
        val sliceLen = math.max(0, math.min(subDim, n - off))
        var bestDist = Double.PositiveInfinity
        var bestCl = -1L
        if (sub < cbs.numElements() && !cbs.isNullAt(sub)) {
          val arr = cbs.getStruct(sub, 2).getArray(1)
          var k = 0
          while (k < arr.numElements()) {
            if (!arr.isNullAt(k)) {
              val cand = arr.getStruct(k, 2)
              if (!cand.isNullAt(1)) {
                val csArr = cand.getArray(1)
                if (csArr.numElements() == sliceLen) {
                  var acc = 0.0; var nul = false; var i = 0
                  while (i < sliceLen && !nul) {
                    if (emb.isNullAt(off + i) || csArr.isNullAt(i)) nul = true
                    else {
                      val x = if (embElem == FloatType) emb.getFloat(off + i).toDouble
                              else emb.getDouble(off + i)
                      val y = if (csElem == FloatType) csArr.getFloat(i).toDouble
                              else csArr.getDouble(i)
                      val d = x - y
                      acc += d * d
                      i += 1
                    }
                  }
                  if (!nul && org.apache.spark.sql.catalyst.util.SQLOrderingUtil
                        .compareDoubles(acc, bestDist) < 0) {
                    bestDist = acc; bestCl = cand.getLong(0)
                  }
                }
              }
            }
            k += 1
          }
        }
        out(sub) = bestCl
        sub += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val getCs = getter(csElem)
      val getEmb = getter(embElem)
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val out = ctx.freshName("out")
        val sub = ctx.freshName("sub"); val off = ctx.freshName("off")
        val sliceLen = ctx.freshName("sliceLen")
        val bestDist = ctx.freshName("bestDist"); val bestCl = ctx.freshName("bestCl")
        val arr = ctx.freshName("arr"); val k = ctx.freshName("k")
        val cand = ctx.freshName("cand"); val csArr = ctx.freshName("csArr")
        val acc = ctx.freshName("acc"); val nul = ctx.freshName("nul")
        val i = ctx.freshName("i"); val d = ctx.freshName("d")
        s"""
           |int $n = $b.numElements();
           |long[] $out = new long[$subspaces];
           |for (int $sub = 0; $sub < $subspaces; $sub++) {
           |  int $off = $sub * $subDim;
           |  int $sliceLen = java.lang.Math.max(0, java.lang.Math.min($subDim, $n - $off));
           |  double $bestDist = Double.POSITIVE_INFINITY;
           |  long $bestCl = -1L;
           |  if ($sub < $a.numElements() && !$a.isNullAt($sub)) {
           |    ArrayData $arr = $a.getStruct($sub, 2).getArray(1);
           |    for (int $k = 0; $k < $arr.numElements(); $k++) {
           |      if ($arr.isNullAt($k)) continue;
           |      InternalRow $cand = $arr.getStruct($k, 2);
           |      if ($cand.isNullAt(1)) continue;
           |      ArrayData $csArr = $cand.getArray(1);
           |      if ($csArr.numElements() != $sliceLen) continue;
           |      double $acc = 0.0;
           |      boolean $nul = false;
           |      for (int $i = 0; $i < $sliceLen; $i++) {
           |        if ($b.isNullAt($off + $i) || $csArr.isNullAt($i)) { $nul = true; break; }
           |        double $d = (double) $b.$getEmb($off + $i) - (double) $csArr.$getCs($i);
           |        $acc += $d * $d;
           |      }
           |      if ($nul) continue;
           |      if (org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles($acc, $bestDist) < 0) {
           |        $bestDist = $acc; $bestCl = $cand.getLong(0);
           |      }
           |    }
           |  }
           |  $out[$sub] = $bestCl;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqEncode8 =
      copy(left = newLeft, right = newRight)
  }

  /** CAST(Σᵢ DECIMAL(28,18)(aᵢ·bᵢ) AS DOUBLE) with the accumulation at
    * (28,18) — the compiled form of
    * `aggregate(zip_with(a, b, (x,y) -> CAST(x*y AS DECIMAL(28,18))),
    *  0 :: DECIMAL(28,18), (acc,v) -> CAST(acc+v AS DECIMAL(28,18)))
    *  :: DOUBLE`, value- and null-identical (see [[DecimalVecOps.ddot]])
    * but whole-stage-codegen-friendly: one static call per row instead
    * of an interpreted nested-HOF tree (guide §4; the r19 NearestCell
    * lesson — the HOF spelling of THIS expression was measured in r20
    * and lost ~1–2 s/entry to interpretation + planning). */
  case class DecimalDot(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = DoubleType
    override def nullable: Boolean = true

    private def isFloat(e: Expression): Boolean =
      e.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def checkInputDataTypes(): TypeCheckResult = {
      def ok(e: Expression) = e.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (ok(left) && ok(right)) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"decimal_dot needs array<float|double>, got ${left.dataType}, ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      DecimalVecOps.ddot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        isFloat(left), isFloat(right))

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val r = ctx.freshName("r")
        s"""
           |java.lang.Double $r = graft.functions.DecimalVecOps.ddot(
           |  $a, $b, ${isFloat(left)}, ${isFloat(right)});
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.doubleValue(); }
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): DecimalDot =
      copy(left = newLeft, right = newRight)
  }

  /** The dense subspaces·pqK ADC LUT of one row as ONE compiled
    * expression: slot sub·pqK+cl = decimal_dot(vec[sub·subDim ..), cs)
    * (or decimal_dot(cs, cs) when `squared`), dead slots null — the
    * value-identical compiled form of building the LUT from
    * per-(sub, cl) grouped decimal sums (the pre-r20 relational shape)
    * or per-slot HOF folds (measured and rejected, see [[DecimalDot]]).
    * `left`: the codebook-array row (array<struct<sub, arr:
    * array<struct<cl: long, cs: array<float|double>>>>>); `right`: the
    * vector the dot runs against (ignored when `squared`). Slots index
    * by the entry's OWN cl (the original lutArr semantics); a cl
    * outside [0, pqK) or a length-mismatched cs yields/stays null.
    * A dot LUT (not `squared`) against a vector shorter than
    * subspaces·subDim is null as a whole, like a NULL vector: callers
    * drop such rows with `isnotnull`, the relational shape's
    * drop-the-query contract for degenerate query embeddings. */
  case class PqLut(left: Expression, right: Expression,
      subspaces: Int, subDim: Int, pqK: Int, squared: Boolean)
      extends BinaryExpression {

    override def dataType: DataType = ArrayType(DoubleType, containsNull = true)
    override def nullable: Boolean = true

    private def csElem: DataType = left.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("arr").dataType
      .asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]("cs")
      .dataType.asInstanceOf[ArrayType].elementType

    private def vecIsFloat: Boolean =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def checkInputDataTypes(): TypeCheckResult = {
      val okL = left.dataType match {
        case ArrayType(StructType(Array(
          StructField("sub", _, _, _),
          StructField("arr", ArrayType(StructType(Array(
            StructField("cl", LongType, _, _),
            StructField("cs", ArrayType(FloatType | DoubleType, _), _, _))), _), _, _))), _) => true
        case _ => false
      }
      val okR = right.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (okL && okR) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"pq_lut needs (array<struct<sub, arr:array<struct<cl:long, cs:array<float|double>>>>>, " +
          s"array<float|double>), got ${left.dataType}, ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      DecimalVecOps.pqLut(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData],
        subspaces, subDim, pqK, squared, csElem == FloatType, vecIsFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        s"""
           |${ev.value} = graft.functions.DecimalVecOps.pqLut(
           |  $a, $b, $subspaces, $subDim, $pqK, $squared,
           |  ${csElem == FloatType}, $vecIsFloat);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): PqLut =
      copy(left = newLeft, right = newRight)
  }

  /** Per-row decimal argmin over a cl-ascending centroid-array row —
    * the compiled form of Clustering's `nearestDecimal` fold (squared
    * L2 per dimension cast to DECIMAL(28,18), accumulated at (28,18),
    * winner by strict `<` with the fold's exact Kleene-logic quirks —
    * see [[DecimalVecOps.nearestDecimalCl]]). `left`:
    * array<struct<cl: long, cs: array<double>>>; `right`: the vector.
    * Returns the winning cl (−1 over an empty array, matching the
    * fold's init). */
  case class NearestDecimal(left: Expression, right: Expression)
      extends BinaryExpression {

    override def dataType: DataType = LongType
    override def nullable: Boolean = true

    private def csElem: DataType = left.dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]("cs").dataType
      .asInstanceOf[ArrayType].elementType

    private def vecIsFloat: Boolean =
      right.dataType.asInstanceOf[ArrayType].elementType == FloatType

    override def checkInputDataTypes(): TypeCheckResult = {
      val okL = left.dataType match {
        case ArrayType(StructType(Array(
          StructField("cl", LongType, _, _),
          StructField("cs", ArrayType(FloatType | DoubleType, _), _, _))), _) => true
        case _ => false
      }
      val okR = right.dataType match {
        case ArrayType(FloatType | DoubleType, _) => true
        case _ => false
      }
      if (okL && okR) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        s"nearest_decimal needs (array<struct<cl:long, cs:array<float|double>>>, " +
          s"array<float|double>), got ${left.dataType}, ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      DecimalVecOps.nearestDecimalCl(a.asInstanceOf[ArrayData],
        b.asInstanceOf[ArrayData], csElem == FloatType, vecIsFloat)

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val r = ctx.freshName("r")
        s"""
           |java.lang.Long $r = graft.functions.DecimalVecOps.nearestDecimalCl(
           |  $a, $b, ${csElem == FloatType}, $vecIsFloat);
           |if ($r == null) { ${ev.isNull} = true; }
           |else { ${ev.value} = $r.longValue(); }
         """.stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): NearestDecimal =
      copy(left = newLeft, right = newRight)
  }

  def nearest_cell(cents: Column, emb: Column): Column =
    GraftBridge.column(NearestCell(
      GraftBridge.expression(cents), GraftBridge.expression(emb)))

  def decimal_dot(a: Column, b: Column): Column =
    GraftBridge.column(DecimalDot(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  def pq_lut(cbs: Column, vec: Column, subspaces: Int, subDim: Int,
      pqK: Int, squared: Boolean): Column =
    GraftBridge.column(PqLut(GraftBridge.expression(cbs),
      GraftBridge.expression(vec), subspaces, subDim, pqK, squared))

  def nearest_decimal(cents: Column, emb: Column): Column =
    GraftBridge.column(NearestDecimal(
      GraftBridge.expression(cents), GraftBridge.expression(emb)))

  def pq_encode8(cbs: Column, emb: Column, subspaces: Int, subDim: Int): Column =
    GraftBridge.column(PqEncode8(
      GraftBridge.expression(cbs), GraftBridge.expression(emb), subspaces, subDim))

  def cosine_similarity(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(GraftBridge.expression(a), GraftBridge.expression(b)))

  def squared_l2(a: Column, b: Column): Column =
    GraftBridge.column(SquaredL2(GraftBridge.expression(a), GraftBridge.expression(b)))

  def register(spark: SparkSession): Unit = {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "cosine_similarity", exprs => CosineSimilarity(exprs(0), exprs(1)), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "squared_l2", exprs => SquaredL2(exprs(0), exprs(1)), "built-in")
  }
}

/** Compiled exact-decimal vector kernels backing [[VectorFunctions]]'s
  * DecimalDot / PqLut / NearestDecimal — a top-level object so the
  * generated Java calls the static forwarders directly. Every method
  * reproduces the value AND null semantics of the Catalyst composition
  * it replaces, using Spark's own `Decimal` for each double→DECIMAL(28,18)
  * cast (same shortest-string rounding, same HALF_UP toPrecision) and
  * exact scale-18 BigDecimal addition (the (29,18)→(28,18) cast-back
  * only fails on magnitude overflow, mirrored as null). */
object DecimalVecOps {
  import org.apache.spark.sql.catalyst.util.GenericArrayData
  import org.apache.spark.sql.types.Decimal

  @inline private def get(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** CAST(d AS DECIMAL(28,18)) — null on overflow (unreachable at these
    * magnitudes; the interpreted Cast under ANSI would raise instead). */
  private def castD(d: Double): java.math.BigDecimal = {
    val dec = Decimal(d)
    if (dec.changePrecision(28, 18)) dec.toJavaBigDecimal else null
  }

  private val MAX_PREC = 28

  /** Decimal dot product of a[off ..) (lenA elements) against b —
    * null iff the zip lengths differ, any element is null, or any
    * cast/accumulation overflows (zip_with + aggregate null
    * semantics). */
  private def ddotSlice(a: ArrayData, off: Int, lenA: Int,
      b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double = {
    if (lenA != b.numElements()) return null
    var acc = java.math.BigDecimal.ZERO.setScale(18)
    var i = 0
    while (i < lenA) {
      if (a.isNullAt(off + i) || b.isNullAt(i)) return null
      val v = castD(get(a, off + i, aF) * get(b, i, bF))
      if (v == null) return null
      acc = acc.add(v)
      if (acc.precision > MAX_PREC) return null
      i += 1
    }
    acc.doubleValue()
  }

  def ddot(a: ArrayData, b: ArrayData, aF: Boolean, bF: Boolean): java.lang.Double =
    ddotSlice(a, 0, a.numElements(), b, aF, bF)

  /** The dense subspaces·pqK LUT row: slot sub·pqK+cl =
    * ddot(vec[sub·subDim ..), cs) (or ddot(cs, cs) when `squared`);
    * slots without a codebook entry stay null. Null when not `squared`
    * and `vec` is shorter than subspaces·subDim. */
  def pqLut(cbs: ArrayData, vec: ArrayData, subspaces: Int, subDim: Int,
      pqK: Int, squared: Boolean, csF: Boolean, vecF: Boolean): ArrayData = {
    if (!squared && vec.numElements() < subspaces * subDim) return null
    val out = new Array[Any](subspaces * pqK)
    var sub = 0
    while (sub < subspaces) {
      if (sub < cbs.numElements() && !cbs.isNullAt(sub)) {
        val entry = cbs.getStruct(sub, 2)
        if (!entry.isNullAt(1)) {
          val arr = entry.getArray(1)
          var k = 0
          while (k < arr.numElements()) {
            if (!arr.isNullAt(k)) {
              val cand = arr.getStruct(k, 2)
              if (!cand.isNullAt(0) && !cand.isNullAt(1)) {
                val cl = cand.getLong(0)
                if (cl >= 0 && cl < pqK) {
                  val cs = cand.getArray(1)
                  val v: java.lang.Double =
                    if (squared) ddotSlice(cs, 0, cs.numElements(), cs, csF, csF)
                    else ddotSlice(vec, sub * subDim, subDim, cs, vecF, csF)
                  out(sub * pqK + cl.toInt) = v
                }
              }
            }
            k += 1
          }
        }
      }
      sub += 1
    }
    new GenericArrayData(out)
  }

  /** Σᵢ DECIMAL(28,18)((aᵢ−bᵢ)²) accumulated at (28,18) — same null
    * semantics as [[ddotSlice]]. */
  private def sqDistD(a: ArrayData, b: ArrayData,
      aF: Boolean, bF: Boolean): java.math.BigDecimal = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = java.math.BigDecimal.ZERO.setScale(18)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val d = get(a, i, aF) - get(b, i, bF)
      val v = castD(d * d)
      if (v == null) return null
      acc = acc.add(v)
      if (acc.precision > MAX_PREC) return null
      i += 1
    }
    acc
  }

  /** Clustering.nearestDecimal's fold, compiled — including its exact
    * Kleene-logic edge behavior: the condition is
    * `acc.cl <=> -1 OR dist < acc.dist`, so while acc.cl is the init
    * −1 ANY candidate wins (even a null-dist one, whose null cl/dist
    * then stick, because `dist < null` is null and the fold keeps acc);
    * afterwards a candidate wins only by strict decimal `<`. Both
    * branches are unreachable on trained centroids — gated by the same
    * oracles that gated the interpreted fold. Returns the winner's cl,
    * −1 over an empty array, null if a null-struct/null-cl candidate
    * won (the fold's null propagation). */
  def nearestDecimalCl(cents: ArrayData, emb: ArrayData,
      csF: Boolean, embF: Boolean): java.lang.Long = {
    var accCl: java.lang.Long = -1L
    var accDist: java.math.BigDecimal = null
    var k = 0
    while (k < cents.numElements()) {
      // c1 = (acc.cl === -1) — a VALUE test (null acc.cl → null → keep)
      val c1 = accCl != null && accCl.longValue() == -1L
      if (cents.isNullAt(k)) {
        // null struct: its cl and dist are both null; c2 is null
        if (c1) { accCl = null; accDist = null }
      } else {
        val cc = cents.getStruct(k, 2)
        val dist: java.math.BigDecimal =
          if (cc.isNullAt(1)) null
          else sqDistD(emb, cc.getArray(1), embF, csF)
        val ccCl: java.lang.Long = if (cc.isNullAt(0)) null else cc.getLong(0)
        val wins = c1 ||
          (dist != null && accDist != null && dist.compareTo(accDist) < 0)
        if (wins) { accDist = dist; accCl = ccCl }
      }
      k += 1
    }
    accCl
  }
}
