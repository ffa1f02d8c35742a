package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, StructField, StructType}

/**
 * Native codegen'd vector math over `array<float>` / `array<double>`
 * columns — the ANN hot path. The higher-order-function forms
 * (`aggregate(zip_with(...))`) evaluate an interpreted lambda per element
 * and are excluded from subexpression elimination, so a cosine (three dot
 * products) costs six interpreted array passes per row; these expressions
 * run one fused primitive loop inside whole-stage codegen, no boxing.
 *
 * Semantics intentionally mirror the HOF forms they replace, so scores are
 * bit-identical to the previously validated oracle math:
 *  - accumulate left-to-right in `double` (floats widened per element);
 *  - result is NULL when the arrays differ in length (zip_with pads with
 *    nulls) or any element is null;
 *  - cosine returns 0.0 when either norm is zero.
 */
abstract class VectorBinaryExpression extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  protected def elemOk(dt: DataType): Boolean = dt match {
    case ArrayType(FloatType | DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemOk(left.dataType) && elemOk(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double> inputs, " +
        s"got ${left.dataType.catalogString} and ${right.dataType.catalogString}")

  @transient protected lazy val leftIsFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient protected lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  protected def getElem(a: ArrayData, i: Int, isFloat: Boolean): Double =
    if (isFloat) a.getFloat(i).toDouble else a.getDouble(i)

  /** Java accessor snippet for one element, widened to double. */
  protected def elemJava(arr: String, i: String, isFloat: Boolean): String =
    if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
}

/** Dot product; one fused loop. */
case class ArrayDot(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def prettyName: String = "array_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += getElem(x, i, leftIsFloat) * getElem(y, i, rightIsFloat)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ${elemJava(x, i, leftIsFloat)} * ${elemJava(y, i, rightIsFloat)};
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayDot =
    copy(left = newLeft, right = newRight)
}

/** Cosine similarity; the three accumulators (x·y, x·x, y·y) run in ONE
 *  fused loop instead of three separate array passes. */
case class ArrayCosine(left: Expression, right: Expression) extends VectorBinaryExpression {

  override def prettyName: String = "array_cosine"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var xy = 0.0; var xx = 0.0; var yy = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = getElem(x, i, leftIsFloat)
      val yv = getElem(y, i, rightIsFloat)
      xy += xv * yv; xx += xv * xv; yy += yv * yv
      i += 1
    }
    val denom = math.sqrt(xx) * math.sqrt(yy)
    if (denom == 0.0) 0.0 else xy / denom
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val xy = ctx.freshName("xy")
      val xx = ctx.freshName("xx")
      val yy = ctx.freshName("yy")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      val denom = ctx.freshName("denom")
      s"""
         |int $n = $x.numElements();
         |if ($n != $y.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $xy = 0.0; double $xx = 0.0; double $yy = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $xv = ${elemJava(x, i, leftIsFloat)};
         |    double $yv = ${elemJava(y, i, rightIsFloat)};
         |    $xy += $xv * $yv; $xx += $xv * $xv; $yy += $yv * $yv;
         |  }
         |  if (!${ev.isNull}) {
         |    double $denom = java.lang.Math.sqrt($xx) * java.lang.Math.sqrt($yy);
         |    ${ev.value} = ($denom == 0.0) ? 0.0 : $xy / $denom;
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): ArrayCosine =
    copy(left = newLeft, right = newRight)
}

/**
 * Random-hyperplane LSH signature — the native form of the HOF
 * `aggregate(transform(sequence(0,nBits-1), p => when(dot(vec, plane_p) > 0,
 * 1 << p).otherwise(0)), 0, or)` with plane_p(j) = (pmod(xxhash64(p, j),
 * 100003) / 100003.0) - 0.5.
 *
 * Bit-identical to that HOF: the plane matrix is precomputed once per
 * expression instance (driver side, shipped as a reference object) with the
 * exact same seed-42 XXH64 fold, pmod, and double arithmetic order; the dot
 * product accumulates left-to-right in double like [[ArrayDot]]. The HOF
 * yields 0 (not NULL) for a NULL vector, a length-mismatched vector, or a
 * vector with NULL elements (`when(NULL > 0)` takes the otherwise branch for
 * every bit) — mirrored here, so the expression is never-null.
 *
 * Replaces the last interpreted aggregate on a signature scan path: the HOF
 * evaluated nBits × dim interpreted lambda steps per row even after the
 * plane subtree constant-folded; this is one fused primitive loop over a
 * cached double[][].
 */
case class HyperplaneSigExpr(child: Expression, nBits: Int, dim: Int) extends UnaryExpression {

  require(nBits > 0 && nBits <= 30, "nBits must be in [1,30]")
  require(dim > 0, "dim must be positive")

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "hyperplane_sig"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case dt => TypeCheckResult.TypeCheckFailure(
      s"hyperplane_sig expects array<float>/array<double>, got ${dt.catalogString}")
  }

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  /** planes(p)(j) = (pmod(xxhash64(p, j), 100003) / 100003.0) - 0.5 with
   *  xxhash64's left-to-right child fold from seed 42. */
  @transient private lazy val planes: Array[Array[Double]] =
    Array.tabulate(nBits, dim) { (p, j) =>
      val h = XXH64.hashInt(j, XXH64.hashInt(p, 42L))
      val r = h % 100003L
      val m = if (r < 0) r + 100003L else r
      (m.toDouble / 100003.0d) - 0.5d
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) return 0
    val arr = v.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n != dim) return 0
    var j = 0
    while (j < n) { if (arr.isNullAt(j)) return 0; j += 1 }
    var sig = 0
    var p = 0
    while (p < nBits) {
      val plane = planes(p)
      var s = 0.0
      var i = 0
      while (i < n) {
        val e = if (childIsFloat) arr.getFloat(i).toDouble else arr.getDouble(i)
        s += e * plane(i)
        i += 1
      }
      if (s > 0.0) sig |= (1 << p)
      p += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val planesRef = ctx.addReferenceObj("hyperplanes", planes, "double[][]")
    val a = ctx.freshName("arr")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val j = ctx.freshName("j")
    val p = ctx.freshName("p")
    val s = ctx.freshName("s")
    val ok = ctx.freshName("ok")
    val plane = ctx.freshName("plane")
    val elem = if (childIsFloat) s"(double) $a.getFloat($i)" else s"$a.getDouble($i)"
    val code = code"""
       |${c.code}
       |int ${ev.value} = 0;
       |if (!${c.isNull}) {
       |  org.apache.spark.sql.catalyst.util.ArrayData $a = ${c.value};
       |  int $n = $a.numElements();
       |  boolean $ok = ($n == $dim);
       |  for (int $j = 0; $ok && $j < $n; $j++) {
       |    if ($a.isNullAt($j)) $ok = false;
       |  }
       |  if ($ok) {
       |    for (int $p = 0; $p < $nBits; $p++) {
       |      double[] $plane = $planesRef[$p];
       |      double $s = 0.0;
       |      for (int $i = 0; $i < $n; $i++) {
       |        $s += $elem * $plane[$i];
       |      }
       |      if ($s > 0.0) ${ev.value} |= (1 << $p);
       |    }
       |  }
       |}
     """.stripMargin
    ev.copy(code = code, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): HyperplaneSigExpr =
    copy(child = newChild)
}

/** Fused symmetric int8 quantization of one vector — the radius-search
 *  family's index transform ([[graft.similarity.Ann.rangeQuantPlan]]):
 *  s = max|xᵢ|, qᵢ = ⌊127·xᵢ/s + 0.5⌋ (all-zero when s = 0), emitted as
 *  struct(qd: ARRAY<DOUBLE> of the quantized values, n2: Σqᵢ² as BIGINT).
 *  qd carries the integers as doubles because every downstream dot over
 *  int8-scale values is integral ≪ 2⁵³ — exact in double and eligible for
 *  the codegen'd [[ArrayDot]] — while n2 stays a long for the
 *  cross-multiplied integer membership test. Replaces a chain of four
 *  interpreted higher-order functions whose projection-collapsed form
 *  re-evaluated the scale expression per ELEMENT (the sf10 profile
 *  measured ~6 ms/row — this loop is ~100 ns). Bit-identical to the HOF
 *  form: same float→double widening, same IEEE divide and floor. */
case class Int8QuantizeExpr(child: Expression) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {
  import org.apache.spark.sql.types.{LongType, StructField, StructType}

  override def prettyName: String = "int8_quantize"

  override def dataType: DataType = StructType(Seq(
    StructField("qd", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("n2", LongType, nullable = false)))

  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double>, got ${other.catalogString}")
  }

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val ax = math.abs(x)
      // java.lang.Double.compare mirrors Spark/array_max ordering exactly:
      // NaN counts as greatest, so a NaN element wins the scale the same
      // way the HOF form it is documented bit-identical to would
      if (java.lang.Double.compare(ax, s) > 0) s = ax
      i += 1
    }
    val qd = new Array[Double](n)
    var n2 = 0L
    i = 0
    while (i < n) {
      val x = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val q = if (s == 0.0) 0L else math.floor(127.0 * x / s + 0.5).toLong
      qd(i) = q.toDouble
      n2 += q * q
      i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(qd), n2)
  }

  override protected def withNewChildInternal(newChild: Expression): Int8QuantizeExpr =
    copy(child = newChild)
}

/** Nearest-centroid assignment against a whole centroid MATRIX held in the
 *  expression node — the large-k argmax the IVF family needs
 *  ([[graft.similarity.Ann.assignCellsScalable]]). Scores one input vector
 *  against all k centroids in a tight primitive loop and returns the
 *  0-based index of the best score; `norms` selects the metric:
 *   - `Some(‖c‖²)`  → score = 2·x·c − ‖c‖²  (argmin L2, the Lloyd metric)
 *   - `None`        → score = x·c           (argmax dot, the kNN-graph cell rule)
 *  Bit-identical to the broadcast-join form it replaces (same
 *  left-to-right double dot accumulation as [[ArrayDot]], same
 *  `2.0·dot − ‖c‖²` operation order, first maximum ⇒ lowest cell on
 *  ties = `max_by(score, −cid)`); AssignEquivSpec pins all paths equal.
 *  Why not k literal expressions: at k ≈ √n (450 at 200k vectors) the
 *  generated class blows past JVM method limits, and the join form
 *  pushes a k× row expansion through a corpus-wide hash argmax
 *  (measured 17 s of ann_knn_graph's 45 s at sf10 — this loop is the
 *  same flops with zero expansion). The matrix is plan data, not code:
 *  k never changes the expression tree size. */
case class NearestCellExpr(child: Expression, cents: Array[Array[Double]],
    norms: Option[Array[Double]]) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "nearest_cell"

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double>, got ${other.catalogString}")
  }

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val dim: Int = cents.headOption.map(_.length).getOrElse(0)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != dim || cents.isEmpty) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      x(i) = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    var best = -1
    var bestScore = 0.0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x(i) * cent(i); i += 1 }
      val score = norms match {
        case Some(ns) => 2.0 * dot - ns(c)
        case None => dot
      }
      // Double.compare, not >: Spark's double ordering treats NaN as
      // greatest, so a NaN score must WIN the argmax exactly as the
      // max_by/array_max forms these expressions mirror would have it
      if (best < 0 || java.lang.Double.compare(score, bestScore) > 0) { best = c; bestScore = score }
      c += 1
    }
    best
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellExpr =
    copy(child = newChild)
}

/** TOP-2 dot-product cell assignment against a whole centroid matrix —
 *  the soft-assignment form the kNN-graph's boundary-replication multiprobe
 *  needs ([[graft.similarity.Ann]]): a vector whose second-best cell scores
 *  close to its best sits near a Voronoi boundary, and indexing it into
 *  BOTH cells is what lets an in-cell search on the other side still see
 *  it. One primitive loop returns struct(cell1, d1, cell2, d2); identical
 *  tie semantics to [[NearestCellExpr]] and the SQL
 *  `row_number() ORDER BY dot DESC, id` twin (strict `>` everywhere ⇒
 *  first maximum wins ⇒ lowest cell id on equal scores, for BOTH slots).
 *  Dot metric only; the kNN-graph caller pre-NORMALIZES the centroid rows
 *  driver-side, which turns this argmax into the cosine (directional)
 *  rule — dot(x, ĉ) = ‖x‖·cos θ, and ‖x‖ is constant per row, so both the
 *  argmax and the d2/d1 band ratio are exactly the cosine ones (the
 *  DuckDB twin ranks on list_cosine_similarity). Requires ≥ 2 centroids. */
case class Top2CellsExpr(child: Expression, cents: Array[Array[Double]])
    extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "top2_cells"

  override def dataType: DataType = StructType(Seq(
    StructField("cell1", IntegerType, nullable = false),
    StructField("d1", DoubleType, nullable = false),
    StructField("cell2", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double>, got ${other.catalogString}")
  }

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val dim: Int = cents.headOption.map(_.length).getOrElse(0)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != dim || cents.length < 2) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      x(i) = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    var best = -1; var bestScore = 0.0
    var second = -1; var secondScore = 0.0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x(i) * cent(i); i += 1 }
      if (best < 0 || java.lang.Double.compare(dot, bestScore) > 0) {
        second = best; secondScore = bestScore
        best = c; bestScore = dot
      } else if (second < 0 || java.lang.Double.compare(dot, secondScore) > 0) {
        second = c; secondScore = dot
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best, bestScore, second, secondScore)
  }

  override protected def withNewChildInternal(newChild: Expression): Top2CellsExpr =
    copy(child = newChild)
}

/** TOP-2 SUB-cell assignment inside a HOT level-1 cell — the second level
 *  of the kNN-graph's split index ([[graft.similarity.Ann]]). `left` is the
 *  level-1 cell id, `right` the vector; `mats` maps each OVERSIZED cell to
 *  its sub-seed matrix (rows ordered by ascending member vec_id, so the
 *  0-based sub index is reproducible in SQL as
 *  `row_number() OVER (PARTITION BY cell ORDER BY vec_id) - 1`). Rows whose
 *  cell is not hot return NULL — the split engages only where the level-1
 *  population exceeds 2× the mean, so at corpora with balanced cells this
 *  expression is a no-op marker, not a result change. Tie semantics
 *  identical to [[Top2CellsExpr]] (strict `Double.compare` ⇒ first maximum
 *  ⇒ lowest sub index), dot metric only — the caller pre-normalizes the
 *  sub-seed rows, making this the cosine rule (see [[Top2CellsExpr]]). A
 *  hot cell starts with m ≥ 3 sub-seeds (hot ⇒ pop·k > 2·total ⇒
 *  m = ⌈pop·k/total⌉ ≥ 3); exact-duplicate seed vectors are dropped by
 *  the caller, and if < 2 distinct rows remain the `cents.length < 2`
 *  guard below returns null ⇒ the cell stays unsplit. */
case class SubCellsExpr(left: Expression, right: Expression,
                        mats: Map[Int, Array[Array[Double]]])
    extends BinaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "sub_cells"

  override def dataType: DataType = StructType(Seq(
    StructField("sub1", IntegerType, nullable = false),
    StructField("d1", DoubleType, nullable = false),
    StructField("sub2", IntegerType, nullable = false),
    StructField("d2", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (IntegerType, ArrayType(FloatType | DoubleType, _)) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (int, array<float>/array<double>), got ${l.catalogString}, ${r.catalogString}")
  }

  @transient private lazy val rightIsFloat: Boolean =
    right.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(cellV: Any, v: Any): Any = {
    val cents = mats.getOrElse(cellV.asInstanceOf[Int], null)
    if (cents == null || cents.length < 2) return null
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != cents(0).length) return null
    val x = new Array[Double](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      x(i) = if (rightIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      i += 1
    }
    var best = -1; var bestScore = 0.0
    var second = -1; var secondScore = 0.0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x(i) * cent(i); i += 1 }
      if (best < 0 || java.lang.Double.compare(dot, bestScore) > 0) {
        second = best; secondScore = bestScore
        best = c; bestScore = dot
      } else if (second < 0 || java.lang.Double.compare(dot, secondScore) > 0) {
        second = c; secondScore = dot
      }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best, bestScore, second, secondScore)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): SubCellsExpr =
    copy(left = newLeft, right = newRight)
}

/** Fused PRODUCT-QUANTIZATION encoder — quantize one vector on the global
 *  scale `gs` (the [[graft.similarity.Ann.pqTopKOf]] chain:
 *  qᵢ = ⌊127·xᵢ/gs + 0.5⌋, exact in double) and encode each of the M
 *  w-dim subvectors as its nearest of K codebook rows, ties to the lowest
 *  codeword — ONE primitive loop per row. Replaces the HOF pipeline
 *  (transform-quantize, then per subspace an array_min over K zip_with/
 *  aggregate squared-distance lambdas: M·K·w ≈ 1000 interpreted lambda
 *  steps per corpus row, the measured bulk of ann_pq's scan cost).
 *  Bit-identical to that chain on dense inputs: same widen→divide→floor
 *  order, same integer squared distances, same `dist·K + c` argmin pack.
 *  The codebook rides the expression as plan data (the NearestCellExpr
 *  discipline). NULL for a null/misshapen/null-bearing vector. */
case class PqEncodeExpr(child: Expression, gs: Double, cb: Array[Array[Long]],
    subDim: Int) extends UnaryExpression {
  import org.apache.spark.sql.types.LongType

  override def prettyName: String = "pq_encode"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double>, got ${other.catalogString}")
  }

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def nullSafeEval(v: Any): Any =
    PqOps.encode(v.asInstanceOf[ArrayData], gs, cb, subDim, childIsFloat)

  // r12 (guide §4): was CodegenFallback — every row paid an interpreted
  // eval() dispatch plus input-row boxing at the whole-stage boundary. The
  // loop is shared with the interpreted path (PqOps), so the generated
  // call is bit-identical by construction; the codebook rides the codegen
  // references array.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", cb, "long[][]")
    // the exact bits, not a decimal literal: NaN/±Infinity have no Java literal
    val gsRef = s"java.lang.Double.longBitsToDouble(${java.lang.Double.doubleToRawLongBits(gs)}L)"
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.PqOps.encode($c, $gsRef, $cbRef, $subDim, $childIsFloat);
      ${ev.isNull} = (${ev.value} == null);
    """)
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncodeExpr =
    copy(child = newChild)
}

/** Shared primitive loops for the PQ expressions — ONE implementation
 *  serves both the interpreted eval and the generated code, so the two
 *  paths cannot drift. */
object PqOps {
  def encode(a: ArrayData, gs: Double, cb: Array[Array[Long]], subDim: Int,
             childIsFloat: Boolean): ArrayData = {
    val dim = if (cb.isEmpty) 0 else cb(0).length
    val m = if (subDim > 0) dim / subDim else 0
    val n = a.numElements()
    if (n != dim || cb.isEmpty) return null
    val q = new Array[Long](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val x = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      q(i) = math.floor(127.0d * x / gs + 0.5d).toLong
      i += 1
    }
    val k = cb.length
    val codes = new Array[Long](m)
    var s = 0
    while (s < m) {
      val off = s * subDim
      var bestPacked = Long.MaxValue
      var c = 0
      while (c < k) {
        val cw = cb(c)
        var d = 0L
        var j = 0
        while (j < subDim) {
          val diff = q(off + j) - cw(off + j)
          d += diff * diff
          j += 1
        }
        val packed = d * k + c
        if (packed < bestPacked) bestPacked = packed
        c += 1
      }
      codes(s) = bestPacked % k
      s += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(codes)
  }

  /** ADC lookup-sum; null (as a boxed Long) when the table and code
   *  disagree on M — the caller's null flag derives from the reference. */
  def adc(qt: ArrayData, code: ArrayData): java.lang.Long = {
    val msub = code.numElements()
    if (qt.numElements() != msub) return null
    var s = 0
    var acc = 0L
    while (s < msub) {
      val row = qt.getArray(s)
      acc += row.getLong(code.getLong(s).toInt)
      s += 1
    }
    java.lang.Long.valueOf(acc)
  }
}

/** ADC lookup-sum — score one PQ code against one query's M×K distance
 *  table: Σₛ qt[s][code[s]], the asymmetric-distance scan of
 *  [[graft.similarity.Ann.pqTopKOf]]. One primitive loop per (corpus row ×
 *  query) replaces the interpreted `aggregate(zip_with(element_at))` pair.
 *  NULL when either side is null (dense inputs never are). */
case class PqAdcExpr(left: Expression, right: Expression) extends BinaryExpression {
  import org.apache.spark.sql.types.LongType

  override def prettyName: String = "pq_adc"

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(ArrayType(LongType, _), _), ArrayType(LongType, _)) =>
      TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects (array<array<bigint>>, array<bigint>), " +
        s"got ${l.catalogString}, ${r.catalogString}")
  }

  override def nullSafeEval(t: Any, c: Any): Any =
    PqOps.adc(t.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])

  // r12 (guide §4): was CodegenFallback — this is the per-(corpus row ×
  // query) scoring expression, so the interpreted-dispatch + boxing tax
  // was paid on the query's hottest loop. Same shared loop as eval.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val boxed = ctx.freshName("adcBoxed")
    nullSafeCodeGen(ctx, ev, (l, r) => s"""
      java.lang.Long $boxed = graft.functions.PqOps.adc($l, $r);
      ${ev.isNull} = ($boxed == null);
      ${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
    """)
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): PqAdcExpr =
    copy(left = newLeft, right = newRight)
}

/** Max-COSINE centroid assignment against a whole centroid matrix, returning
 *  BOTH the winning 0-based index and its cosine in one struct — the
 *  radius-search index build ([[graft.similarity.Ann.rangeSearchIvf]]) needs
 *  the score (per-cell angular radius = min member cosine), which
 *  [[NearestCellExpr]] discards. One primitive loop per row replaces the
 *  16-wide array of [[ArrayDot]] columns the previous plan built — and
 *  rebuilt 3× after projection collapse inlined the array into each of its
 *  consumers (cell id, position, score), ~75 s of ann_range_ivf's sf10 cost.
 *  Bit-identical math to the column form: left-to-right double dot, score =
 *  dot / √(Σx²·‖c‖²) (Σx² over int8-scale integral doubles is exact and
 *  equals the snapshot's long n2), first strict maximum ⇒ lowest cell on
 *  ties (= `array_position(cs, array_max(cs))` on a NaN-free array).
 *  `centN2` carries ‖c‖² precomputed; rows with Σx² = 0 are filtered before
 *  this expression runs (zero vectors never pass the dot > 0 membership
 *  gate), so the divisor is never zero. */
case class NearestCellCosExpr(child: Expression, cents: Array[Array[Double]],
    centN2: Array[Double]) extends UnaryExpression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def prettyName: String = "nearest_cell_cos"

  override def dataType: DataType = StructType(Seq(
    StructField("cell", IntegerType, nullable = false),
    StructField("ccos", DoubleType, nullable = false)))
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType | DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName expects array<float>/array<double>, got ${other.catalogString}")
  }

  @transient private lazy val childIsFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType
  @transient private lazy val dim: Int = cents.headOption.map(_.length).getOrElse(0)

  override def nullSafeEval(v: Any): Any = {
    val a = v.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != dim || cents.isEmpty) return null
    val x = new Array[Double](n)
    var xn2 = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      val e = if (childIsFloat) a.getFloat(i).toDouble else a.getDouble(i)
      x(i) = e
      xn2 += e * e
      i += 1
    }
    var best = -1
    var bestScore = 0.0
    var c = 0
    while (c < cents.length) {
      val cent = cents(c)
      var dot = 0.0
      i = 0
      while (i < n) { dot += x(i) * cent(i); i += 1 }
      val score = dot / math.sqrt(xn2 * centN2(c))
      if (best < 0 || java.lang.Double.compare(score, bestScore) > 0) { best = c; bestScore = score }
      c += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(best, bestScore)
  }

  override protected def withNewChildInternal(newChild: Expression): NearestCellCosExpr =
    copy(child = newChild)
}
