package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftShim
import org.apache.spark.sql.types._

/** Codegen'd sequential dot product over two float/double arrays — the
  * embedding-similarity hot path (SURVEY.md §2 C5-C7).
  *
  * Semantics are EXACTLY the HOF formulation
  * `aggregate(zip_with(a, b, (x,y) -> double(x)*double(y)), 0d, +)`:
  * left-to-right double accumulation, so results stay bit-identical to
  * the DuckDB `list_inner_product` oracle. The difference is physical:
  * Spark's array HOFs are CodegenFallback (a lambda interpreted per
  * element per row); this is one fused loop inside whole-stage codegen
  * — the difference between scanning 100 TB of embeddings at memory
  * bandwidth and at interpreter speed.
  *
  * NULL contract (mirrors the HOF form): null array, length mismatch
  * (zip_with pads with null), or any null element → NULL.
  */
case class DotProductExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "dot_product"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"dot_product requires two array<float|double> inputs, got $l / $r")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $acc += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd squared-L2 distance between two float/double arrays — the
  * k-means / PQ distance hot path (IVF cell assignment, PQ encode,
  * probe LUTs, SemDeDup cells).
  *
  * Semantics are EXACTLY the HOF formulation
  * `aggregate(zip_with(a, b, (x,c) -> (double(x)-double(c))²), 0d, +)`:
  * per element dd = x - c rounds once, dd·dd rounds once, acc + t
  * rounds once, left to right — so every cell/code DECISION derived
  * from these distances is bit-identical to the DuckDB oracle's
  * replay of the same fold, while the loop itself fuses into
  * whole-stage codegen instead of the interpreted HOF lambda
  * (CodegenFallback) it replaces.
  *
  * NULL contract mirrors [[DotProductExpr]]: null array, length
  * mismatch, or any null element → NULL.
  */
case class SqDistExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq_dist"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_dist requires two array<float|double> inputs, got $l / $r")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != b.numElements()) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      val dd = x - y
      acc += dd * dd
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $dd = (double) $a.$lGet($i) - (double) $b.$rGet($i);
         |    $acc += $dd * $dd;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqDistExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd PREFIX squared-L2 — ||a[0..m) − b[0..m)||² without the
  * per-pair `slice` allocations (round 18): bit-identical to
  * `sqDist(slice(a, 1, m), slice(b, 1, m))` (slice truncates at the
  * array end; sqDist then nulls on a length mismatch and folds dd²
  * left-to-right), but the loop reads the input arrays directly —
  * on an n×p candidate sweep that removes two array materializations
  * per pair.
  */
case class PrefixSqDistExpr(left: Expression, right: Expression, m: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "prefix_sq_dist"

  private def elemType(e: Expression): DataType =
    e.dataType.asInstanceOf[ArrayType].elementType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if Seq(lt, rt).forall(t => t == FloatType || t == DoubleType) =>
        if (m >= 0) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(s"prefix length must be >= 0, got $m")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"prefix_sq_dist requires two array<float|double> inputs, got $l / $r")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val na = math.min(m, a.numElements())
    val nb = math.min(m, b.numElements())
    if (na != nb) return null
    val lf = elemType(left) == FloatType
    val rf = elemType(right) == FloatType
    var acc = 0.0
    var i = 0
    while (i < na) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (rf) b.getFloat(i).toDouble else b.getDouble(i)
      val dd = x - y
      acc += dd * dd
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val lGet = if (elemType(left) == FloatType) "getFloat" else "getDouble"
    val rGet = if (elemType(right) == FloatType) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      s"""
         |int $na = java.lang.Math.min($m, $a.numElements());
         |int $nb = java.lang.Math.min($m, $b.numElements());
         |if ($na != $nb) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $na; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $dd = (double) $a.$lGet($i) - (double) $b.$rGet($i);
         |    $acc += $dd * $dd;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PrefixSqDistExpr =
    copy(left = newLeft, right = newRight)
}

/** Codegen'd SQ8 asymmetric distance (round 18) — the fused form of
  * `sqDist(probe, reconstruct(codes, model))`: per element,
  * recon = mins(i) + ((double) code + 0.5) * widths(i), then the
  * sqDist fold dd = x − recon, acc += dd·dd, left to right. Each IEEE
  * operation is performed in the same order as the declarative
  * `transform` + sqDist pair it replaces, so every distance (and every
  * rank decision downstream) is bit-identical — but the per-candidate
  * reconstruction array and its two interpreted lambda walks are gone.
  *
  * NULL contract mirrors the composition: null arrays or elements →
  * NULL; a probe/codes length mismatch → NULL (sqDist's rule); a code
  * index past the trained dims → NULL (element_at out of range).
  */
case class SqAdcDistExpr(left: Expression, right: Expression,
                         mins: Array[Double], widths: Array[Double])
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "sq_adc_dist"

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if (lt == FloatType || lt == DoubleType) && rt == IntegerType =>
        if (mins.length == widths.length) TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          s"sq_adc_dist model arrays disagree: ${mins.length} mins vs ${widths.length} widths")
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"sq_adc_dist requires (array<float|double>, array<int>), got $l / $r")
    }

  override protected def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val c = r.asInstanceOf[ArrayData]
    val n = a.numElements()
    if (n != c.numElements() || n > mins.length) return null
    val lf = isFloat
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || c.isNullAt(i)) return null
      val x = if (lf) a.getFloat(i).toDouble else a.getDouble(i)
      val recon = mins(i) + (c.getInt(i).toDouble + 0.5) * widths(i)
      val dd = x - recon
      acc += dd * dd
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val mn = ctx.addReferenceObj("mins", mins, "double[]")
    val w = ctx.addReferenceObj("widths", widths, "double[]")
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val recon = ctx.freshName("recon")
      val dd = ctx.freshName("dd")
      s"""
         |int $n = $a.numElements();
         |if ($n != $c.numElements() || $n > $mn.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $acc = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $c.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    double $recon = $mn[$i] + (((double) $c.getInt($i)) + 0.5) * $w[$i];
         |    double $dd = (double) $a.$get($i) - $recon;
         |    $acc += $dd * $dd;
         |  }
         |  ${ev.value} = $acc;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SqAdcDistExpr =
    copy(left = newLeft, right = newRight)
}

import org.apache.spark.sql.catalyst.expressions.UnaryExpression
import org.apache.spark.sql.catalyst.util.GenericArrayData

/** Codegen'd squared-L2 distances from one vector to a WHOLE centroid
  * matrix (k × dim, a plan-time constant), as one array<double> — the
  * round-10 fix for the k-wide column form `array(sqDist(v, c_1), …,
  * sqDist(v, c_k))`, whose generated code grows with k and falls out
  * of whole-stage codegen around k ≈ 1000 (the janino method-size
  * cliff), exactly where the nList ≈ √n rule needs k to go at corpus
  * scale. Here the matrix is ONE reference object and the generated
  * code is a fixed two-level loop, size-independent of k.
  *
  * Each per-centroid distance folds EXACTLY like [[SqDistExpr]]
  * (dd = x − c rounds once, dd·dd once, acc + t once, left to right),
  * so every argmin/ordering decision downstream is bit-identical to
  * the k-column form and to the DuckDB oracles that replay it.
  *
  * NULL contract: null vector, dim mismatch with the matrix, or any
  * null element → NULL (the k-column form would yield an array of k
  * NULLs; collapsing to one NULL is strictly stricter and no gated
  * input contains null vectors — documented, spec-pinned).
  */
case class CentroidDistsExpr(child: Expression, centroids: Array[Array[Double]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_dists"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      if (centroids.nonEmpty && centroids.forall(_.length == centroids(0).length))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "centroid_dists needs a non-empty rectangular centroid matrix")
    case t => TypeCheckResult.TypeCheckFailure(
      s"centroid_dists requires array<float|double> input, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val dim = centroids(0).length
    if (v.numElements() != dim) return null
    val lf = isFloat
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val x = new Array[Double](dim)
    i = 0
    while (i < dim) {
      x(i) = if (lf) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Double](centroids.length)
    var c = 0
    while (c < centroids.length) {
      val ctr = centroids(c)
      var acc = 0.0
      i = 0
      while (i < dim) { val dd = x(i) - ctr(i); acc += dd * dd; i += 1 }
      out(c) = acc
      c += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val m = ctx.addReferenceObj("centroids", centroids, "double[][]")
    val dim = centroids(0).length
    val k = centroids.length
    nullSafeCodeGen(ctx, ev, v => {
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val ctr = ctx.freshName("ctr")
      s"""
         |if ($v.numElements() != $dim) { ${ev.isNull} = true; }
         |else {
         |  double[] $x = new double[$dim];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = (double) $v.$get($i);
         |  }
         |  if (!${ev.isNull}) {
         |    double[] $out = new double[$k];
         |    for (int $c = 0; $c < $k; $c++) {
         |      double $acc = 0.0;
         |      double[] $ctr = $m[$c];
         |      for (int $i = 0; $i < $dim; $i++) {
         |        double $dd = $x[$i] - $ctr[$i];
         |        $acc += $dd * $dd;
         |      }
         |      $out[$c] = $acc;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): CentroidDistsExpr =
    copy(child = newChild)
}

/** Codegen'd PQ ENCODE (round 11): all `m` subspace codes of a vector
  * in ONE pass over its elements — replaces the m×k expression-tree
  * form `array((array_position(array(sqDist(slice(v,…),c)…)…) - 1)…)`,
  * which re-materialized each subspace slice once PER CENTROID
  * (m·k array copies + m·k separate fold kernels per row: the
  * dominant serving cost the round-11 ANN corpus smoke measured —
  * 39 s of a 40 s ivfpq serve was encode overhead — and an OOM risk
  * when the input vector is itself computed, e.g. the residual path).
  *
  * Decisions are bit-identical to the slice/sqDist form: per centroid
  * the distance folds in EXACTLY the [[SqDistExpr]] order (dd = x − c
  * rounds once, dd·dd once, acc + t once, left to right over the
  * subspace elements), and the argmin keeps the FIRST index on ties
  * (strict <), matching `array_position(dists, array_min(dists)) - 1`.
  *
  * NULL contract: null vector, dimension ≠ m·dSub, or any null
  * element → NULL (stricter than the composed form's per-subspace
  * nulls; no gated input contains null vectors — the
  * [[CentroidDistsExpr]] discipline).
  */
case class PqCodesExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_codes"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private lazy val m = codebooks.length
  private lazy val dSub = codebooks(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      if (codebooks.nonEmpty && codebooks.forall(cb =>
          cb.nonEmpty && cb.forall(_.length == codebooks(0)(0).length)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "pq_codes needs non-empty rectangular per-subspace codebooks")
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_codes requires array<float|double> input, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * dSub) return null
    val lf = isFloat
    val x = new Array[Double](m * dSub)
    var i = 0
    while (i < x.length) {
      if (v.isNullAt(i)) return null
      x(i) = if (lf) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val off = j * dSub
      var best = 0; var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val ctr = cb(c)
        var acc = 0.0
        i = 0
        while (i < dSub) { val dd = x(off + i) - ctr(i); acc += dd * dd; i += 1 }
        if (acc < bestD) { bestD = acc; best = c }
        c += 1
      }
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val (mm, ds) = (m, dSub)
    nullSafeCodeGen(ctx, ev, v => {
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val cb = ctx.freshName("cb")
      val ctr = ctx.freshName("ctr")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      s"""
         |if ($v.numElements() != ${mm * ds}) { ${ev.isNull} = true; }
         |else {
         |  double[] $x = new double[${mm * ds}];
         |  for (int $i = 0; $i < ${mm * ds}; $i++) {
         |    if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = (double) $v.$get($i);
         |  }
         |  if (!${ev.isNull}) {
         |    int[] $out = new int[$mm];
         |    for (int $j = 0; $j < $mm; $j++) {
         |      double[][] $cb = $cbRef[$j];
         |      int $off = $j * $ds;
         |      int $best = 0; double $bestD = Double.MAX_VALUE;
         |      for (int $c = 0; $c < $cb.length; $c++) {
         |        double[] $ctr = $cb[$c];
         |        double $acc = 0.0;
         |        for (int $i = 0; $i < $ds; $i++) {
         |          double $dd = $x[$off + $i] - $ctr[$i];
         |          $acc += $dd * $dd;
         |        }
         |        if ($acc < $bestD) { $bestD = $acc; $best = $c; }
         |      }
         |      $out[$j] = $best;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqCodesExpr =
    copy(child = newChild)
}

/** Codegen'd PQ LUT (round 11): the m×k asymmetric-distance table of a
  * probe vector in one pass — the [[PqCodesExpr]] loop emitting every
  * distance instead of the argmin. These distances are OUTPUT values
  * (they sum into the gate's ad2 column), so the fold order is exactly
  * [[SqDistExpr]]'s — bit-identical to the slice/sqDist form the
  * DuckDB oracle replays. NULL contract as [[PqCodesExpr]].
  */
case class PqLutExpr(child: Expression, codebooks: Array[Array[Array[Double]]])
    extends UnaryExpression {

  override def dataType: DataType =
    ArrayType(ArrayType(DoubleType, containsNull = false), containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "pq_lut"

  private def isFloat: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == FloatType

  private lazy val m = codebooks.length
  private lazy val dSub = codebooks(0)(0).length

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(t, _) if t == FloatType || t == DoubleType =>
      if (codebooks.nonEmpty && codebooks.forall(cb =>
          cb.nonEmpty && cb.forall(_.length == codebooks(0)(0).length)))
        TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(
        "pq_lut needs non-empty rectangular per-subspace codebooks")
    case t => TypeCheckResult.TypeCheckFailure(
      s"pq_lut requires array<float|double> input, got $t")
  }

  override protected def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != m * dSub) return null
    val lf = isFloat
    val x = new Array[Double](m * dSub)
    var i = 0
    while (i < x.length) {
      if (v.isNullAt(i)) return null
      x(i) = if (lf) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val rows = new Array[Any](m)
    var j = 0
    while (j < m) {
      val cb = codebooks(j)
      val off = j * dSub
      val out = new Array[Double](cb.length)
      var c = 0
      while (c < cb.length) {
        val ctr = cb(c)
        var acc = 0.0
        i = 0
        while (i < dSub) { val dd = x(off + i) - ctr(i); acc += dd * dd; i += 1 }
        out(c) = acc
        c += 1
      }
      rows(j) = new GenericArrayData(out)
      j += 1
    }
    new GenericArrayData(rows)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val cbRef = ctx.addReferenceObj("codebooks", codebooks, "double[][][]")
    val (mm, ds) = (m, dSub)
    nullSafeCodeGen(ctx, ev, v => {
      val x = ctx.freshName("x")
      val rows = ctx.freshName("rows")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val c = ctx.freshName("c")
      val off = ctx.freshName("off")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val cb = ctx.freshName("cb")
      val ctr = ctx.freshName("ctr")
      s"""
         |if ($v.numElements() != ${mm * ds}) { ${ev.isNull} = true; }
         |else {
         |  double[] $x = new double[${mm * ds}];
         |  for (int $i = 0; $i < ${mm * ds}; $i++) {
         |    if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = (double) $v.$get($i);
         |  }
         |  if (!${ev.isNull}) {
         |    Object[] $rows = new Object[$mm];
         |    for (int $j = 0; $j < $mm; $j++) {
         |      double[][] $cb = $cbRef[$j];
         |      int $off = $j * $ds;
         |      double[] $out = new double[$cb.length];
         |      for (int $c = 0; $c < $cb.length; $c++) {
         |        double[] $ctr = $cb[$c];
         |        double $acc = 0.0;
         |        for (int $i = 0; $i < $ds; $i++) {
         |          double $dd = $x[$off + $i] - $ctr[$i];
         |          $acc += $dd * $dd;
         |        }
         |        $out[$c] = $acc;
         |      }
         |      $rows[$j] = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($rows);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): PqLutExpr =
    copy(child = newChild)
}

object VectorOps {
  /** dot(a, b): fused codegen kernel, bit-identical to the HOF fold. */
  def dot(a: Column, b: Column): Column =
    graftShim.column(DotProductExpr(graftShim.expression(a), graftShim.expression(b)))

  /** All m PQ codes of a vector in one fused pass (round 11) —
    * decision-identical to the slice/sqDist composition it replaces.
    */
  def pqCodes(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graftShim.column(PqCodesExpr(graftShim.expression(v),
      codebooks.map(_.map(_.toArray).toArray).toArray))

  /** The m×k PQ lookup table of a probe vector in one fused pass
    * (round 11) — value-identical to the slice/sqDist composition.
    */
  def pqLut(v: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graftShim.column(PqLutExpr(graftShim.expression(v),
      codebooks.map(_.map(_.toArray).toArray).toArray))

  /** ||a - b||²: fused codegen kernel, bit-identical to the HOF fold. */
  def sqDist(a: Column, b: Column): Column =
    graftShim.column(SqDistExpr(graftShim.expression(a), graftShim.expression(b)))

  /** ||a[0..m) - b[0..m)||² without the slice allocations —
    * bit-identical to `sqDist(slice(a,1,m), slice(b,1,m))` (round 18).
    */
  def prefixSqDist(a: Column, b: Column, m: Int): Column =
    graftShim.column(PrefixSqDistExpr(
      graftShim.expression(a), graftShim.expression(b), m))

  /** SQ8 asymmetric distance — fused `sqDist(probe,
    * reconstruct(codes))`, every IEEE op in the same order (round 18).
    */
  def sqAdcDist(probe: Column, codes: Column,
                mins: Array[Double], widths: Array[Double]): Column =
    graftShim.column(SqAdcDistExpr(
      graftShim.expression(probe), graftShim.expression(codes),
      mins, widths))

  /** Distances to every row of a constant centroid matrix, as one
    * array<double> — the k-scalable form of `array(sqDist(v, c_j)…)`.
    */
  def centroidDists(v: Column, centroids: Seq[Seq[Double]]): Column =
    graftShim.column(CentroidDistsExpr(graftShim.expression(v),
      centroids.map(_.toArray).toArray))

  /** Distances to the sub-matrix selected by a per-row CELL column —
    * the two-level IVF assignment kernel: `sub(cell)` is that
    * super-cell's own centroid block, so the per-vector cost is
    * |sub(cell)| distances instead of Σ|sub| (O(√k) instead of O(k)
    * under the balanced split). Fold order per distance is identical
    * to [[centroidDists]]/sqDist.
    */
  def centroidSliceDists(v: Column, cell: Column,
                         sub: Seq[Seq[Seq[Double]]]): Column =
    graftShim.column(CentroidSliceDistsExpr(graftShim.expression(v),
      graftShim.expression(cell),
      sub.map(_.map(_.toArray).toArray).toArray))
}

/** [[VectorOps.centroidSliceDists]]'s expression: distances from the
  * vector (left) to every centroid of the sub-matrix selected by the
  * int cell id (right). NULL on null/ragged input or out-of-range
  * cell; per-distance fold is the sqDist order (dd = x−c, acc += dd²,
  * left to right), so every decision downstream replays bit-exactly
  * in the oracles.
  */
case class CentroidSliceDistsExpr(left: Expression, right: Expression,
                                  sub: Array[Array[Array[Double]]])
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "centroid_slice_dists"

  private def isFloat: Boolean =
    left.dataType.asInstanceOf[ArrayType].elementType == FloatType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(t, _), IntegerType) if t == FloatType || t == DoubleType =>
        val dims = sub.flatMap(_.map(_.length)).distinct
        if (sub.nonEmpty && sub.forall(_.nonEmpty) && dims.length == 1)
          TypeCheckResult.TypeCheckSuccess
        else TypeCheckResult.TypeCheckFailure(
          "centroid_slice_dists needs non-empty rectangular sub-matrices")
      case t => TypeCheckResult.TypeCheckFailure(
        s"centroid_slice_dists requires (array<float|double>, int), got $t")
    }

  private lazy val dim = sub(0)(0).length

  override protected def nullSafeEval(vec: Any, cellAny: Any): Any = {
    val v = vec.asInstanceOf[ArrayData]
    val cell = cellAny.asInstanceOf[Int]
    if (cell < 0 || cell >= sub.length) return null
    if (v.numElements() != dim) return null
    val lf = isFloat
    var i = 0
    while (i < dim) { if (v.isNullAt(i)) return null; i += 1 }
    val x = new Array[Double](dim)
    i = 0
    while (i < dim) {
      x(i) = if (lf) v.getFloat(i).toDouble else v.getDouble(i)
      i += 1
    }
    val block = sub(cell)
    val out = new Array[Double](block.length)
    var c = 0
    while (c < block.length) {
      val ctr = block(c)
      var acc = 0.0
      i = 0
      while (i < dim) { val dd = x(i) - ctr(i); acc += dd * dd; i += 1 }
      out(c) = acc
      c += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val get = if (isFloat) "getFloat" else "getDouble"
    val m = ctx.addReferenceObj("subCentroids", sub, "double[][][]")
    val d = dim
    nullSafeCodeGen(ctx, ev, (v, cell) => {
      val x = ctx.freshName("x")
      val out = ctx.freshName("out")
      val i = ctx.freshName("i")
      val c = ctx.freshName("c")
      val acc = ctx.freshName("acc")
      val dd = ctx.freshName("dd")
      val blk = ctx.freshName("blk")
      val ctr = ctx.freshName("ctr")
      s"""
         |if ($cell < 0 || $cell >= $m.length || $v.numElements() != $d) {
         |  ${ev.isNull} = true;
         |} else {
         |  double[] $x = new double[$d];
         |  for (int $i = 0; $i < $d; $i++) {
         |    if ($v.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $x[$i] = (double) $v.$get($i);
         |  }
         |  if (!${ev.isNull}) {
         |    double[][] $blk = $m[$cell];
         |    double[] $out = new double[$blk.length];
         |    for (int $c = 0; $c < $blk.length; $c++) {
         |      double[] $ctr = $blk[$c];
         |      double $acc = 0.0;
         |      for (int $i = 0; $i < $d; $i++) {
         |        double $dd = $x[$i] - $ctr[$i];
         |        $acc += $dd * $dd;
         |      }
         |      $out[$c] = $acc;
         |    }
         |    ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |  }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CentroidSliceDistsExpr =
    copy(left = newLeft, right = newRight)
}
