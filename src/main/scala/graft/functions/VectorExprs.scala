package graft.functions

import org.apache.spark.sql.{Column, GraftSqlShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Native Catalyst expressions for the embedding hot path.
  *
  * The built-in route (`zip_with` + `aggregate`) is a higher-order
  * function — CodegenFallback in Spark, so every pair evaluation is
  * interpreted AND allocates an intermediate array. These expressions
  * generate a tight primitive loop over the two `ArrayData`s inside
  * whole-stage codegen: no allocation, no boxing, one pass. On the
  * all-pairs verification stage (millions of 64-dim pairs) this is the
  * difference between the similarity queries being compute-bound and
  * allocation-bound.
  */
object VectorExprs {

  /** Dot product of two double-array columns. */
  def dot(a: Column, b: Column): Column = GraftSqlShims.column(VecDot(expr(a), expr(b)))

  /** Cosine similarity in a single fused pass (dot + both norms). */
  def cosine(a: Column, b: Column): Column = GraftSqlShims.column(VecCosine(expr(a), expr(b)))

  /** L2-normalized copy of a double-array column (a normalized corpus
    * makes cosine a plain [[dot]]: normalize once, query many). */
  def l2Normalize(v: Column): Column = GraftSqlShims.column(VecL2Norm(expr(v)))

  /** Random-hyperplane signature: sign bit of the projection onto each
    * of `nbits` seeded Gaussian planes, packed into a Long. All bits in
    * one pass over the vector (the HOF route re-scans per bit).
    */
  def rhpSignature(v: Column, dim: Int, nbits: Int, seed: Long = 42L): Column = {
    require(nbits >= 1 && nbits <= 64, s"nbits must be in [1,64], got $nbits")
    val rnd = new scala.util.Random(seed)
    // row-major [bit][dim] — one flat array keeps the codegen indexable
    val planes = Array.fill(nbits * dim)(rnd.nextGaussian())
    GraftSqlShims.column(RhpSig(expr(v), planes, nbits, dim))
  }

  /** [[rhpSignature]] with caller-supplied planes (row-major
    * [bit][dim], length nbits*dim). */
  def rhpSignatureWith(v: Column, planes: Array[Double],
                       nbits: Int, dim: Int): Column = {
    require(nbits >= 1 && nbits <= 64 && planes.length == nbits * dim)
    GraftSqlShims.column(RhpSig(expr(v), planes, nbits, dim))
  }

  /** Residual of the L2-normalized vector vs a reference vector picked
    * by index: `res[i] = normalize(v)[i] − refs[idx][i]`. One fused
    * codegen pass (norm + subtract), no intermediate normalized array —
    * the IVFADC residual-encode kernel (Jégou et al. 2011 §V).
    * `refs` is row-major [ref][dim], length nRefs*dim. */
  def residual(v: Column, idx: Column, refs: Array[Double],
               nRefs: Int, dim: Int): Column = {
    require(refs.length == nRefs * dim && nRefs > 0)
    GraftSqlShims.column(VecResidual(expr(v), expr(idx), refs, nRefs, dim))
  }

  private def expr(c: Column): Expression = GraftSqlShims.expression(c)
}

case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0; var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double ${ev.value}0 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value}0 += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = ${ev.value}0;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

case class VecCosine(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "vec_cosine"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      d += xv * yv; na += xv * xv; nb += yv * yv; i += 1
    }
    d / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val d = ctx.freshName("d"); val na = ctx.freshName("na")
      val nb = ctx.freshName("nb"); val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $d = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $d += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $d / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecCosine =
    copy(left = newLeft, right = newRight)
}

case class VecL2Norm(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def prettyName: String = "vec_l2_normalize"

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = x.numElements()
    var s = 0.0; var i = 0
    while (i < n) { val xv = x.getDouble(i); s += xv * xv; i += 1 }
    // true division, not multiply-by-reciprocal: x/n is correctly
    // rounded while x*(1/n) can be off by an ulp (3/5 vs 3*0.2)
    val norm = math.sqrt(s)
    val res = new Array[Double](n)
    i = 0
    while (i < n) {
      res(i) = if (norm == 0.0) 0.0 else x.getDouble(i) / norm; i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val inv = ctx.freshName("inv")
      val res = ctx.freshName("res")
      s"""
         |int $n = $v.numElements();
         |double $s = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = $v.getDouble($i); $s += xv * xv;
         |}
         |double $inv = java.lang.Math.sqrt($s);
         |double[] $res = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  $res[$i] = $inv == 0.0 ? 0.0 : $v.getDouble($i) / $inv;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($res);
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecL2Norm =
    copy(child = newChild)
}

/** `refs` is row-major `[ref][dim]`, length nRefs*dim; `right` is the
  * ref index (int). Computes normalize(left) − refs[right] in one pass.
  * An out-of-range index yields null (never silently wraps). */
case class VecResidual(left: Expression, right: Expression,
                       refs: Array[Double], nRefs: Int, dim: Int)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] =
    Seq(ArrayType(DoubleType), org.apache.spark.sql.types.IntegerType)
  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  // out-of-range ref index yields null even when both children are
  // non-nullable — without this the generated code assigns to a
  // constant-folded `false` isNull slot and fails janino compilation
  override def nullable: Boolean = true
  override def prettyName: String = "vec_residual"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val c = b.asInstanceOf[Int]
    if (c < 0 || c >= nRefs) return null
    val n = math.min(x.numElements(), dim)
    var s = 0.0; var i = 0
    while (i < n) { val xv = x.getDouble(i); s += xv * xv; i += 1 }
    val norm = math.sqrt(s)
    val off = c * dim
    val res = new Array[Double](n)
    i = 0
    while (i < n) {
      val nv = if (norm == 0.0) 0.0 else x.getDouble(i) / norm
      res(i) = nv - refs(off + i); i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(res)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rf = ctx.addReferenceObj("refs", refs, "double[]")
    nullSafeCodeGen(ctx, ev, (a, c) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val s = ctx.freshName("s"); val norm = ctx.freshName("norm")
      val off = ctx.freshName("off"); val res = ctx.freshName("res")
      val nv = ctx.freshName("nv")
      s"""
         |if ($c < 0 || $c >= $nRefs) {
         |  ${ev.isNull} = true;
         |} else {
         |  int $n = java.lang.Math.min($a.numElements(), $dim);
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double xv = $a.getDouble($i); $s += xv * xv;
         |  }
         |  double $norm = java.lang.Math.sqrt($s);
         |  int $off = $c * $dim;
         |  double[] $res = new double[$n];
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $nv = $norm == 0.0 ? 0.0 : $a.getDouble($i) / $norm;
         |    $res[$i] = $nv - $rf[$off + $i];
         |  }
         |  ${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray($res);
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): VecResidual =
    copy(left = newLeft, right = newRight)
}

/** `planes` is row-major `[bit][dim]`, length nbits*dim. */
case class RhpSig(child: Expression, planes: Array[Double], nbits: Int, dim: Int)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[DataType] = Seq(ArrayType(DoubleType))
  override def dataType: DataType = LongType
  override def prettyName: String = "rhp_signature"

  override protected def nullSafeEval(v: Any): Any = {
    val x = v.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), dim)
    var sig = 0L; var b = 0
    while (b < nbits) {
      var s = 0.0; var i = 0; val off = b * dim
      while (i < n) { s += x.getDouble(i) * planes(off + i); i += 1 }
      if (s >= 0) sig |= (1L << b)
      b += 1
    }
    sig
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pl = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, v => {
      val i = ctx.freshName("i"); val b = ctx.freshName("b")
      val n = ctx.freshName("n"); val s = ctx.freshName("s")
      val sig = ctx.freshName("sig"); val off = ctx.freshName("off")
      s"""
         |int $n = java.lang.Math.min($v.numElements(), $dim);
         |long $sig = 0L;
         |for (int $b = 0; $b < $nbits; $b++) {
         |  double $s = 0.0; int $off = $b * $dim;
         |  for (int $i = 0; $i < $n; $i++) {
         |    $s += $v.getDouble($i) * $pl[$off + $i];
         |  }
         |  if ($s >= 0) $sig |= (1L << $b);
         |}
         |${ev.value} = $sig;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): RhpSig =
    copy(child = newChild)
}
