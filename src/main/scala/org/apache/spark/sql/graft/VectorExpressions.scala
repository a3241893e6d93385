// Hosted under org.apache.spark.sql: ExpectsInputTypes.inputTypes returns
// the private[sql] AbstractDataType, and the Expression->Column bridge
// (classic.ExpressionUtils) is private[sql] too — the standard packaging
// for third-party native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path. The higher-order
  * `aggregate`/`zip_with` forms in [[VectorFunctions]] are interpreted per
  * element; a dot product over `array<float>` is the single most executed
  * kernel in the similarity operators, so it gets a real expression with
  * whole-stage codegen (SURVEY.md §2.8: custom Expression where built-ins
  * don't fit; preference (b) on the custom-operator ladder).
  *
  * Semantics are EXACTLY the HOF fold's, in every case — index-ordered sum
  * of double products (the contract the DuckDB oracles replicate), NULL
  * when either array is null, contains a null element, or the lengths
  * differ (zip_with pads the shorter side with null, nulling the sum).
  * Full HOF equivalence is what makes [[RewriteHofDot]] a sound
  * plan-rewrite rather than a semantics change.
  *
  * ImplicitCastInputTypes keeps the public `dot()` input domain of the old
  * HOF form: array<double>/array<int> inputs are implicitly cast to
  * array<float> at analysis instead of failing. Note the cast is to SINGLE
  * precision — callers needing full-double accumulation over array<double>
  * should use [[DoubleDot]].
  */
case class FloatDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  // null even on non-null inputs (null element / length mismatch)
  override def nullable: Boolean = true
  override def prettyName: String = "float_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): FloatDot =
    copy(left = newLeft, right = newRight)
}

/** Full-double sibling of [[FloatDot]] for `array<double>` inputs: the
  * quantization-eval and diagnostics queries derive DOUBLE arrays (casts,
  * rounds, centroid grids) and score them with index-ordered double dot
  * products that the DuckDB oracles replicate term-for-term — a cast to
  * float there would move 6-dp-rounded cosines off the oracle's grid. The
  * HOF form (`aggregate(zip_with(...))`) is interpreted per element with
  * boxing; this is the same loop under whole-stage codegen (measured on
  * q113: the dominant cost term). Exact HOF equivalence in every case —
  * same accumulation order and width, NULL on null element or length
  * mismatch — so [[RewriteHofDot]] may substitute it freely. */
case class DoubleDot(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(DoubleType), ArrayType(DoubleType))
  override def dataType: DataType = DoubleType
  // null even on non-null inputs (null element / length mismatch)
  override def nullable: Boolean = true
  override def prettyName: String = "double_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getDouble(i) * y.getDouble(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      s"""
         |int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getDouble($i) * $b.getDouble($i);
         |  }
         |  if (!${ev.isNull}) ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DoubleDot =
    copy(left = newLeft, right = newRight)
}

/** All-planes LSH bucket id in ONE compact kernel: a single pass over the
  * vector accumulates every plane's signed projection (index-ordered double
  * sums, identical per plane to `FloatDot(vec, lit(signs))`), then packs the
  * sign bits into the bucket long.
  *
  * Why this exists: the previous form — `nPlanes` separate
  * `when(dot(vec, lit(...)) >= 0, 1L<<p)` expressions per table, 4 tables in
  * one projection — generated a consume() method whose bytecode exceeded the
  * JVM's ~8 KB JIT huge-method limit at auto-scaled plane counts
  * (planes=9 x tables=4 = 36 unrolled 64-step loops). Spark compiles such
  * methods fine but HotSpot silently never JITs them, and the bucketing scan
  * ran INTERPRETED — measured 80x slower (3.9 s vs 0.05 s on a 20 k x 64
  * corpus; PROFILING.md "LSH bucketing: the JIT huge-method limit"). One
  * compact loop per table stays far under the limit at any realistic plane
  * count.
  *
  * Exact-equivalence contract with the composed HOF form, case by case:
  * null vector, null element, or length != dim all yield bucket 0 (the
  * composed form's `when(null >= 0).otherwise(0)` collapse), and each
  * plane's accumulation is the same index-ordered `(double)sign * (double)v`
  * sum, so the sign decision `>= 0.0` is bit-identical. Pinned by the
  * native-vs-HOF parity property in SimilaritySpec.
  *
  * The signs matrix derives deterministically from (table, plane, i) via
  * SplitMix64 at plan time on the driver — the case class carries only
  * primitives, so expression equality and canonicalization work, and
  * executors rebuild the matrix from the seed (transient lazy).
  */
case class LshBucket(child: Expression, table: Int, nPlanes: Int, dim: Int)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ImplicitCastInputTypes {

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def dataType: DataType = LongType
  override def nullable: Boolean = false
  override def prettyName: String = "lsh_bucket"

  @transient private lazy val signs: Array[Array[Float]] =
    Array.tabulate(nPlanes)(p =>
      graft.functions.VectorFunctions.planeSigns(table, p, dim).map(_.toFloat))

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = child.eval(input)
    if (a == null) return 0L
    val x = a.asInstanceOf[ArrayData]
    if (x.numElements() != dim) return 0L
    val acc = new Array[Double](nPlanes)
    var i = 0
    while (i < dim) {
      if (x.isNullAt(i)) return 0L
      val v = x.getFloat(i).toDouble
      var p = 0
      while (p < nPlanes) { acc(p) += signs(p)(i).toDouble * v; p += 1 }
      i += 1
    }
    var b = 0L
    var p = 0
    while (p < nPlanes) { if (acc(p) >= 0.0) b |= 1L << p; p += 1 }
    b
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val c = child.genCode(ctx)
    val signsRef = ctx.addReferenceObj("lshSigns", signs, "float[][]")
    val acc = ctx.freshName("acc")
    val i = ctx.freshName("i")
    val p = ctx.freshName("p")
    val v = ctx.freshName("v")
    val bad = ctx.freshName("bad")
    val code =
      code"""
         |${c.code}
         |long ${ev.value} = 0L;
         |if (!${c.isNull} && ${c.value}.numElements() == $dim) {
         |  boolean $bad = false;
         |  double[] $acc = new double[$nPlanes];
         |  for (int $i = 0; $i < $dim; $i++) {
         |    if (${c.value}.isNullAt($i)) { $bad = true; break; }
         |    double $v = (double) ${c.value}.getFloat($i);
         |    for (int $p = 0; $p < $nPlanes; $p++) {
         |      $acc[$p] += (double) $signsRef[$p][$i] * $v;
         |    }
         |  }
         |  if (!$bad) {
         |    for (int $p = 0; $p < $nPlanes; $p++) {
         |      if ($acc[$p] >= 0.0) ${ev.value} |= 1L << $p;
         |    }
         |  }
         |}
       """.stripMargin
    ev.copy(code = code,
      isNull = org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): LshBucket =
    copy(child = newChild)
}

object VectorExpressions {
  /** Column wrapper for [[FloatDot]]. */
  def floatDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      FloatDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))

  /** Column wrapper for [[LshBucket]]. */
  def lshBucket(vec: Column, table: Int, nPlanes: Int, dim: Int): Column =
    ExpressionUtils.column(
      LshBucket(ExpressionUtils.expression(vec), table, nPlanes, dim))

  /** Column wrapper for [[DoubleDot]]. */
  def doubleDot(a: Column, b: Column): Column =
    ExpressionUtils.column(
      DoubleDot(ExpressionUtils.expression(a), ExpressionUtils.expression(b)))
}
