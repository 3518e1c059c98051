package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, IntegerType, LongType}

/** Native Catalyst expression: dot product of two array<float> columns
  * accumulated in double, left-to-right (bit-identical to the DuckDB
  * oracle's sequential list_sum fold).
  *
  * Why an Expression and not a lambda/UDF: Spark's higher-order array
  * functions are interpreted per element, and a fully unrolled 64-term
  * sum exceeds codegen method limits — both fall off the fast path.
  * doGenCode emits a tight primitive loop that stays inside
  * whole-stage codegen, no boxing, no per-element virtual calls.
  */
case class DotProduct(left: Expression, right: Expression) extends ArrayPairFold {

  // (return type inferred — AbstractDataType is private[sql] in Spark 4)
  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any =
    fold(a, b, 0.0)((s, x, y, i) => s + x.getFloat(i).toDouble * y.getFloat(i).toDouble)

  override protected def accJava: (String, String) = ("double", "0.0")
  override protected def stepJava(ctx: CodegenContext, a: String, b: String, i: String, s: String): String =
    s"$s += (double) $a.getFloat($i) * (double) $b.getFloat($i);"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

/** Quantized integer dot product: Σ floor(v_i · 2²⁰) · w_i in Long,
  * for an array<float> vector against an array<int> weight vector.
  *
  * Used for LSH hyperplane SIGN tests (Dedup d5): quantizing each
  * float to a 2²⁰-grid integer makes the dot EXACT integer
  * arithmetic — order-insensitive and bit-identical across engines —
  * so the DuckDB oracle can compute the same signature with a plain
  * relational SUM instead of mirroring a float fold order. float →
  * double is exact, ·2²⁰ is exact (24-bit mantissa), floor is exact:
  * no rounding-mode subtleties anywhere.
  */
case class QuantDot(left: Expression, right: Expression) extends ArrayPairFold {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(IntegerType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdot"

  override def nullSafeEval(a: Any, b: Any): Any =
    fold(a, b, 0L)((s, x, y, i) =>
      s + math.floor(x.getFloat(i).toDouble * 1048576.0).toLong * y.getInt(i))

  override protected def accJava: (String, String) = ("long", "0L")
  override protected def stepJava(ctx: CodegenContext, a: String, b: String, i: String, s: String): String =
    s"$s += (long) java.lang.Math.floor((double) $a.getFloat($i) * 1048576.0) * $b.getInt($i);"

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): QuantDot =
    copy(left = newLeft, right = newRight)
}

/** Quantized squared L2 distance: Σ (floor(v_i · 2²⁰) − c_i)² in Long,
  * for an array<float> vector against an array<long> center (usually a
  * literal — e28's chosen centers ride the plan as array literals).
  *
  * Same exactness argument as [[QuantDot]] (float→double exact, ·2²⁰
  * exact, floor exact ⇒ pure int64 arithmetic, order-insensitive,
  * bit-identical to the oracle's relational restatement). Why native:
  * the declarative form — transform to quantize, zip_with to diff,
  * aggregate to fold — is interpreted per element; at 100× vectors the
  * fold dominated e28's wall clock (12.3 s → the kernel keeps the whole
  * distance inside whole-stage codegen). The spec pins kernel ≡ the
  * declarative template on planted probes (the graft_geohash8
  * discipline). */
case class QuantDist2(left: Expression, right: Expression) extends ArrayPairFold {

  override def inputTypes = Seq(ArrayType(FloatType), ArrayType(LongType))
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_qdist2"

  override def nullSafeEval(a: Any, b: Any): Any =
    fold(a, b, 0L) { (s, x, y, i) =>
      val d = math.floor(x.getFloat(i).toDouble * 1048576.0).toLong - y.getLong(i)
      s + d * d
    }

  override protected def accJava: (String, String) = ("long", "0L")
  override protected def stepJava(ctx: CodegenContext, a: String, b: String, i: String, s: String): String = {
    val d = ctx.freshName("d")
    s"""long $d = (long) java.lang.Math.floor((double) $a.getFloat($i) * 1048576.0) - $b.getLong($i);
          $s += $d * $d;"""
  }

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): QuantDist2 =
    copy(left = newLeft, right = newRight)
}

/** The loop the three kernels above share: a left-to-right fold over
  * the common prefix of two arrays, interpreted ([[fold]]) and as one
  * primitive loop of generated Java whose accumulator type and step
  * each kernel supplies. */
private[functions] trait ArrayPairFold extends BinaryExpression with ExpectsInputTypes {

  /** The Java type and zero literal of the accumulator. */
  protected def accJava: (String, String)

  /** Java statements folding element `i` of arrays `a` and `b` into `s`. */
  protected def stepJava(ctx: CodegenContext, a: String, b: String, i: String, s: String): String

  protected def fold[S](a: Any, b: Any, zero: S)(step: (S, ArrayData, ArrayData, Int) => S): S = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = zero
    var i = 0
    while (i < n) {
      s = step(s, x, y, i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      val (tpe, zero) = accJava
      s"""
        int $n = java.lang.Math.min($a.numElements(), $b.numElements());
        $tpe $s = $zero;
        for (int $i = 0; $i < $n; $i++) {
          ${stepJava(ctx, a, b, i, s)}
        }
        ${ev.value} = $s;
      """
    })
}
