package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: distinct 3-gram word shingles of a
  * token array — `[t0 t1 t2, t1 t2 t3, …]`, first-occurrence order,
  * empty for fewer than 3 tokens.
  *
  * Why an Expression: shingling feeds every text-dedup operator
  * (MinHash, n-gram Jaccard, fingerprinting), and the declarative
  * formulation — three slices zip_with'd together then
  * array_distinct — runs as INTERPRETED higher-order lambdas, the
  * single hottest projection in the dedup family. A window/lead
  * formulation is codegen'd but shuffles the whole exploded token
  * stream per document — wrong at scale, where shingling must stay a
  * pure map. doGenCode emits one tight loop per row (concat three
  * tokens, LinkedHashSet dedup) inside whole-stage codegen: map-only
  * AND compiled.
  */
case class Shingle3(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingle3"

  private val sep = UTF8String.fromString(" ")

  override def nullSafeEval(input: Any): Any =
    new GenericArrayData(
      Shingle3.trigrams(input.asInstanceOf[ArrayData], sep).toArray.asInstanceOf[Array[Any]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val sepRef = ctx.addReferenceObj("sep", sep, classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val set = ctx.freshName("set")
      s"""
        int $n = $a.numElements();
        java.util.LinkedHashSet $set = new java.util.LinkedHashSet();
        for (int $i = 0; $i + 2 < $n; $i++) {
          $set.add(org.apache.spark.unsafe.types.UTF8String.concatWs($sepRef,
            $a.getUTF8String($i), $a.getUTF8String($i + 1), $a.getUTF8String($i + 2)));
        }
        ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($set.toArray());
      """
    })
  }

  override protected def withNewChildInternal(newChild: Expression): Shingle3 =
    copy(child = newChild)
}

object Shingle3 {
  /** The distinct space-joined token trigrams of `a`, in first-seen
    * order (the interpreted path of graft_shingle3 and the shingle
    * source of graft_shingle_sids). */
  def trigrams(a: ArrayData, sep: UTF8String): java.util.LinkedHashSet[UTF8String] = {
    val n = a.numElements()
    val set = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + 2 < n) {
      set.add(UTF8String.concatWs(sep,
        a.getUTF8String(i), a.getUTF8String(i + 1), a.getUTF8String(i + 2)))
      i += 1
    }
    set
  }
}
