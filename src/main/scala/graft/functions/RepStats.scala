package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: all of f14's repetition signals from ONE
  * pass over the token array — `[n_tok, n_distinct, top_cnt, n_g2,
  * d_g2]` as longs. Replaces the two-explode formulation (token
  * explode → groupBy(doc_id, t) → re-agg, PLUS bigram transform →
  * explode → countDistinct → join): that shape shuffles the whole
  * token stream twice and re-joins, where the signals are plainly
  * per-row — the only reason it existed was that Spark's higher-order
  * array lambdas are interpreted and re-evaluate captured expressions
  * per element (SURVEY §5 perf lessons). Here the per-row work is two
  * hash passes (token counts, distinct bigrams) in a helper the
  * generated code calls once, so the projection stays inside
  * whole-stage codegen and the operator is MAP-ONLY: zero shuffles,
  * zero joins, linear in document length.
  */
case class RepStats(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_repstats"

  override def nullSafeEval(input: Any): Any =
    RepStats.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = classOf[RepStatsHelper].getName
    val ref = ctx.addReferenceObj("repstats", RepStats.helper, helper)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): RepStats =
    copy(child = newChild)
}

/** Java-callable helper so generated code invokes one method. */
class RepStatsHelper extends Serializable {
  private val space = UTF8String.fromString(" ")

  def compute(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val counts = RepStats.tokenCounts(a)
    var top = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().longValue()
      if (c > top) top = c
    }
    val nG2 = if (n < 2) 0L else (n - 1).toLong
    var dG2 = 0L
    if (n >= 2) {
      val grams = new java.util.HashSet[UTF8String](n * 2)
      var j = 0
      while (j < n - 1) {
        grams.add(UTF8String.concat(a.getUTF8String(j), space, a.getUTF8String(j + 1)))
        j += 1
      }
      dG2 = grams.size().toLong
    }
    new GenericArrayData(Array[Any](n.toLong, counts.size().toLong, top, nG2, dG2))
  }
}

object RepStats {
  val helper = new RepStatsHelper
  def compute(a: ArrayData): ArrayData = helper.compute(a)

  /** Each distinct token of `a` with its count (graft_repstats and
    * graft_simhash64 both fold over distinct tokens). */
  def tokenCounts(a: ArrayData): java.util.HashMap[UTF8String, Integer] = {
    val n = a.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer](n * 2)
    var i = 0
    while (i < n) {
      counts.merge(a.getUTF8String(i), Integer.valueOf(1), (x, y) => x + y)
      i += 1
    }
    counts
  }
}
