package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the 64-bit simhash signature of a token
  * array, returned as 4 × 16-bit non-negative int chunks (the
  * multi-index block keys of d3c q_simhash_near).
  *
  * Bit j (j < 32) is the parity of hex digit j of md5(token); bits
  * 32..63 use md5("x:" + token) — EXACTLY the oracle's
  * translate(md5(t), hex, '0101…') + substr formulation, computed here
  * from the digest bytes directly (hex digit 2i = high nibble of byte
  * i, so its parity is bit 4 of the byte; digit 2i+1 = low nibble →
  * bit 0). Each DISTINCT token is hashed once and contributes ±count
  * to each bit's majority sum, matching the exploded
  * groupBy(doc_id, t) + 64 partial-agg formulation this replaces —
  * but as ONE map-side pass per document: no token explode, no
  * 64-column projection, no aggregation shuffle. The per-row work is
  * md5-bound, so codegen delegates to [[SimHash64.compute]] via a
  * reference object instead of inlining the loop (the single virtual
  * call keeps the projection inside whole-stage codegen).
  */
case class SimHash64(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_simhash64"

  override def nullSafeEval(input: Any): Any =
    SimHash64.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = classOf[SimHash64Helper].getName
    val ref = ctx.addReferenceObj("simhash64", SimHash64.helper, helper)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Java-callable helper so generated code invokes one method. */
class SimHash64Helper extends Serializable {
  private val prefix = "x:".getBytes("UTF-8")

  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(a: ArrayData): ArrayData = {
    // count DISTINCT tokens so each is hashed once (md5 dominates)
    val counts = RepStats.tokenCounts(a)
    val s = new Array[Int](64)
    val digest = md.get()
    val it = counts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val tok = e.getKey.getBytes
      val cnt = e.getValue.intValue()
      digest.reset()
      val d1 = digest.digest(tok)
      digest.reset()
      digest.update(prefix)
      val d2 = digest.digest(tok)
      var j = 0
      while (j < 32) {
        // hex digit j: even j = high nibble of byte j/2, odd j = low
        val b1 = d1(j >> 1)
        val p1 = if ((j & 1) == 0) (b1 >> 4) & 1 else b1 & 1
        s(j) += (if (p1 == 1) cnt else -cnt)
        val b2 = d2(j >> 1)
        val p2 = if ((j & 1) == 0) (b2 >> 4) & 1 else b2 & 1
        s(32 + j) += (if (p2 == 1) cnt else -cnt)
        j += 1
      }
    }
    val chunks = new Array[Any](4)
    var k = 0
    while (k < 4) {
      var c = 0
      var b = 0
      while (b < 16) {
        if (s(16 * k + b) > 0) c |= 1 << b
        b += 1
      }
      chunks(k) = c
      k += 1
    }
    new GenericArrayData(chunks)
  }
}

object SimHash64 {
  val helper = new SimHash64Helper
  def compute(a: ArrayData): ArrayData = helper.compute(a)
}
