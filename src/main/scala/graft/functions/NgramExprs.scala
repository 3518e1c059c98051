package graft.functions

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: the top 60 bits of md5(s) as a
  * non-negative BIGINT — the integer shingle id of the d4 n-gram
  * index. Bit-identical to the SQL formulation
  * `CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)` (the first
  * 15 hex digits are the first 60 bits, big-endian), which is what
  * the DuckDB oracle still computes — but straight from the digest
  * bytes: no 32-char hex string, no substring, no base-16 parse per
  * shingle. */
case class Sid60(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sid60"

  override def nullSafeEval(input: Any): Any =
    Sid60.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = classOf[Sid60Helper].getName
    val ref = ctx.addReferenceObj("sid60", Sid60.helper, helper)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): Sid60 =
    copy(child = newChild)
}

/** Java-callable helper so generated code invokes one method. */
class Sid60Helper extends Serializable {
  @transient private lazy val md =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  def compute(s: UTF8String): Long = {
    val digest = md.get()
    digest.reset()
    val d = digest.digest(s.getBytes)
    // big-endian first 8 bytes = hex digits 0..15; >>> 4 drops digit 15
    var v = 0L
    var i = 0
    while (i < 8) {
      v = (v << 8) | (d(i) & 0xffL)
      i += 1
    }
    v >>> 4
  }
}

object Sid60 {
  val helper = new Sid60Helper
  def compute(s: UTF8String): Long = helper.compute(s)
}

/** Native Catalyst expression: distinct 3-gram word shingles of a
  * token array mapped straight to their 60-bit [[Sid60]] ids —
  * `graft_sid60(shingle)` for each element graft_shingle3 would
  * produce, in one fused pass (no intermediate shingle-string array
  * in the plan). array<bigint>, first-occurrence order; distinctness
  * is on the shingle STRING, exactly like the exploded
  * shingle→md5→conv formulation (and the DuckDB oracle's
  * list_distinct + md5), so an sid collision yields the same
  * duplicate ids on both engines. */
case class ShingleSids(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_shingle_sids"

  override def nullSafeEval(input: Any): Any =
    ShingleSids.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = classOf[ShingleSidsHelper].getName
    val ref = ctx.addReferenceObj("shingleSids", ShingleSids.helper, helper)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleSids =
    copy(child = newChild)
}

/** Java-callable helper so generated code invokes one method. */
class ShingleSidsHelper extends Serializable {
  private val sep = UTF8String.fromString(" ")

  def compute(a: ArrayData): ArrayData = {
    val set = Shingle3.trigrams(a, sep)
    val out = new Array[Any](set.size)
    val it = set.iterator()
    var k = 0
    while (it.hasNext) {
      out(k) = Sid60.compute(it.next())
      k += 1
    }
    new GenericArrayData(out)
  }
}

object ShingleSids {
  val helper = new ShingleSidsHelper
  def compute(a: ArrayData): ArrayData = helper.compute(a)
}

/** Native Catalyst expression: the d4 posting-row record generator.
  * For one posting list (array<bigint> of doc ids, any order) it emits,
  * in ONE primitive-array pass:
  *   - all C(n,2) ordered pairs, each packed into ONE non-negative
  *     bigint (`a << 32 | b` with a < b after an in-place sort), and
  *   - one NEGATIVE record `-(doc + 1)` per member doc.
  * Downstream, a single groupBy over the records computes BOTH the
  * pair co-occurrence counts (records ≥ 0: `shared`) and the per-doc
  * kept-vocabulary sizes (records < 0: how many kept posting lists
  * contain the doc) — one Generate + one aggregation where the
  * pair/size split otherwise costs two reduce passes over the posting
  * exchange. Packing keys the aggregation on a single primitive long:
  * half the shuffle key bytes of a two-column key, one murmur per row.
  * Unpack pairs with `p >>> 32` / `p & 0xffffffff`, sizes with
  * `-p - 1`. Ids must fit in 32 unsigned bits — enforced loudly (a
  * silent wrap would corrupt pair identities); wider id spaces take
  * the struct-pair path. */
case class PostingRecords(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(ArrayType(LongType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_posting_records"

  override def nullSafeEval(input: Any): Any =
    PostingRecords.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = classOf[PostingRecordsHelper].getName
    val ref = ctx.addReferenceObj("postingRecords", PostingRecords.helper, helper)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): PostingRecords =
    copy(child = newChild)
}

/** Java-callable helper so generated code invokes one method. */
class PostingRecordsHelper extends Serializable {
  def compute(a: ArrayData): ArrayData = {
    val ds = a.toLongArray()
    val n = ds.length
    require(n <= 65536, s"posting list of $n ids: cap the df before pairing")
    java.util.Arrays.sort(ds)
    val out = new Array[Long](n * (n - 1) / 2 + n)
    var k = 0
    var i = 0
    while (i < n) {
      val hi = ds(i)
      require((hi >>> 32) == 0L, s"doc id $hi exceeds 32 bits: packed pairs unsupported")
      val shifted = hi << 32
      var j = i + 1
      while (j < n) {
        out(k) = shifted | ds(j)
        k += 1
        j += 1
      }
      out(k) = -hi - 1
      k += 1
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object PostingRecords {
  val helper = new PostingRecordsHelper
  def compute(a: ArrayData): ArrayData = helper.compute(a)
}

/** Native Catalyst expression: the OVERLAPPING L-token window ids of a
  * token array, in POSITION order (index i = window starting at token
  * i) — d14's sliding-window stream fused into one pass. Each id is
  * the [[Sid60]] of the space-joined window, bit-identical to the
  * oracle's `CAST('0x' || substr(md5(window), 1, 15) AS BIGINT)`; the
  * interpreted alternative (transform(sequence) → slice → array_join →
  * md5 per position) re-materializes an L-element array and a 32-char
  * hex string per token — measured 3.7× slower at 50k docs. NOT
  * distinct (unlike [[ShingleSids]]): d14 needs every occurrence with
  * its position, posexplode supplies (p, sid). */
case class WindowSids(child: Expression, width: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(width >= 1, s"window width $width")

  override def inputTypes = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_window_sids"

  override def nullSafeEval(input: Any): Any =
    WindowSids.compute(input.asInstanceOf[ArrayData], width)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val helper = classOf[WindowSidsHelper].getName
    val ref = ctx.addReferenceObj("windowSids", WindowSids.helper, helper)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.compute($a, $width);")
  }

  override protected def withNewChildInternal(newChild: Expression): WindowSids =
    copy(child = newChild)
}

/** Java-callable helper so generated code invokes one method. */
class WindowSidsHelper extends Serializable {
  private val sep = UTF8String.fromString(" ")

  def compute(a: ArrayData, width: Int): ArrayData = {
    val n = a.numElements()
    val m = n - width + 1
    if (m <= 0) return new GenericArrayData(new Array[Any](0))
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) { toks(i) = a.getUTF8String(i); i += 1 }
    val out = new Array[Long](m)
    val win = new Array[UTF8String](width)
    var p = 0
    while (p < m) {
      System.arraycopy(toks, p, win, 0, width)
      out(p) = Sid60.compute(UTF8String.concatWs(sep, win: _*))
      p += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(out)
  }
}

object WindowSids {
  val helper = new WindowSidsHelper
  def compute(a: ArrayData, width: Int): ArrayData = helper.compute(a, width)
}
