package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Growable primitive long buffer with a hard element cap. */
final class CappedLongVec(var arr: Array[Long], var n: Int) {
  def add(v: Long, cap: Int): Unit = {
    if (n < cap) {
      if (n == arr.length) {
        val bigger = new Array[Long](math.min(cap, math.max(8, arr.length * 2)))
        System.arraycopy(arr, 0, bigger, 0, n)
        arr = bigger
      }
      arr(n) = v
      n += 1
    }
  }
}

/** `graft_capped_list(v, cap)` — collect_list over BIGINT that stops
  * growing at `cap` elements. The d4 posting builder aggregates with
  * cap = dfCap + 1: a result of length ≤ dfCap is the COMPLETE posting
  * list (order-insensitive as a set — sort_array canonicalizes), while
  * length = dfCap + 1 just witnesses "df over cap" so the sid can be
  * dropped — without ever materializing the full posting list of a
  * boilerplate shingle (which at 100 TB is the difference between a
  * bounded buffer and an OOM). This folds the separate df-count pass +
  * broadcast anti-join into the one aggregation the pipeline already
  * pays. */
case class CappedList(
    child: Expression,
    capExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedLongVec] {

  private lazy val cap: Int = IntLiteral(capExpr, "cap")

  override def children: Seq[Expression] = Seq(child, capExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_capped_list"

  override def createAggregationBuffer(): CappedLongVec =
    new CappedLongVec(new Array[Long](8), 0)

  override def update(buf: CappedLongVec, input: InternalRow): CappedLongVec = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], cap)
    buf
  }

  override def merge(buf: CappedLongVec, other: CappedLongVec): CappedLongVec = {
    var i = 0
    while (i < other.n && buf.n < cap) {
      buf.add(other.arr(i), cap)
      i += 1
    }
    buf
  }

  override def eval(buf: CappedLongVec): Any = {
    val out = new Array[Long](buf.n)
    System.arraycopy(buf.arr, 0, out, 0, buf.n)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(buf: CappedLongVec): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedLongVec = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Long](math.max(n, 8))
    var i = 0
    while (i < n) { arr(i) = bb.getLong; i += 1 }
    new CappedLongVec(arr, n)
  }

  override def withNewMutableAggBufferOffset(offset: Int): CappedList =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): CappedList =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): CappedList =
    copy(child = newChildren(0), capExpr = newChildren(1))
}

/** The integer-literal argument of an aggregate (a cap or a k),
  * evaluated once at plan time. */
private[functions] object IntLiteral {
  def apply(e: Expression, name: String): Int = e.eval(InternalRow.empty) match {
    case i: Int => i
    case l: Long => l.toInt
    case other => throw new IllegalArgumentException(s"$name must be an integer literal, got $other")
  }
}
