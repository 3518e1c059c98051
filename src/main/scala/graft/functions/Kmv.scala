package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** KMV buffer: the k smallest DISTINCT hash values seen. */
final class KmvBuffer(val set: java.util.TreeSet[java.lang.Long])

/** `graft_kmv(h, k)` — the K-Minimum-Values distinct sketch (Bar-Yossef
  * et al. 2002) over a non-negative 60-bit hash column: keep the k
  * smallest distinct hashes. Unlike HLL it supports SET ALGEBRA: two
  * sketches union by "k smallest of the merged sets" (still an exact
  * KMV of the union), and the intersection estimate is the Jaccard
  * fraction of the union sketch that both sides contain, times the
  * union estimate — the segment-overlap question approx_count_distinct
  * cannot answer. The aggregate is mergeable with NO loss (the
  * distributed k-smallest is associative), so per-partition partials
  * carry ≤ k longs each — shuffle volume is k·partitions regardless of
  * cardinality — and the result is partitioning-independent.
  *
  * Everything downstream of the sketch (estimates, unions,
  * intersections) is deterministic arithmetic over the output array,
  * which is how the c51 query stays ORACLE-GATED: DuckDB brute-forces
  * the same k smallest distinct md5-hashes and must land on identical
  * doubles.
  */
case class Kmv(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[KmvBuffer] {

  private lazy val k: Int = IntLiteral(kExpr, "k")

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_kmv"

  override def createAggregationBuffer(): KmvBuffer =
    new KmvBuffer(new java.util.TreeSet[java.lang.Long]())

  private def add(buf: KmvBuffer, h: Long): Unit = {
    val s = buf.set
    if (!s.contains(h)) {
      if (s.size < k) s.add(h)
      else if (h < s.last()) { s.add(h); s.remove(s.last()) }
    }
  }

  override def update(buf: KmvBuffer, input: InternalRow): KmvBuffer = {
    val v = child.eval(input)
    if (v != null) add(buf, v.asInstanceOf[Long])
    buf
  }

  override def merge(buf: KmvBuffer, other: KmvBuffer): KmvBuffer = {
    other.set.forEach(h => add(buf, h))
    buf
  }

  override def eval(buf: KmvBuffer): Any = {
    val out = new Array[Any](buf.set.size)
    var i = 0
    buf.set.forEach { h => out(i) = h.longValue(); i += 1 }
    new GenericArrayData(out)
  }

  override def serialize(buf: KmvBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.set.size)
    bb.putInt(buf.set.size)
    buf.set.forEach(h => bb.putLong(h))
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): KmvBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val s = new java.util.TreeSet[java.lang.Long]()
    var i = 0
    while (i < n) { s.add(bb.getLong); i += 1 }
    new KmvBuffer(s)
  }

  override def withNewMutableAggBufferOffset(offset: Int): Kmv =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): Kmv =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Kmv =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
