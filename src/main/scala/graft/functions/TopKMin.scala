package graft.functions

import java.nio.ByteBuffer
import java.util.Arrays

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Bounded max-heap over primitive longs holding the K SMALLEST values
  * seen. Root (arr(0)) is the largest retained value, so a candidate
  * is admitted iff the heap is not full or it beats the root — O(log k)
  * per admitted row, O(1) per rejected row once warm.
  */
final class TopKMinHeap(var arr: Array[Long], var n: Int) {
  def add(v: Long, k: Int): Unit = {
    if (n < k) {
      if (n == arr.length) {
        val bigger = new Array[Long](math.min(k, math.max(8, arr.length * 2)))
        System.arraycopy(arr, 0, bigger, 0, n)
        arr = bigger
      }
      arr(n) = v
      n += 1
      // sift up
      var i = n - 1
      while (i > 0 && arr((i - 1) / 2) < arr(i)) {
        val p = (i - 1) / 2
        val t = arr(p); arr(p) = arr(i); arr(i) = t
        i = p
      }
    } else if (v < arr(0)) {
      arr(0) = v
      // sift down
      var i = 0
      var done = false
      while (!done) {
        val l = 2 * i + 1
        val r = 2 * i + 2
        var m = i
        if (l < n && arr(l) > arr(m)) m = l
        if (r < n && arr(r) > arr(m)) m = r
        if (m == i) done = true
        else {
          val t = arr(m); arr(m) = arr(i); arr(i) = t
          i = m
        }
      }
    }
  }
}

/** `graft_topk_min(v, k)` — the K smallest BIGINT values of the group,
  * returned SORTED ASCENDING. The point versus `row_number() OVER
  * (PARTITION BY g ORDER BY v) <= k` is the aggregation shape: a
  * window needs the full group co-located and sorted (at 100 TB a
  * row-scale shuffle + sort), while this is an ordinary agg whose
  * MAP-SIDE PARTIAL is already capped at k elements — the shuffle
  * carries at most k longs per (group, mapper), the same contract
  * tippecanoe's per-tile feature cap needs (b46 `q_tile_drop`:
  * processing.py:244's tippecanoe delegates feature dropping per tile;
  * keep-lowest-drop-key is its deterministic stand-in). Values are
  * packed (key ≪ 43 | id) by the caller so ONE primitive-long heap
  * carries both the order and the payload.
  */
case class TopKMin(
    child: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKMinHeap] {

  private lazy val k: Int = IntLiteral(kExpr, "k")

  override def children: Seq[Expression] = Seq(child, kExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_topk_min"

  override def createAggregationBuffer(): TopKMinHeap =
    new TopKMinHeap(new Array[Long](8), 0)

  override def update(buf: TopKMinHeap, input: InternalRow): TopKMinHeap = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], k)
    buf
  }

  override def merge(buf: TopKMinHeap, other: TopKMinHeap): TopKMinHeap = {
    var i = 0
    while (i < other.n) {
      buf.add(other.arr(i), k)
      i += 1
    }
    buf
  }

  override def eval(buf: TopKMinHeap): Any = {
    val out = new Array[Long](buf.n)
    System.arraycopy(buf.arr, 0, out, 0, buf.n)
    Arrays.sort(out)
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  override def serialize(buf: TopKMinHeap): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + 8 * buf.n)
    bb.putInt(buf.n)
    var i = 0
    while (i < buf.n) { bb.putLong(buf.arr(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKMinHeap = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val arr = new Array[Long](math.max(n, 8))
    var i = 0
    while (i < n) { arr(i) = bb.getLong; i += 1 }
    new TopKMinHeap(arr, n)
  }

  override def withNewMutableAggBufferOffset(offset: Int): TopKMin =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): TopKMin =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): TopKMin =
    copy(child = newChildren(0), kExpr = newChildren(1))
}
