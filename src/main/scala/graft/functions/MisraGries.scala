package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.types.{DataType, LongType, MapType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries buffer: at most `cap` counters. */
final class MgBuffer(val counts: mutable.HashMap[UTF8String, Long])

/** `graft_mg_topk(s, cap)` — Misra–Gries heavy-hitters sketch over a
  * string column: a bounded map of ≤ `cap` counters whose keys are
  * GUARANTEED to include every value occurring more than N/(cap+1)
  * times in N rows (counts are underestimates; extra keys are
  * possible). The classic streaming summary, here as a distributed
  * aggregate: per-partition partial sketches merge by counter
  * addition followed by an (m+1)-th-largest-count subtraction — the
  * Agarwal et al. mergeability result, which preserves the frequency
  * guarantee across arbitrary partitionings. This is what replaces
  * `groupBy(token)` when the value cardinality is huge and only the
  * frequent tail matters: the shuffle carries ≤ cap counters per
  * partition instead of the full distinct set, and a cheap exact
  * second pass over the candidates (broadcast semi-join) turns the
  * sketch into an exact, partitioning-independent answer (see
  * TextOps.qHeavyHitters).
  */
case class MisraGries(
    child: Expression,
    capExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[MgBuffer] {

  private lazy val cap: Int = IntLiteral(capExpr, "cap")

  override def children: Seq[Expression] = Seq(child, capExpr)
  override def nullable: Boolean = false
  override def dataType: DataType = MapType(StringType, LongType, valueContainsNull = false)
  override def prettyName: String = "graft_mg_topk"

  override def createAggregationBuffer(): MgBuffer =
    new MgBuffer(mutable.HashMap.empty)

  override def update(buf: MgBuffer, input: InternalRow): MgBuffer = {
    val v = child.eval(input)
    if (v != null) {
      val k = v.asInstanceOf[UTF8String]
      val m = buf.counts
      m.get(k) match {
        case Some(c) => m.update(k, c + 1)
        case None if m.size < cap =>
          m.update(k.clone(), 1L) // clone: the input row buffer is reused
        case None =>
          // decrement-all: every counter (and the unseen k) gives up one
          m.filterInPlace((_, c) => c > 1)
          m.mapValuesInPlace((_, c) => c - 1)
      }
    }
    buf
  }

  override def merge(buf: MgBuffer, other: MgBuffer): MgBuffer = {
    val m = buf.counts
    other.counts.foreach { case (k, c) => m.update(k, m.getOrElse(k, 0L) + c) }
    if (m.size > cap) {
      // subtract the (cap+1)-th largest count from all, drop <= 0 —
      // the order-statistic generalization of decrement-all
      val sorted = m.values.toArray
      java.util.Arrays.sort(sorted)
      val sub = sorted(sorted.length - cap - 1)
      m.filterInPlace((_, c) => c > sub)
      m.mapValuesInPlace((_, c) => c - sub)
    }
    buf
  }

  override def eval(buf: MgBuffer): Any = {
    val ks = new Array[Any](buf.counts.size)
    val vs = new Array[Any](buf.counts.size)
    var i = 0
    buf.counts.foreach { case (k, c) => ks(i) = k; vs(i) = c; i += 1 }
    ArrayBasedMapData(ks, vs)
  }

  override def serialize(buf: MgBuffer): Array[Byte] = {
    val entries = buf.counts.toArray
    val bytesLen = entries.map { case (k, _) => 4 + k.numBytes() + 8 }.sum
    val bb = ByteBuffer.allocate(4 + bytesLen)
    bb.putInt(entries.length)
    entries.foreach { case (k, c) =>
      val kb = k.getBytes
      bb.putInt(kb.length); bb.put(kb); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): MgBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val m = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val kl = bb.getInt
      val kb = new Array[Byte](kl)
      bb.get(kb)
      m.update(UTF8String.fromBytes(kb), bb.getLong)
      i += 1
    }
    new MgBuffer(m)
  }

  override def withNewMutableAggBufferOffset(offset: Int): MisraGries =
    copy(mutableAggBufferOffset = offset)
  override def withNewInputAggBufferOffset(offset: Int): MisraGries =
    copy(inputAggBufferOffset = offset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MisraGries =
    copy(child = newChildren(0), capExpr = newChildren(1))
}
