package graft.sources

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 input connector for the ingest queue: the reference
  * consumes `{blob_url};{token};join_vector_tiles={bool}` messages one
  * at a time from a service bus (ref ingest.py:62-66); on Spark the
  * queue backlog is a TABLE, and this connector exposes it through the
  * V2 read path so any `SparkEntry` pipeline can consume it with
  * `spark.read.format("graft-queue")` — or, mirroring the reference's
  * CONTINUOUS receiver loop (ref ingest.py:41 ingest_message), as a
  * micro-batch stream via `spark.readStream.format("graft-queue")`
  * (offset = message id, `maxMessagesPerTrigger` caps each batch the
  * way the bus' prefetch window does). A real deployment would point
  * the same connector surface at the bus' checkpointable feed; here
  * the payload is the deterministic message synthesis the a1 operator
  * parses (same url/token/flag algebra).
  *
  * Scale shape: the id space is laid out in `numPartitions` fixed
  * chunks (the source's "row groups"); `planInputPartitions` emits
  * only chunks intersecting the pushed `event_id` range, so a range
  * predicate prunes whole input partitions — the V2 equivalent of the
  * reference's queue offsets. The ScanBuilder implements
  * SupportsPushDownRequiredColumns (a `select(event_id)` reads
  * nothing else) and SupportsPushDownFilters (range/point predicates
  * on event_id are consumed exactly, nothing re-filtered post-scan).
  */
class IngestQueueSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-queue"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    IngestQueueSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new IngestQueueTable(new CaseInsensitiveStringMap(properties))
}

object IngestQueueSource {
  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType, nullable = false),
    StructField("blob_url", StringType, nullable = false),
    StructField("token", StringType, nullable = false),
    StructField("join_vector_tiles", BooleanType, nullable = false)))

  private val exts = Array(".tif", ".tiff", ".nc", ".gpkg", ".geojson",
    ".zip", ".gz", ".pmtiles", ".gdb", ".xyz")

  def fileName(id: Long): String = s"file_${id % 97}${exts((id % 10).toInt)}"

  def blobUrl(id: Long): String =
    s"https://acct.blob.core.windows.net/userdata/user${id % 1500}/raw/${fileName(id)}"

  /** Column twin of [[blobUrl]] — the connector's id→payload algebra
    * is a public contract (queries address an asset by the id of any
    * of its messages, e.g. the composed service loop resolving a chunk
    * notification to its parent asset), so the algebra lives here in
    * ONE place rather than re-derived per consumer. */
  def blobUrlCol(id: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions._
    concat(lit("https://acct.blob.core.windows.net/userdata/user"),
      (id % 1500).cast("string"), lit("/raw/file_"), (id % 97).cast("string"),
      element_at(array(exts.map(lit): _*), (id % 10).cast("int") + 1))
  }

  def md5hex(s: String): String = java.util.HexFormat.of().formatHex(
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8")))
}

class IngestQueueTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_ingest_queue"
  override def schema(): StructType = IngestQueueSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitiveOptions: CaseInsensitiveStringMap): ScanBuilder = {
    // read-path options are the canonical source; table properties
    // (captured at getTable) are the fallback for catalog-style use
    def opt(key: String, default: Long): Long =
      if (caseInsensitiveOptions.containsKey(key)) caseInsensitiveOptions.getLong(key, default)
      else options.getLong(key, default)
    new IngestQueueScanBuilder(
      opt("numMessages", 1000L),
      opt("numPartitions", 4L).toInt,
      opt("maxMessagesPerTrigger", 0L))
  }
}

class IngestQueueScanBuilder(numMessages: Long, numPartitions: Int, maxPerTrigger: Long)
    extends ScanBuilder with SupportsPushDownRequiredColumns with SupportsPushDownFilters {
  private var required: StructType = IngestQueueSource.schema
  private var lo: Long = 0L
  private var hi: Long = numMessages // [lo, hi)
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // event_id IS the message id, so range/point predicates on it are
  // satisfied EXACTLY by narrowing the scanned id range — they consume
  // fully (no post-scan residual), like parquet min/max pruning but
  // precise. Everything else is left for Spark to evaluate post-scan.
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def num(v: Any): Option[Long] = v match {
      case n: Number => Some(n.longValue())
      case _ => None
    }
    val (accepted, residual) = filters.partition {
      case EqualTo("event_id", v) => num(v).isDefined
      case GreaterThan("event_id", v) => num(v).isDefined
      case GreaterThanOrEqual("event_id", v) => num(v).isDefined
      case LessThan("event_id", v) => num(v).isDefined
      case LessThanOrEqual("event_id", v) => num(v).isDefined
      case IsNotNull("event_id") => true // schema is non-nullable
      case _ => false
    }
    accepted.foreach {
      case EqualTo("event_id", v) =>
        lo = math.max(lo, num(v).get); hi = math.min(hi, num(v).get + 1)
      case GreaterThan("event_id", v) => lo = math.max(lo, num(v).get + 1)
      case GreaterThanOrEqual("event_id", v) => lo = math.max(lo, num(v).get)
      case LessThan("event_id", v) => hi = math.min(hi, num(v).get)
      case LessThanOrEqual("event_id", v) => hi = math.min(hi, num(v).get + 1)
      case _ => ()
    }
    pushed = accepted
    residual
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan =
    new IngestQueueScan(numMessages, lo, math.max(lo, hi), numPartitions, maxPerTrigger, required)
}

case class IdRange(start: Long, end: Long) extends InputPartition

/** Streaming offset: the next unread message id (Kafka-style). */
case class MsgOffset(id: Long) extends Offset {
  override def json(): String = id.toString
}

class IngestQueueScan(numMessages: Long, lo: Long, hi: Long, numPartitions: Int,
    maxPerTrigger: Long, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Fixed chunk layout over the FULL id space, intersected with the
    * pushed [lo, hi) range — chunks wholly outside the predicate are
    * never planned (observable as fewer input partitions). */
  override def planInputPartitions(): Array[InputPartition] = {
    val per = math.max(1L, (numMessages + numPartitions - 1) / numPartitions)
    (0 until numPartitions).iterator
      .map(k => IdRange(math.max(k * per, lo), math.min((k + 1) * per, hi)))
      .filter(r => r.start < r.end)
      .map(r => r: InputPartition)
      .toArray
  }
  override def createReaderFactory(): PartitionReaderFactory =
    new IngestQueueReaderFactory(required)

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new IngestQueueMicroBatchStream(hi, lo, numPartitions, maxPerTrigger, required)
}

/** Micro-batch view of the queue: each trigger consumes the next slice
  * of message ids, restartable from the checkpointed offset — the
  * Spark re-expression of the reference's receiver loop + message
  * lock/checkpoint cycle (ref ingest.py:41-124). Admission control
  * caps a trigger at `maxMessagesPerTrigger` rows like Kafka's
  * maxOffsetsPerTrigger. */
class IngestQueueMicroBatchStream(total: Long, start: Long, numPartitions: Int,
    maxPerTrigger: Long, required: StructType)
    extends MicroBatchStream with SupportsAdmissionControl with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow drains the backlog as of query start in
  // rate-limited batches, then stops — the "catch up and exit" run
  // mode of a periodic ingest sweep. The backlog here is static, so
  // freezing it is capturing `total`.
  @volatile private var frozenTotal: Long = total
  override def prepareForTriggerAvailableNow(): Unit = frozenTotal = total

  override def initialOffset(): Offset = MsgOffset(start)
  override def deserializeOffset(json: String): Offset = MsgOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    if (maxPerTrigger > 0) ReadLimit.maxRows(maxPerTrigger) else ReadLimit.allAvailable()

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  override def latestOffset(startOffset: Offset, limit: ReadLimit): Offset = {
    val s = startOffset.asInstanceOf[MsgOffset].id
    limit match {
      case rl: ReadMaxRows => MsgOffset(math.min(s + rl.maxRows(), frozenTotal))
      case _ => MsgOffset(frozenTotal)
    }
  }

  override def reportLatestOffset(): Offset = MsgOffset(frozenTotal)

  override def planInputPartitions(startOffset: Offset, endOffset: Offset): Array[InputPartition] = {
    val s = startOffset.asInstanceOf[MsgOffset].id
    val e = endOffset.asInstanceOf[MsgOffset].id
    val per = math.max(1L, (e - s + numPartitions - 1) / numPartitions)
    (s until e by per)
      .map(b => IdRange(b, math.min(b + per, e)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new IngestQueueReaderFactory(required)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class IngestQueueReaderFactory(required: StructType)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val r = partition.asInstanceOf[IdRange]
    new PartitionReader[InternalRow] {
      private var id = r.start - 1
      // per-column generators bound once per task, not per row
      private val gens: Array[Long => Any] = required.fields.map(_.name).map {
        case "event_id" => (i: Long) => i
        case "blob_url" => (i: Long) => UTF8String.fromString(IngestQueueSource.blobUrl(i))
        case "token" => (i: Long) => UTF8String.fromString(IngestQueueSource.md5hex(i.toString))
        case "join_vector_tiles" => (i: Long) => i % 2 == 0
        case other => throw new IllegalArgumentException(s"unknown column $other")
      }
      override def next(): Boolean = { id += 1; id < r.end }
      override def get(): InternalRow =
        new GenericInternalRow(gens.map(g => g(id)).asInstanceOf[Array[Any]])
      override def close(): Unit = ()
    }
  }
}
