package graft

import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, GenerateExec,
  ProjectExec, RDDScanExec, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver's parquet tables (TESTDATA.md). All operators
  * take `dir` = scale-factor directory and read only what they need so
  * Catalyst can prune columns/filters down to the parquet scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table as a parquet scan whose schema is read on the driver.
    * Spark's own inference reads the same one footer, but inside a
    * Spark job, and a job is the fixed cost this workload pays most
    * for. So this reads that footer here, converts it the way the
    * inference does (`readSchemaFromFooter` with the session's
    * converter: `legacy.parquet.nanosAsLong`, Spark's row metadata),
    * and hands the result to `spark.read.schema`. Nothing is cached:
    * every call sees the files as they are. With
    * `spark.sql.parquet.mergeSchema` set, or when the footer cannot be
    * read here, Spark's inference runs as before and raises its own
    * errors (a missing path, a corrupt file). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val footer =
      if (spark.sessionState.conf.isParquetSchemaMergingEnabled) None
      else footerSchema(spark, path)
    footer.fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))
  }

  /** The file Spark's non-merging inference reads (`ParquetUtils.inferSchema`:
    * a `_common_metadata`, else a `_metadata`, else the first data file
    * by path, over the same listing `spark.read` makes) and its schema. */
  private def footerSchema(spark: SparkSession, path: String): Option[StructType] =
    try {
      val files = new InMemoryFileIndex(spark, Seq(new Path(path)), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      val summaries = Seq("_common_metadata", "_metadata")
      val chosen = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
        .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      chosen.map { f =>
        val input = HadoopInputFile.fromStatus(f, spark.sessionState.newHadoopConf())
        val meta = ParquetFooterReader.readFooter(input, ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    } catch { case NonFatal(_) => None }

  /** Register the whole suite as temp views (events ts-normalized),
    * plus the graft-native functions — after this one call,
    * `spark.sql("SELECT ... FROM lineitem JOIN part ...")` and every
    * `graft_*` function work against the lake with no further setup:
    * the SQL-first front door for users coming from the reference. */
  def registerViews(spark: SparkSession, dir: String): Unit = {
    graft.functions.GraftFunctions.register(spark)
    all.foreach { n =>
      val df = if (n == "events") events(spark, dir) else apply(spark, dir, n)
      df.createOrReplaceTempView(n)
    }
  }

  /** Fan a narrow source out to the session's parallelism — ONLY when
    * it is actually narrow. The driver's testdata writes each table as
    * one parquet row group, so every scan yields ONE partition and a
    * CPU-heavy map stage (shingling, codec work, signature math) runs
    * single-threaded no matter how many cores the session has; AQE
    * can't help because its coalescing reasons in BYTES while these
    * stages amplify CPU per byte. On a real cluster the scan already
    * has hundreds of splits, `getNumPartitions >= target` holds, and
    * this is a planning-time no-op — no shuffle is ever added at
    * scale.
    *
    * The narrowness probe ([[partitions]]) plans the scan on every
    * call, so the verdict always matches the files under the path as
    * they are now. */
  def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (partitions(df) < target) df.repartition(target) else df
  }

  /** `df.rdd.getNumPartitions`, read off the physical plan without
    * posting an SQL execution: a plan of projections, filters,
    * generators and unions over file scans and checkpointed frames has
    * its leaves' partitions, summed over union arms, and a file scan
    * splits its files on the driver. Any other shape asks `df.rdd`. */
  private[graft] def partitions(df: DataFrame): Int = {
    def narrow(p: SparkPlan): Option[Int] = p match {
      case s: FileSourceScanExec => Some(s.inputRDD.getNumPartitions)
      case r: RDDScanExec => Some(r.rdd.getNumPartitions)
      case u: UnionExec =>
        val arms = u.children.map(narrow)
        if (arms.forall(_.isDefined)) Some(arms.flatten.sum) else None
      case _: ProjectExec | _: FilterExec | _: GenerateExec => narrow(p.children.head)
      case _ => None
    }
    narrow(df.queryExecution.sparkPlan).getOrElse(df.rdd.getNumPartitions)
  }

  /** events.parquet carries TIMESTAMP(NANOS), which Spark's parquet
    * reader only accepts as a raw long (`legacy.parquet.nanosAsLong`,
    * set by `GraftSession.local`). Normalize to a microsecond
    * TimestampType column so downstream operators are oblivious.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    val raw = apply(spark, dir, "events")
    raw.schema("ts").dataType match {
      // integer div — a double division would lose precision on epoch-ns
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      // TIMESTAMP(MICROS) with isAdjustedToUTC=false reads as NTZ; all
      // graft sessions pin spark.sql.session.timeZone=UTC, so the cast
      // to an instant is the identity on the stored microsecond value
      // (and unix_millis & friends only accept TimestampType).
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }
}
