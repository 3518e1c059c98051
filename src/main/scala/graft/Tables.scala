package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver's parquet tables (TESTDATA.md). All operators
  * take `dir` = scale-factor directory and read only what they need so
  * Catalyst can prune columns/filters down to the parquet scan.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

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
    * The narrowness probe (`df.rdd.getNumPartitions`) plans the scan
    * on every call, so the verdict always matches the files under the
    * path as they are now. */
  def fanout(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
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
