package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and spec shares: graft's
  * extensions, one shuffle partition per core, UTC, nanosecond parquet
  * timestamps read as longs (see `Tables.events`) and no UI. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or every available core when it is unset. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}
