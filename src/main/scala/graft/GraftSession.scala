package graft

import org.apache.spark.sql.SparkSession

/** The local session every graft main and spec shares: graft's
  * extensions, one shuffle partition per core, UTC, nanosecond parquet
  * timestamps read as longs (see `Tables.events`), no UI and no
  * unpartitioned-window warnings. */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, or every available core when it is unset. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // Silence the `No Partition Defined for Window operation!` warning
    // ONLY: every remaining global-order window in the library reads a
    // BOUNDED input (top-1000 TakeOrderedAndProject cuts, value-range
    // histograms, ≤64-row bootstrap tables — the round-11 audit;
    // corpus-proportional ranks go through TwoPhase.globalRowNumber
    // instead). Silencing here is safe because the NON-silent gate is
    // LibraryGateSpec: it asserts zero unpartitioned logical windows
    // across ALL registered queries outside a 13-entry bounded-input
    // whitelist, so a new unbounded window fails the suite rather than
    // scrolling past in a muted log.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }
}
