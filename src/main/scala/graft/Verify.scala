package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (dev-only fast path)
    val selected = SparkEntry.select(args.lift(2).map(_.split(",").toSet))
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    selected.foreach { case (name, fn) =>
      // on stderr beside Spark's own log, so each warning sits between
      // the start and done lines of the query that raised it; the
      // millisecond count is a plain Long, whatever the locale
      System.err.println(s"[verify] start $name")
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(s"[verify] done $name ${(System.nanoTime() - t0) / 1000000L} ms")
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        // a failed/partial write must never leave a PREVIOUS run's
        // parquet (or a torn one) for the driver compare — a crashed
        // query would silently grade against stale output (the r13
        // e27 phantom red). Delete the whole query dir on failure so
        // the compare sees "missing", which reads as a loud error.
        def rm(f: java.io.File): Unit = {
          // listFiles() returns null on I/O error / concurrent delete —
          // an NPE escaping this catch would abort every REMAINING
          // query's verification, the opposite of fail-loud-but-continue.
          if (f.isDirectory)
            Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
          f.delete(): Unit
        }
        val d = new java.io.File(s"$outDir/$name")
        if (d.exists()) rm(d)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
