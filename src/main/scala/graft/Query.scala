package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** How a registered query's result is checked. */
sealed trait Check
/** ANSI SQL that DuckDB runs on the same parquet tables to produce the
  * same rows (the rules are in Analytics' scaladoc). */
final case class Oracle(sql: String) extends Check
/** No SQL twin exists; the spec `graft.<specName>` gates the rows. */
final case class RowsOnly(specName: String) extends Check

/** One registered query: its name, build function and result check. Each
  * operator module lists its queries once, in its `registry`. */
final case class Query(name: String, build: (SparkSession, String) => DataFrame, check: Check)

object Query {
  /** Index queries by name, rejecting a name declared twice (a later
    * declaration would otherwise silently shadow the earlier one). */
  def index(qs: Seq[Query]): Map[String, Query] = {
    val dups = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    qs.map(q => q.name -> q).toMap
  }
}
