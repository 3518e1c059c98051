package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks
    * rows>0. The reference's end-to-end dataflow in ONE plan: queue
    * message parse (a1) → format routing (a2) → destination path
    * algebra (a4), joined on the message id — the backlog parsed,
    * routed and destination-resolved, processable-first. */
  def entry(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    IngestOps.qParseMessage(spark, dir)
      .join(IngestOps.qRouteFormat(spark, dir), "event_id")
      .join(IngestOps.qDstPath(spark, dir), "event_id")
      .filter(col("route") =!= "skip")
      .select("event_id", "blob_url", "join_vector_tiles", "route",
        "vsi_prefix", "dst_blob_path", "cog_name")
  }

  /** Every operator module's declarations by name; a name declared
    * twice fails here, when SparkEntry initialises. */
  private[graft] val registry: Map[String, Query] = Query.index(Seq(
    Analytics.registry, AnalyticsExt.registry, AnalyticsTs.registry, IngestOps.registry,
    GeoOps.registry, GeoProj.registry, GeoGeom.registry, GeoClip.registry,
    GeoSimplify.registry, GeoBorders.registry, GeoMulti.registry, GeoWrap.registry,
    GeoLines.registry, GeoRaster.registry, GeoMeta.registry,
    TextOps.registry, TextModels.registry, CorpusClean.registry, Dedup.registry, Ann.registry,
    Retrieval.registry, Bpe.registry, Pca.registry, Asof.registry, Serving.registry,
    Seeding.registry, OpsAudit.registry, graft.multimodal.Media.registry).flatten)

  /** One entry per implemented operator from SURVEY.md §2. Each build
    * first registers graft's functions, so a query runs on a session
    * built without `graft.GraftExtensions` too. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map { case (name, q) =>
      name -> { (spark: SparkSession, dir: String) =>
        graft.functions.GraftFunctions.register(spark)
        q.build(spark, dir)
      }
    }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables; rows-only queries have none. */
  val oracleSql: Map[String, String] =
    registry.collect { case (name, Query(_, _, Oracle(sql))) => name -> sql }

  /** The queries named in `only`, or all of them when it is None. An
    * unknown name throws, listing every unknown one, so a typo cannot
    * silently select nothing. */
  def select(only: Option[Set[String]]): Map[String, (SparkSession, String) => DataFrame] =
    only.fold(queries) { names =>
      val unknown = names -- queries.keySet
      require(unknown.isEmpty, s"unknown query names: ${unknown.toSeq.sorted.mkString(", ")}")
      queries.filter { case (name, _) => names(name) }
    }
}
