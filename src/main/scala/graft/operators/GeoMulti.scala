package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — `-nlt PROMOTE_TO_MULTI` (ref processing.py:142):
  * every ogr2ogr vector conversion promotes Polygon→MultiPolygon so a
  * MIXED-type layer (some features single-part, some multi-part) loads
  * under one declared geometry type. The repo's geometry model was
  * strictly single-part; this module adds multi-part features —
  * bounded per-part fan-out, single→multi normalization, and part
  * counts carried THROUGH the b36 makevalid verdict, with the
  * promote-specific accounting rule on top: a MultiPolygon survives
  * iff ≥1 of its parts survives (parts are dropped individually — the
  * skipfailures path operates per ring), so `features_kept` and
  * `parts_*` move independently.
  *
  * Part model: feature f carries 1 + (f mod 3) parts (the mix — a
  * third of the layer loads as plain Polygon, the rest as genuine
  * MultiPolygon); part p of feature f is b36's defect-planting quad
  * keyed kp = 7f + p (kp inherits b36's planted bowtie (kp ≡ 0 mod 4)
  * and zero-area sliver (kp ≡ 0 mod 11) classes, so every part walks
  * the real repair-or-drop gauntlet). Promotion is the type algebra:
  * gtype_in = Polygon | MultiPolygon by part count, gtype_out ≡
  * MultiPolygon for every kept feature.
  *
  * Shape at 100 TB: the part explode is BOUNDED (≤3 rows per feature,
  * map-only); the per-part verdict is b36's pure int64 row math; one
  * row-scale exchange keyed on the feature id folds parts→feature
  * (uniform keys — parts of one feature are ≤3 rows), then the
  * bounded layer rollup. Σ n_parts over features ≡ exploded-part
  * count by construction, and the spec pins it.
  *
  * Oracle: DuckDB replays the same part fan-out (generate_series) and
  * the same shared defect templates — the verdict algebra is
  * engine-neutral integer geometry end to end.
  */
object GeoMulti {

  /** b58 — `q_promote_multi`: per-layer PROMOTE_TO_MULTI report — the
    * input type mix, part accounting through makevalid, and the
    * feature-survival rollup. */
  def qPromoteMulti(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
    val parts = s.select(col("s_suppkey").cast("long").as("f"),
        col("s_nationkey").cast("long").as("layer"))
      .withColumn("n_parts", expr("1 + f % 3"))
      .withColumn("p", explode(expr("sequence(0L, n_parts - 1)")))
      .withColumn("kp", expr("f * 7 + p"))
    val g = GeoGeom.quadGenColsFor("kp").foldLeft(parts) {
      case (df, (e, n)) => df.withColumn(n, expr(e)) }
      .withColumn("status",
        when(expr(GeoGeom.crossS), "repaired")
          .when(expr(GeoGeom.degenS), "dropped")
          .otherwise("valid"))
      .withColumn("area2_out",
        when(col("status") === "dropped", lit(null).cast("long"))
          .when(col("status") === "repaired", abs(expr(GeoGeom.areaFixedS)))
          .otherwise(abs(expr(GeoGeom.areaGivenS))))
    // parts → feature (uniform ≤3-row groups), then feature → layer
    val perFeature = g.groupBy("f", "layer", "n_parts")
      .agg(sum(expr("CAST(status = 'valid' AS BIGINT)")).as("pv"),
        sum(expr("CAST(status = 'repaired' AS BIGINT)")).as("pr"),
        sum(expr("CAST(status = 'dropped' AS BIGINT)")).as("pd"),
        sum(col("area2_out")).as("a2"))
    perFeature.groupBy("layer")
      .agg(count(lit(1)).as("n_features"),
        sum(expr("CAST(n_parts = 1 AS BIGINT)")).as("n_single_in"),
        sum(expr("CAST(n_parts > 1 AS BIGINT)")).as("n_multi_in"),
        sum(col("n_parts")).as("n_parts_total"),
        sum(col("pv")).as("parts_valid"),
        sum(col("pr")).as("parts_repaired"),
        sum(col("pd")).as("parts_dropped"),
        sum(expr("CAST(pv + pr > 0 AS BIGINT)")).as("features_kept"),
        sum(col("a2")).as("sum_area2"))
      .orderBy("layer")
  }

  val qPromoteMultiSql: String = {
    val gen = GeoGeom.quadGenColsFor("kp").map { case (e, n) => s"$e AS $n" }
      .mkString(", ")
    s"""WITH fp AS (
          SELECT CAST(s_suppkey AS BIGINT) AS f,
            CAST(s_nationkey AS BIGINT) AS layer,
            1 + CAST(s_suppkey AS BIGINT) % 3 AS n_parts
          FROM supplier),
        parts AS (
          SELECT f, layer, n_parts, unnest(generate_series(0, n_parts - 1)) AS p
          FROM fp),
        g AS (SELECT f, layer, n_parts, f * 7 + p AS kp FROM parts),
        q AS (SELECT f, layer, n_parts, $gen FROM g),
        st AS (
          SELECT f, layer, n_parts,
            CASE WHEN ${GeoGeom.crossS} THEN 'repaired'
                 WHEN ${GeoGeom.degenS} THEN 'dropped'
                 ELSE 'valid' END AS status,
            CASE WHEN ${GeoGeom.crossS} THEN abs(${GeoGeom.areaFixedS})
                 WHEN ${GeoGeom.degenS} THEN NULL
                 ELSE abs(${GeoGeom.areaGivenS}) END AS area2_out
          FROM q),
        pf AS (
          SELECT f, layer, n_parts,
            SUM(CASE WHEN status = 'valid' THEN 1 ELSE 0 END) AS pv,
            SUM(CASE WHEN status = 'repaired' THEN 1 ELSE 0 END) AS pr,
            SUM(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END) AS pd,
            SUM(area2_out) AS a2
          FROM st GROUP BY f, layer, n_parts)
      SELECT layer,
        COUNT(*) AS n_features,
        CAST(SUM(CASE WHEN n_parts = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_single_in,
        CAST(SUM(CASE WHEN n_parts > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi_in,
        CAST(SUM(n_parts) AS BIGINT) AS n_parts_total,
        CAST(SUM(pv) AS BIGINT) AS parts_valid,
        CAST(SUM(pr) AS BIGINT) AS parts_repaired,
        CAST(SUM(pd) AS BIGINT) AS parts_dropped,
        CAST(SUM(CASE WHEN pv + pr > 0 THEN 1 ELSE 0 END) AS BIGINT) AS features_kept,
        CAST(SUM(a2) AS BIGINT) AS sum_area2
      FROM pf GROUP BY layer ORDER BY layer"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_promote_multi", qPromoteMulti, Oracle(qPromoteMultiSql)))
}
