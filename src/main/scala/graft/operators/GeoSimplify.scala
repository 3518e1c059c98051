package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — POLYLINE SIMPLIFICATION: tippecanoe's
  * `--simplify-only-low-zooms` vertex reduction (ref processing.py:244;
  * b17 accounts the zoom plan but no vertex-reduction math existed —
  * the repo had no line geometry at all). Douglas–Peucker over
  * synthesized integer polylines with EXACT division-free
  * point-to-segment comparisons (b35's discipline): a vertex splits
  * its segment iff cross² > tol²·len² — pure int64, the kept set is
  * bit-identical cross-engine; per-zoom tolerance follows b17's
  * halving ladder (z 4/6/8/10 → tol 128/32/8/2 lattice units).
  *
  * Output per (line, zoom): the kept-vertex BITMASK (endpoints always
  * set), the kept count, and max-error accounting — max over dropped
  * vertices of floor(10⁴·cross²/len²) against the segment each was
  * dropped from (10⁴ × squared perpendicular distance; the one
  * reporting-only division floors identically in both engines).
  *
  * Generator plants both spec cases: keys ≡ 0 (mod 17) carry a SPIKE
  * at vertex 4 (+1000 — must survive every zoom's tolerance); keys ≡ 0
  * (mod 13) are exactly COLLINEAR (flat line — all interior vertices
  * must collapse at every zoom, mask = 0x81).
  *
  * Spark side: the codegen'd `graft_dp` kernel, map-only — the
  * per-feature transform pass a 100 TB tile pipeline runs per zoom.
  * Oracle: the SAME deterministic recursion as a bounded unrolled
  * BFS chain (6 levels — a split peels ≥1 of the 6 interior vertices
  * per level), same strict->, same smallest-index tie-break.
  */
object GeoSimplify {

  private val primes = Seq(7919L, 12553L, 17389L, 23311L, 29443L, 37199L, 42643L, 50021L)

  /** Shared vertex-y template (k = line key as BIGINT, both engines). */
  private def yS(i: Int): String = {
    val spike = if (i == 4) " + CASE WHEN k % 17 = 0 THEN 1000 ELSE 0 END" else ""
    s"(CASE WHEN k % 13 = 0 THEN k * 7919 % 1200 ELSE k * ${primes(i)} % 1200$spike END)"
  }
  private val xVals = (0 to 7).map(i => 400L * i)

  /** b42 — `q_simplify`: per (line, zoom) Douglas–Peucker verdict. */
  def qSimplify(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(col("p_partkey").as("line_id"))
      .withColumn("k", col("line_id").cast("long"))
      .withColumn("xs", expr(s"array(${xVals.map(v => s"${v}L").mkString(", ")})"))
      .withColumn("ys", expr(
        s"array(${(0 to 7).map(i => s"CAST(${yS(i)} AS BIGINT)").mkString(", ")})"))
      .withColumn("zoom", explode(expr("array(4, 6, 8, 10)")))
      .withColumn("tol2", expr(
        "CAST(CASE zoom WHEN 4 THEN 16384 WHEN 6 THEN 1024 WHEN 8 THEN 64 ELSE 4 END AS BIGINT)"))
      .withColumn("dp", expr("graft_dp(xs, ys, tol2)"))
      .select(col("line_id"), col("zoom"),
        expr("dp[0]").as("kept_mask"), expr("dp[1]").as("n_kept"),
        expr("dp[2]").as("max_err2_e4"))
      .orderBy("line_id", "zoom")
  }

  // ---- DuckDB oracle: DP as a bounded unrolled BFS chain ----

  /** One BFS level: per pending segment, the interior argmax by cross²
    * (tie → smallest index), strict cross² > tol²·len² splits into two
    * children; otherwise the segment finalizes and its interior
    * vertices drop with their decision-time errors. */
  private def dpLevel(k: Int): String = {
    val prev = s"seg${k - 1}"
    s"""cand$k AS (
        SELECT s.line_id, s.zoom, s.tol2, s.lo, s.hi,
          s.xlo, s.ylo, s.xhi, s.yhi, v.i, v.x, v.y,
          ((s.xhi - s.xlo) * (v.y - s.ylo) - (s.yhi - s.ylo) * (v.x - s.xlo))
            * ((s.xhi - s.xlo) * (v.y - s.ylo) - (s.yhi - s.ylo) * (v.x - s.xlo)) AS c2
        FROM $prev s JOIN verts v
          ON v.line_id = s.line_id AND v.zoom = s.zoom
         AND v.i > s.lo AND v.i < s.hi),
      best$k AS (
        SELECT *, (xhi - xlo) * (xhi - xlo) + (yhi - ylo) * (yhi - ylo) AS len2
        FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY line_id, zoom, lo, hi ORDER BY c2 DESC, i ASC) AS rn
          FROM cand$k) b WHERE rn = 1),
      split$k AS (SELECT * FROM best$k WHERE c2 > tol2 * len2),
      done$k AS (SELECT * FROM best$k WHERE c2 <= tol2 * len2),
      seg$k AS (
        SELECT line_id, zoom, tol2, lo, i AS hi, xlo, ylo, x AS xhi, y AS yhi
        FROM split$k
        UNION ALL
        SELECT line_id, zoom, tol2, i AS lo, hi, x AS xlo, y AS ylo, xhi, yhi
        FROM split$k),
      errs$k AS (
        SELECT c.line_id, c.zoom, (c.c2 * 10000) // d.len2 AS err
        FROM cand$k c JOIN done$k d
          ON c.line_id = d.line_id AND c.zoom = d.zoom
         AND c.lo = d.lo AND c.hi = d.hi)"""
  }

  val qSimplifySql: String = {
    val ys = (0 to 7).map(i => s"CAST(${yS(i)} AS BIGINT)").mkString(", ")
    val xs = xVals.map(v => s"CAST($v AS BIGINT)").mkString(", ")
    val levels = (1 to 6).map(dpLevel).mkString(",\n      ")
    s"""WITH lines AS (
          SELECT p_partkey AS line_id, CAST(p_partkey AS BIGINT) AS k FROM part),
        zooms AS (SELECT * FROM (VALUES (4, 16384), (6, 1024), (8, 64), (10, 4))
          z(zoom, tol2)),
        verts AS (
          SELECT line_id, zoom, CAST(tol2 AS BIGINT) AS tol2,
            unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i,
            unnest([$xs]) AS x,
            unnest([$ys]) AS y
          FROM lines, zooms),
        seg0 AS (
          SELECT a.line_id, a.zoom, a.tol2, 0 AS lo, 7 AS hi,
            a.x AS xlo, a.y AS ylo, b.x AS xhi, b.y AS yhi
          FROM verts a JOIN verts b
            ON a.line_id = b.line_id AND a.zoom = b.zoom
          WHERE a.i = 0 AND b.i = 7),
        $levels,
        keptall AS (
          SELECT line_id, zoom, i FROM verts WHERE i IN (0, 7)
          ${(1 to 6).map(k => s"UNION ALL SELECT line_id, zoom, i FROM split$k").mkString("\n          ")}),
        allerr AS (
          ${(1 to 6).map(k => s"SELECT * FROM errs$k").mkString("\n          UNION ALL ")}),
        kagg AS (
          SELECT line_id, zoom,
            CAST(SUM(CAST(1 AS BIGINT) << i) AS BIGINT) AS kept_mask,
            COUNT(*) AS n_kept
          FROM keptall GROUP BY line_id, zoom),
        eagg AS (
          SELECT line_id, zoom, MAX(err) AS max_err2_e4
          FROM allerr GROUP BY line_id, zoom)
      SELECT k.line_id, k.zoom, k.kept_mask, k.n_kept,
        COALESCE(e.max_err2_e4, 0) AS max_err2_e4
      FROM kagg k LEFT JOIN eagg e
        ON k.line_id = e.line_id AND k.zoom = e.zoom
      ORDER BY k.line_id, k.zoom"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_simplify", qSimplify, Oracle(qSimplifySql)))
}
