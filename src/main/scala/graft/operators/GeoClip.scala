package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — TILE-BOUNDARY GEOMETRY CLIPPING: tippecanoe does not
  * just ASSIGN features to tiles (b3), it CLIPS each geometry to the
  * tile's bbox and renders the per-tile piece (ref
  * processing.py:216-402 delegates the tiling — and with it exactly
  * this cut — to tippecanoe). b3 assigns, b17/b27 account, b24/b35
  * test containment; this module produces the clipped ring itself,
  * with b25's shoelace reused for the clipped-area accounting — the
  * fidelity the vector capstone's tilestats actually need.
  *
  * Exact-integer discipline (b24/b35's, extended through the clip):
  * rings are parallelograms whose slanted sides are restricted to
  * slopes {−1, 0, +1} (horizontal/vertical/±45° edges), so EVERY
  * Sutherland–Hodgman intersection with an axis-aligned tile boundary
  * lands ON the integer µdeg lattice — and the slope class is CLOSED
  * under box clipping (new edges run along the clip line, surviving
  * sub-edges keep their slope), so all four half-plane passes stay
  * exact int64 with zero epsilon and zero cross-engine float drift.
  * The tile grid is the z=6 x-pitch (360e6/64 = 5 625 000 µdeg) squared
  * up in integer µdeg — b13's Mercator y-bounds are transcendental and
  * would forfeit the exactness; the clip kernel itself is grid-agnostic
  * (bounds are arguments).
  *
  * Shape at 100 TB: map-only generation → bounded tile explode (a
  * feature meets only the ≤ dozens of tiles its bbox covers) → the
  * codegen'd `graft_clip` kernel per (feature, tile) → filter empty —
  * no shuffle at all before the ORDER BY (per-piece query) / ONE
  * bounded tile-keyed agg (tilestats query). The DuckDB oracle replays
  * Sutherland–Hodgman as four unrolled lag/lead SQL stages over vertex
  * ROWS — independent machinery with the identical emission rules —
  * and GeoInvariantsSpec pins the kernel on planted corner probes plus
  * the partition invariant (Σ clipped area over tiles = 8·a·b exactly,
  * per polygon).
  */
object GeoClip {

  private val T = 5625000L // z=6 x-pitch in µdeg (360e6 / 64)

  // parallelogram generator: horizontal top/bottom, side slope
  // m = k%3 − 1 ∈ {−1, 0, +1} via sx = m·b (|Δx| = |Δy| = 2b or Δx=0)
  private val clipGenCols = Seq(
    "CAST(s_suppkey AS BIGINT) * 15485863 % 300000000 + 30000000" -> "cx",
    "CAST(s_suppkey AS BIGINT) * 32452843 % 120000000 + 25000000" -> "cy",
    "CAST(s_suppkey AS BIGINT) % 7 * 1000000 + 5000000" -> "a",
    "CAST(s_suppkey AS BIGINT) % 5 * 1000000 + 3000000" -> "b",
    "(CAST(s_suppkey AS BIGINT) % 3 - 1) * (CAST(s_suppkey AS BIGINT) % 5 * 1000000 + 3000000)" -> "sx")

  /** Per-piece pipeline shared by both queries: polygons → bounded
    * tile explode → kernel clip → non-empty pieces. */
  private def pieces(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
    val g = clipGenCols.foldLeft(
      s.select(col("s_suppkey").as("poly_id"), col("s_suppkey"))) {
        case (df, (e, n)) => df.withColumn(n, expr(e)) }
      .drop("s_suppkey")
    g.withColumn("xs", expr("array(cx - a - sx, cx + a - sx, cx + a + sx, cx - a + sx)"))
      .withColumn("ys", expr("array(cy - b, cy - b, cy + b, cy + b)"))
      .withColumn("xt", explode(sequence(
        expr(s"(cx - a - abs(sx)) div $T"), expr(s"(cx + a + abs(sx)) div $T"))))
      .withColumn("yt", explode(sequence(
        expr(s"(cy - b) div $T"), expr(s"(cy + b) div $T"))))
      .withColumn("clip", expr(
        s"graft_clip(xs, ys, array(xt * $T, yt * $T, xt * $T + $T, yt * $T + $T))"))
      // zero-area pieces are edge-touching contact, not rendered tiles
      .filter(expr("clip IS NOT NULL AND clip[1] > 0"))
  }

  /** b41 — `q_tile_clip`: the per-(tile, polygon) clipped piece — ring
    * length, exact shoelace 2A of the CLIPPED ring, and the piece bbox
    * (a 4-tile-corner spanning quad yields 4 quadrant pieces; a ±45°
    * side crossing a tile corner yields a pentagon — the pieces
    * tippecanoe actually renders). */
  def qTileClip(spark: SparkSession, dir: String): DataFrame =
    pieces(spark, dir)
      .select(col("poly_id"), col("xt"), col("yt"),
        expr("clip[0]").as("n_vert"), expr("clip[1]").as("area2_clip"),
        expr("clip[2]").as("clip_xmin"), expr("clip[3]").as("clip_ymin"),
        expr("clip[4]").as("clip_xmax"), expr("clip[5]").as("clip_ymax"))
      .orderBy("poly_id", "xt", "yt")

  /** b41b — `q_tile_clip_stats`: the tilestats over the clipped pieces
    * — per tile the piece count, the summed CLIPPED area (what the
    * tile actually renders — b4 counts features, this weighs them by
    * their in-tile geometry), and the max ring length. One bounded
    * (xt, yt)-keyed agg over the map-only piece stream. */
  def qTileClipStats(spark: SparkSession, dir: String): DataFrame =
    pieces(spark, dir)
      .groupBy("xt", "yt")
      .agg(count(lit(1)).as("n_pieces"),
        sum(expr("clip[1]")).as("sum_area2"),
        max(expr("clip[0]")).as("max_vert"))
      .orderBy("xt", "yt")

  // ---- DuckDB oracle: Sutherland–Hodgman as 4 unrolled SQL stages ----

  /** One half-plane stage: edges pair each vertex E with its ring
    * predecessor S (lag + wraparound), each edge emits the boundary
    * intersection when exactly one endpoint is inside (sub-order 0)
    * then E when E is inside (sub-order 1) — the kernel's exact
    * emission rules. `axis` 'x'/'y', `ge` keep-≥ vs keep-≤, bound is a
    * column name. Integer division is exact under the slope
    * invariant. */
  private def shStage(k: Int, axis: Char, ge: Boolean, bound: String): String = {
    val prev = if (k == 1) "r0" else s"r${k - 1}"
    val v = if (axis == 'x') "x" else "y"
    val sv = if (axis == 'x') "sx_" else "sy_"
    val cmp = if (ge) ">=" else "<="
    val (ix, iy) =
      if (axis == 'x') (bound, s"sy_ + ((y - sy_) * ($bound - sx_)) // (x - sx_)")
      else (s"sx_ + ((x - sx_) * ($bound - sy_)) // (y - sy_)", bound)
    s"""e$k AS (
        SELECT *,
          COALESCE(LAG(x) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord),
            LAST_VALUE(x) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS sx_,
          COALESCE(LAG(y) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord),
            LAST_VALUE(y) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS sy_
        FROM $prev),
      r$k AS (
        SELECT poly_id, xt, yt, xlo, ylo, xhi, yhi, ord * 2 + j AS ord,
          CASE WHEN j = 1 THEN x ELSE $ix END AS x,
          CASE WHEN j = 1 THEN y ELSE $iy END AS y
        FROM e$k, (VALUES (0), (1)) jj(j)
        WHERE (j = 1 AND $v $cmp $bound)
           OR (j = 0 AND (($v $cmp $bound) <> ($sv $cmp $bound))))"""
  }

  /** The per-piece CTE chain up to `pieces` (poly_id, xt, yt, n_vert,
    * area2_clip, bbox), shared by both oracles. */
  private val piecesSql: String = {
    val gen = clipGenCols.map { case (e, n) => s"$e AS $n" }.mkString(", ")
    s"""g AS (SELECT s_suppkey AS poly_id, $gen FROM supplier),
      g2 AS (SELECT *, unnest(generate_series((cx - a - abs(sx)) // $T,
               (cx + a + abs(sx)) // $T)) AS xt FROM g),
      g3 AS (SELECT *, unnest(generate_series((cy - b) // $T,
               (cy + b) // $T)) AS yt FROM g2),
      r0 AS (
        SELECT poly_id, xt, yt,
          xt * $T AS xlo, yt * $T AS ylo,
          xt * $T + $T AS xhi, yt * $T + $T AS yhi,
          unnest([0, 1, 2, 3]) AS ord,
          unnest([cx - a - sx, cx + a - sx, cx + a + sx, cx - a + sx]) AS x,
          unnest([cy - b, cy - b, cy + b, cy + b]) AS y
        FROM g3),
      ${shStage(1, 'x', ge = true, "xlo")},
      ${shStage(2, 'x', ge = false, "xhi")},
      ${shStage(3, 'y', ge = true, "ylo")},
      ${shStage(4, 'y', ge = false, "yhi")},
      fin AS (
        SELECT poly_id, xt, yt, x, y,
          COALESCE(LEAD(x) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord),
            FIRST_VALUE(x) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS nx,
          COALESCE(LEAD(y) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord),
            FIRST_VALUE(y) OVER (PARTITION BY poly_id, xt, yt ORDER BY ord
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)) AS ny
        FROM r4),
      pieces AS (
        SELECT poly_id, xt, yt, COUNT(*) AS n_vert,
          ABS(CAST(SUM(x * ny - nx * y) AS BIGINT)) AS area2_clip,
          MIN(x) AS clip_xmin, MIN(y) AS clip_ymin,
          MAX(x) AS clip_xmax, MAX(y) AS clip_ymax
        FROM fin GROUP BY poly_id, xt, yt
        HAVING ABS(CAST(SUM(x * ny - nx * y) AS BIGINT)) > 0)"""
  }

  val qTileClipSql: String =
    s"""WITH $piecesSql
      SELECT poly_id, xt, yt, n_vert, area2_clip,
        clip_xmin, clip_ymin, clip_xmax, clip_ymax
      FROM pieces ORDER BY poly_id, xt, yt"""

  val qTileClipStatsSql: String =
    s"""WITH $piecesSql
      SELECT xt, yt, COUNT(*) AS n_pieces,
        CAST(SUM(area2_clip) AS BIGINT) AS sum_area2,
        MAX(n_vert) AS max_vert
      FROM pieces GROUP BY xt, yt ORDER BY xt, yt"""

  val registry: Seq[Query] = Seq(
    Query("q_tile_clip", qTileClip, Oracle(qTileClipSql)),
    Query("q_tile_clip_stats", qTileClipStats, Oracle(qTileClipStatsSql)))
}
