package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — ANTIMERIDIAN WRAP SPLITTING (ogr2ogr
  * `-wrapdateline` / the dateline handling every world-spanning tiler
  * does): a feature whose longitude extent crosses ±180° is ONE
  * feature on the sphere but TWO disjoint boxes in the [−180°, 180°)
  * tile plane — render it unsplit and it smears as a world-wide band
  * (the classic Fiji/Chukotka bug). The reference hands vector
  * conversion to ogr2ogr (processing.py:142 family), which performs
  * exactly this split before tippecanoe tiles.
  *
  * Integer discipline: everything in µdeg int64 — a feature is a
  * lon-interval [cx−a, cx+a] with cx spanning the FULL wrapped range
  * and planted edge densities; wrap-east (cx+a > 180e6) splits into
  * [cx−a, 180e6) ∪ [−180e6, cx+a−360e6), wrap-west symmetric; piece
  * tile spans use b3's z=6 x-pitch (5 625 000 µdeg) with the east
  * boundary clamped to tile 63 — all floor divisions of SHIFTED
  * non-negative ints (x+180e6 ≥ 0), so both engines agree exactly.
  * The two pieces' tile sets are disjoint by construction (piece 1
  * ends at the seam's east tile, piece 2 starts at tile 0), so the
  * per-feature total is a plain sum — the invariant the spec pins:
  * total tiles ≡ what the UNWRAPPED interval would cover if the world
  * were cylindrical.
  *
  * Shape at 100 TB: map-only synth → bounded ≤2-piece explode →
  * in-row tile-span algebra; zero shuffles before the output sort.
  */
object GeoWrap {

  private val W = 360000000L // full world in µdeg
  private val H = 180000000L
  private val T = 5625000L   // z=6 x-pitch (360e6 / 64)

  /** b59 — `q_wrap_split`: per (feature, piece): the piece's lon
    * bounds, its z=6 tile x-span, and the wrap verdict. */
  def qWrapSplit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(col("p_partkey").cast("long").as("f"))
      // center spans the full range; keys ≡ 0 (mod 7) pin NEAR THE
      // SEAM (the planted wrap class — uniform hash centers make
      // wraps vanishingly rare at small sf)
      .withColumn("cx", expr(
        s"""CASE WHEN f % 7 = 0
              THEN (CASE WHEN f % 2 = 0 THEN $H ELSE -$H END)
                   - (CASE WHEN f % 2 = 0 THEN 1 ELSE -1 END) * (f * 2654435761 % 8000000)
              ELSE f * 15485863 % $W - $H END"""))
      .withColumn("a", expr("f % 7 * 1000000 + 5000000"))
      .withColumn("wrap_east", expr(s"cx + a > $H"))
      .withColumn("wrap_west", expr(s"cx - a < -$H"))
      .withColumn("wrapped", expr("wrap_east OR wrap_west"))
      .withColumn("piece", explode(expr(
        "CASE WHEN wrapped THEN array(0, 1) ELSE array(0) END")))
      .withColumn("lo", expr(
        s"""CASE WHEN NOT wrapped THEN cx - a
                 WHEN wrap_east THEN (CASE piece WHEN 0 THEN cx - a ELSE -$H END)
                 ELSE (CASE piece WHEN 0 THEN -$H ELSE cx - a + $W END) END"""))
      .withColumn("hi", expr(
        s"""CASE WHEN NOT wrapped THEN cx + a
                 WHEN wrap_east THEN (CASE piece WHEN 0 THEN $H ELSE cx + a - $W END)
                 ELSE (CASE piece WHEN 0 THEN cx + a ELSE $H END) END"""))
      // z=6 x-tile span: shifted floor division; the east boundary is
      // exclusive (hi = 180e6 maps to tile 63, not a phantom tile 64)
      .withColumn("xt_lo", expr(s"(lo + $H) div $T"))
      .withColumn("xt_hi", expr(s"least((hi + $H - 1) div $T, 63L)"))
      .withColumn("n_tiles", expr("xt_hi - xt_lo + 1"))
      .select("f", "piece", "wrapped", "lo", "hi", "xt_lo", "xt_hi", "n_tiles")
      .orderBy("f", "piece")
  }

  val qWrapSplitSql: String =
    s"""WITH ftr AS (SELECT CAST(p_partkey AS BIGINT) AS f FROM part),
      g AS (
        SELECT f,
          CASE WHEN f % 7 = 0
            THEN (CASE WHEN f % 2 = 0 THEN $H ELSE -$H END)
                 - (CASE WHEN f % 2 = 0 THEN 1 ELSE -1 END) * (f * 2654435761 % 8000000)
            ELSE f * 15485863 % $W - $H END AS cx,
          f % 7 * 1000000 + 5000000 AS a
        FROM ftr),
      w AS (
        SELECT *, cx + a > $H AS wrap_east, cx - a < -$H AS wrap_west,
          (cx + a > $H OR cx - a < -$H) AS wrapped
        FROM g),
      pc AS (
        SELECT w.*, u.piece
        FROM w, unnest(CASE WHEN wrapped THEN [0, 1] ELSE [0] END) AS u(piece)),
      b AS (
        SELECT f, piece, wrapped,
          CASE WHEN NOT wrapped THEN cx - a
               WHEN wrap_east THEN (CASE piece WHEN 0 THEN cx - a ELSE -$H END)
               ELSE (CASE piece WHEN 0 THEN -$H ELSE cx - a + $W END) END AS lo,
          CASE WHEN NOT wrapped THEN cx + a
               WHEN wrap_east THEN (CASE piece WHEN 0 THEN $H ELSE cx + a - $W END)
               ELSE (CASE piece WHEN 0 THEN cx + a ELSE $H END) END AS hi
        FROM pc)
      SELECT f, CAST(piece AS INT) AS piece, wrapped, lo, hi,
        (lo + $H) // $T AS xt_lo,
        least((hi + $H - 1) // $T, 63) AS xt_hi,
        least((hi + $H - 1) // $T, 63) - (lo + $H) // $T + 1 AS n_tiles
      FROM b ORDER BY f, piece"""

  val registry: Seq[Query] = Seq(
    Query("q_wrap_split", qWrapSplit, Oracle(qWrapSplitSql)))
}
