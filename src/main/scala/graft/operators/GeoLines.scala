package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — POLYLINE TILE CLIPPING: the LineString half of
  * tippecanoe's per-tile cut (b41 covers polygon rings; a road/track
  * layer is lines, and processing.py:216-402's tiler clips those to
  * each tile's bbox too). Unlike the ring case, a segment-box clip is
  * pure INTERVAL algebra — no Sutherland–Hodgman, no kernel: with
  * x-monotone segments of slope m ∈ {−1, 0, +1} (b41's exactness
  * discipline), the in-tile sub-segment is
  * [max(x1, xlo, x_enter_y), min(x2, xhi, x_exit_y)] with every bound
  * an exact integer — a closed-form CASE both engines execute from ONE
  * shared template string.
  *
  * Length accounting uses the L1 metric (|Δx| + |Δy|): under the slope
  * discipline it is (xe − xs)·(1 + |m|), EXACT int64, and — the
  * property the spec pins — ADDITIVE under tile splitting, so the
  * pieces of a line sum to exactly its total length (the generator
  * keeps horizontal runs off tile boundaries: y ≡ 1 mod gcd(step, T)
  * can never hit a boundary multiple, so no piece is double-owned).
  *
  * Shape at 100 TB: map-only vertex synthesis → bounded segment
  * explode (7 per line) → bounded tile explode (a segment meets ≤4
  * tiles) → closed-form clip → ONE (line, tile)-keyed agg. */
object GeoLines {

  private val S = 900000L   // x step per segment, µdeg
  private val T = 5625000L  // tile pitch — b41's z=6 grid
  private val primes = Seq(7919L, 12553L, 17389L, 23311L, 29443L, 37199L, 42643L)

  // per-segment y deltas: d_j = (k·p_j mod 3 − 1)·S → slope ∈ {−1,0,1}
  private def dS(j: Int) = s"((k * ${primes(j - 1)} % 3 - 1) * $S)"
  // cumulative vertex y after i segments. Boundary-avoidance proof:
  // y0 is snapped to a multiple of 225000 = gcd(S, T) plus 10000001,
  // and every delta is a multiple of 225000, so y ≡ 10000001 ≡ 100001
  // (mod 225000) forever — tile boundaries are ≡ 0 — hence no
  // horizontal run can ever LIE ON a boundary and be double-owned by
  // the two adjacent tiles (which would break the exact L1 partition)
  private def cumY(i: Int): String =
    (1 to i).map(dS).foldLeft("(y0")(_ + " + " + _) + ")"
  private val y1S = (1 to 7).map(j => s"WHEN $j THEN ${cumY(j - 1)}")
    .mkString("CASE j ", " ", " END")
  private val y2S = (1 to 7).map(j => s"WHEN $j THEN ${cumY(j)}")
    .mkString("CASE j ", " ", " END")
  private val mS = (1 to 7).map(j => s"WHEN $j THEN (k * ${primes(j - 1)} % 3 - 1)")
    .mkString("CASE j ", " ", " END")

  // the closed-form clip (shared strings): enter/exit x of the
  // y-window per slope, intersected with the segment and the tile's
  // x-window; a piece exists iff xs < xe (and for horizontal segments
  // the run's y sits inside the tile)
  private val xsS =
    """greatest(greatest(x1, xlo),
       CASE m WHEN 1 THEN x1 + (ylo - y1) WHEN -1 THEN x1 + (y1 - yhi) ELSE x1 END)"""
  private val xeS =
    """least(least(x2, xhi),
       CASE m WHEN 1 THEN x1 + (yhi - y1) WHEN -1 THEN x1 + (y1 - ylo) ELSE x2 END)"""
  private val pieceS = "(xs < xe AND (m <> 0 OR (y1 >= ylo AND y1 <= yhi)))"
  private val lenS = "((xe - xs) * (1 + abs(m)))"

  /** b43 — `q_line_clip`: per (line, tile) the clipped piece count and
    * the exact L1 length the tile renders. */
  def qLineClip(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    c.select(col("c_custkey").as("line_id"))
      .withColumn("k", col("line_id").cast("long"))
      .withColumn("x0", expr("k * 7717 % 300000000"))
      .withColumn("y0", expr("k * 104729 % 120000000 div 225000 * 225000 + 10000001"))
      .withColumn("j", explode(sequence(lit(1), lit(7))))
      .withColumn("x1", expr(s"x0 + (j - 1) * $S"))
      .withColumn("x2", expr(s"x0 + j * $S"))
      .withColumn("y1", expr(y1S))
      .withColumn("y2", expr(y2S))
      .withColumn("m", expr(mS))
      .withColumn("xt", explode(sequence(
        expr(s"x1 div $T"), expr(s"x2 div $T"))))
      .withColumn("yt", explode(sequence(
        expr(s"least(y1, y2) div $T"), expr(s"greatest(y1, y2) div $T"))))
      .withColumn("xlo", expr(s"xt * $T")).withColumn("xhi", expr(s"xt * $T + $T"))
      .withColumn("ylo", expr(s"yt * $T")).withColumn("yhi", expr(s"yt * $T + $T"))
      .withColumn("xs", expr(xsS))
      .withColumn("xe", expr(xeS))
      .filter(expr(pieceS))
      .groupBy("line_id", "xt", "yt")
      .agg(count(lit(1)).as("n_segments"),
        sum(expr(lenS)).as("len_l1"))
      .orderBy("line_id", "xt", "yt")
  }

  val qLineClipSql: String =
    s"""WITH g AS (
          SELECT c_custkey AS line_id, CAST(c_custkey AS BIGINT) AS k,
            CAST(c_custkey AS BIGINT) * 7717 % 300000000 AS x0,
            CAST(c_custkey AS BIGINT) * 104729 % 120000000 // 225000 * 225000 + 10000001 AS y0
          FROM customer),
        segs AS (
          SELECT *, unnest(generate_series(1, 7)) AS j FROM g),
        sv AS (
          SELECT line_id, x0 + (j - 1) * $S AS x1, x0 + j * $S AS x2,
            $y1S AS y1, $y2S AS y2, $mS AS m
          FROM segs),
        tx AS (
          SELECT *, unnest(generate_series(x1 // $T, x2 // $T)) AS xt FROM sv),
        ty AS (
          SELECT *, unnest(generate_series(least(y1, y2) // $T,
            greatest(y1, y2) // $T)) AS yt FROM tx),
        boxed AS (
          SELECT *, xt * $T AS xlo, xt * $T + $T AS xhi,
            yt * $T AS ylo, yt * $T + $T AS yhi
          FROM ty),
        clipped AS (
          SELECT *, $xsS AS xs, $xeS AS xe FROM boxed)
      SELECT line_id, xt, yt, COUNT(*) AS n_segments,
        CAST(SUM($lenS) AS BIGINT) AS len_l1
      FROM clipped WHERE $pieceS
      GROUP BY line_id, xt, yt ORDER BY line_id, xt, yt"""

  /** Exact total L1 length of line k's 7 segments (the partition
    * invariant's right-hand side — used by GeoInvariantsSpec). */
  private[graft] def totalL1(k: Long): Long =
    (1 to 7).map { j =>
      val d = (k * primes(j - 1) % 3 - 1) * S
      S + math.abs(d)
    }.sum

  val registry: Seq[Query] = Seq(
    Query("q_line_clip", qLineClip, Oracle(qLineClipSql)))
}
