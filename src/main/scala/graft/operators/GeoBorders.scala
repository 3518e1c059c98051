package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — SHARED-BORDER DETECTION + SIMPLIFY-ONCE: tippecanoe's
  * `--detect-shared-borders` (ref processing.py:246, 337 — passed to
  * EVERY tippecanoe invocation). When two polygons share a border
  * (admin boundaries, parcels), tippecanoe detects the shared edge and
  * simplifies it IDENTICALLY on both sides so no slivers open between
  * the simplified polygons. b42 simplifies each polyline independently;
  * this module adds the missing half: edges keyed by their CANONICAL
  * (endpoint-sorted) form, ownership counted, each DISTINCT edge
  * simplified EXACTLY ONCE (b42's `graft_dp` kernel, z6 tolerance),
  * and the one verdict joined back to every owner — both owners of a
  * shared border emit the identical simplified chain by construction.
  *
  * Geometry model: features are grid cells (gx = f mod 100,
  * gy = f div 100 — parcels in a 100-wide fabric); each cell's ring
  * decomposes into 4 borders (L/R/B/T). A border's canonical key is
  * its grid-line identity `t-ex-ey` (V = the vertical line segment at
  * x-index ex spanning cell row ey; H = the horizontal one) — exactly
  * the endpoint-sorted canonical form, precomputed: both owners of an
  * interior border derive the SAME key, boundary borders have one
  * owner. The border's vertex chain (8 lattice vertices, b42's jitter
  * template keyed by the CANONICAL k, so both owners see one geometry)
  * carries b42's planted cases: k ≡ 0 (mod 13) collinear (must
  * collapse to mask 0x81), k ≡ 0 (mod 17) spike at vertex 4 (must
  * survive).
  *
  * Shape at 100 TB: border explode is map-only (4× features); ONE
  * edge-keyed exchange dedups borders to their canonical owner set
  * (count = ownership); `graft_dp` runs map-only on the DISTINCT
  * edges (half the work of per-owner simplification on a filled
  * fabric); one shuffle join fans the verdict back to owners. The
  * alternative — simplify per owner — does 2× the DP AND breaks the
  * no-sliver guarantee whenever tie-breaks or ring context diverge.
  *
  * Oracle: DuckDB re-derives ownership by the same canonical-key
  * grouping and replays DP per distinct edge with b42's unrolled
  * 6-level BFS chain (independent machinery, same strict >, same
  * smallest-index tie-break).
  */
object GeoBorders {

  private val primes = Seq(7919L, 12553L, 17389L, 23311L, 29443L, 37199L, 42643L, 50021L)

  /** b42's vertex-y template over the CANONICAL border key k. */
  private def yS(i: Int): String = {
    val spike = if (i == 4) " + CASE WHEN k % 17 = 0 THEN 1000 ELSE 0 END" else ""
    s"(CASE WHEN k % 13 = 0 THEN k * 7919 % 1200 ELSE k * ${primes(i)} % 1200$spike END)"
  }
  private val xVals = (0 to 7).map(i => 400L * i)

  /** b57 — `q_shared_borders`: per (feature, side) the border's
    * canonical key, its owner count, and the ONE simplification
    * verdict (kept-vertex bitmask + kept count at z6 tol²=1024) both
    * owners share. */
  def qSharedBorders(spark: SparkSession, dir: String): DataFrame = {
    val owners = Tables(spark, dir, "part")
      .select(col("p_partkey").cast("long").as("f"))
      .withColumn("side", explode(expr("array('B', 'L', 'R', 'T')")))
      .withColumn("t", expr("CASE WHEN side IN ('L', 'R') THEN 'V' ELSE 'H' END"))
      .withColumn("ex", expr("CASE WHEN side = 'R' THEN f % 100 + 1 ELSE f % 100 END"))
      .withColumn("ey", expr("CASE WHEN side = 'T' THEN f div 100 + 1 ELSE f div 100 END"))
      .withColumn("bkey", expr(
        "concat(t, '-', CAST(ex AS STRING), '-', CAST(ey AS STRING))"))
      .withColumn("k", expr(
        "ex * 4099 + ey * 2003 + CASE WHEN t = 'V' THEN 1 ELSE 2 END"))
    // the canonical-edge dedup: ONE edge-keyed exchange; k is a pure
    // function of the key, so min(k) = the shared geometry key
    val edges = owners.groupBy("bkey")
      .agg(min(col("k")).as("k"), count(lit(1)).as("n_owners"))
      .withColumn("xs", expr(s"array(${xVals.map(v => s"${v}L").mkString(", ")})"))
      .withColumn("ys", expr(
        s"array(${(0 to 7).map(i => s"CAST(${yS(i)} AS BIGINT)").mkString(", ")})"))
      .withColumn("dp", expr("graft_dp(xs, ys, CAST(1024 AS BIGINT))"))
      .select(col("bkey"), col("n_owners"),
        expr("dp[0]").as("kept_mask"), expr("dp[1]").as("n_kept"))
    owners.select("f", "side", "bkey")
      .join(edges, "bkey")
      .select(col("f"), col("side"), col("bkey"), col("n_owners"),
        expr("CAST(n_owners > 1 AS BOOLEAN)").as("shared"),
        col("kept_mask"), col("n_kept"))
      .orderBy("f", "side")
  }

  // ---- DuckDB oracle: ownership by canonical key + b42's BFS DP ----

  /** One DP BFS level over the distinct-edge verts (b42's dpLevel with
    * the border key as the partition identity and a single tolerance). */
  private def dpLevel(k: Int): String = {
    val prev = s"seg${k - 1}"
    s"""cand$k AS (
        SELECT s.bkey, s.tol2, s.lo, s.hi,
          s.xlo, s.ylo, s.xhi, s.yhi, v.i, v.x, v.y,
          ((s.xhi - s.xlo) * (v.y - s.ylo) - (s.yhi - s.ylo) * (v.x - s.xlo))
            * ((s.xhi - s.xlo) * (v.y - s.ylo) - (s.yhi - s.ylo) * (v.x - s.xlo)) AS c2
        FROM $prev s JOIN verts v
          ON v.bkey = s.bkey AND v.i > s.lo AND v.i < s.hi),
      best$k AS (
        SELECT *, (xhi - xlo) * (xhi - xlo) + (yhi - ylo) * (yhi - ylo) AS len2
        FROM (SELECT *, ROW_NUMBER() OVER (
            PARTITION BY bkey, lo, hi ORDER BY c2 DESC, i ASC) AS rn
          FROM cand$k) b WHERE rn = 1),
      split$k AS (SELECT * FROM best$k WHERE c2 > tol2 * len2),
      seg$k AS (
        SELECT bkey, tol2, lo, i AS hi, xlo, ylo, x AS xhi, y AS yhi
        FROM split$k
        UNION ALL
        SELECT bkey, tol2, i AS lo, hi, x AS xlo, y AS ylo, xhi, yhi
        FROM split$k)"""
  }

  val qSharedBordersSql: String = {
    val ys = (0 to 7).map(i => s"CAST(${yS(i)} AS BIGINT)").mkString(", ")
    val xs = xVals.map(v => s"CAST($v AS BIGINT)").mkString(", ")
    val levels = (1 to 6).map(dpLevel).mkString(",\n      ")
    s"""WITH ftr AS (SELECT CAST(p_partkey AS BIGINT) AS f FROM part),
      own AS (
        SELECT f, side,
          CASE WHEN side IN ('L', 'R') THEN 'V' ELSE 'H' END AS t,
          CASE WHEN side = 'R' THEN f % 100 + 1 ELSE f % 100 END AS ex,
          CASE WHEN side = 'T' THEN f // 100 + 1 ELSE f // 100 END AS ey
        FROM ftr, (VALUES ('B'), ('L'), ('R'), ('T')) s(side)),
      own2 AS (
        SELECT f, side,
          t || '-' || CAST(ex AS VARCHAR) || '-' || CAST(ey AS VARCHAR) AS bkey,
          ex * 4099 + ey * 2003 + CASE WHEN t = 'V' THEN 1 ELSE 2 END AS k
        FROM own),
      db AS (SELECT bkey, MIN(k) AS k, COUNT(*) AS n_owners FROM own2 GROUP BY bkey),
      verts AS (
        SELECT bkey, CAST(1024 AS BIGINT) AS tol2,
          unnest([0, 1, 2, 3, 4, 5, 6, 7]) AS i,
          unnest([$xs]) AS x,
          unnest([$ys]) AS y
        FROM db),
      seg0 AS (
        SELECT a.bkey, a.tol2, 0 AS lo, 7 AS hi,
          a.x AS xlo, a.y AS ylo, b.x AS xhi, b.y AS yhi
        FROM verts a JOIN verts b ON a.bkey = b.bkey
        WHERE a.i = 0 AND b.i = 7),
      $levels,
      keptall AS (
        SELECT bkey, i FROM verts WHERE i IN (0, 7)
        ${(1 to 6).map(k => s"UNION ALL SELECT bkey, i FROM split$k").mkString("\n        ")}),
      kagg AS (
        SELECT bkey,
          CAST(SUM(CAST(1 AS BIGINT) << i) AS BIGINT) AS kept_mask,
          COUNT(*) AS n_kept
        FROM keptall GROUP BY bkey)
      SELECT o.f, o.side, o.bkey, d.n_owners,
        d.n_owners > 1 AS shared, g.kept_mask, g.n_kept
      FROM own2 o JOIN db d ON o.bkey = d.bkey JOIN kagg g ON o.bkey = g.bkey
      ORDER BY o.f, o.side"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_shared_borders", qSharedBorders, Oracle(qSharedBordersSql)))
}
