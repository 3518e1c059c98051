package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 B (depth) — general polygon geometry: containment for CONCAVE +
  * HOLED rings and true `-makevalid` self-intersection repair (ref
  * processing.py:138-144 `-makevalid -skipfailures`; b7 covered only
  * the skipfailures half, b24 only convex quads).
  *
  * Discipline shared with b24: geometry is integer micro-degrees END
  * TO END — rings are synthesized from supplier keys as exact BIGINT
  * lattice vertices, points live on the same lattice, and every
  * predicate (ray crossing, orientation, shoelace) is exact 64-bit
  * integer arithmetic with zero epsilon and zero float drift
  * cross-engine. Each geometric test is generated ONCE as a SQL
  * template string and executed verbatim by both Spark (`expr`) and
  * the DuckDB oracle.
  */
object GeoGeom {

  // ---- shared integer segment/ray predicates (template strings) ----

  /** Exact ray-cast crossing term for edge (xi,yi)→(xj,yj) against the
    * +x horizontal ray from (px,py): 1 when the edge straddles py's
    * level (half-open, strict >) and the intersection is right of px —
    * the division-free form compares the cross product against zero
    * with the sign of (yj−yi). Pure int64: |py−yi| ≤ 2.4e8 and
    * |xj−xi| ≤ 2.4e7 keep products ≤ 6e15. */
  private def rayTerm(xi: String, yi: String, xj: String, yj: String): String =
    s"""(CASE WHEN (($yi > py) <> ($yj > py)) AND
          (CASE WHEN $yj > $yi
            THEN (px - ($xi)) * (($yj) - ($yi)) < (py - ($yi)) * (($xj) - ($xi))
            ELSE (px - ($xi)) * (($yj) - ($yi)) > (py - ($yi)) * (($xj) - ($xi)) END)
        THEN 1 ELSE 0 END)"""

  /** Even-odd crossing count over a ring given as vertex-expression
    * pairs (closed implicitly: last→first). */
  private def crossings(ring: Seq[(String, String)]): String =
    ring.indices.map { i =>
      val (xi, yi) = ring(i)
      val (xj, yj) = ring((i + 1) % ring.length)
      rayTerm(xi, yi, xj, yj)
    }.mkString("(", " + ", ")")

  /** Exact orientation of P relative to directed segment A→B. */
  private def orient(ax: String, ay: String, bx: String, by: String,
      px: String, py: String): String =
    s"((($bx) - ($ax)) * (($py) - ($ay)) - ((($by) - ($ay)) * (($px) - ($ax))))"

  /** Proper-intersection test of segments P1P2 and P3P4 (strict signs:
    * shared endpoints / collinear touching do NOT count — adjacency in
    * a ring is never a self-intersection). */
  private def segCross(p1: (String, String), p2: (String, String),
      p3: (String, String), p4: (String, String)): String = {
    val d1 = orient(p3._1, p3._2, p4._1, p4._2, p1._1, p1._2)
    val d2 = orient(p3._1, p3._2, p4._1, p4._2, p2._1, p2._2)
    val d3 = orient(p1._1, p1._2, p2._1, p2._2, p3._1, p3._2)
    val d4 = orient(p1._1, p1._2, p2._1, p2._2, p4._1, p4._2)
    s"""((($d1 > 0 AND $d2 < 0) OR ($d1 < 0 AND $d2 > 0))
     AND (($d3 > 0 AND $d4 < 0) OR ($d3 < 0 AND $d4 > 0)))"""
  }

  /** Shoelace 2·area (signed) of a ring of vertex-expression pairs. */
  private def shoelace2(ring: Seq[(String, String)]): String =
    ring.indices.map { i =>
      val (xi, yi) = ring(i)
      val (xj, yj) = ring((i + 1) % ring.length)
      s"((($xi) * (($yj)) - (($xj)) * (($yi))))"
    }.mkString("(", " + ", ")")

  // ---- b35: concave + holed containment ----------------------------

  // Concave 8-gon star from supplier keys (CCW): the edge midpoints
  // pull inward (d = b/2 < b, e = a/2 < a ⇒ 4 reflex notches), plus a
  // rectangular HOLE at the core (half-extents e/4 × d/4, inside the
  // |x|/e + |y|/d ≤ 1 central diamond, so it never touches the outer
  // ring). All derived extents are generated directly from the key
  // (never divided in-query — `/` yields DOUBLE in both engines and
  // would break the exact-int64 discipline).
  private val starGenCols = Seq(
    "CAST(s_suppkey AS BIGINT) * 15485863 % 300000000 - 150000000 + 180000000" -> "cx",
    "CAST(s_suppkey AS BIGINT) * 32452843 % 120000000 - 60000000 + 85000000" -> "cy",
    "CAST(s_suppkey AS BIGINT) % 7 * 1000000 + 5000000" -> "a",
    "CAST(s_suppkey AS BIGINT) % 5 * 1000000 + 3000000" -> "b",
    "CAST(s_suppkey AS BIGINT) % 7 * 500000 + 2500000" -> "e",    // = a/2
    "CAST(s_suppkey AS BIGINT) % 5 * 500000 + 1500000" -> "d",    // = b/2
    "CAST(s_suppkey AS BIGINT) % 7 * 125000 + 625000" -> "hw",    // = e/4
    "CAST(s_suppkey AS BIGINT) % 5 * 125000 + 375000" -> "hh")    // = d/4
  private val starRing: Seq[(String, String)] = Seq(
    ("cx - a", "cy - b"), ("cx", "cy - d"), ("cx + a", "cy - b"),
    ("cx + e", "cy"), ("cx + a", "cy + b"), ("cx", "cy + d"),
    ("cx - a", "cy + b"), ("cx - e", "cy"))
  private val holeRing: Seq[(String, String)] = Seq(
    ("cx - hw", "cy - hh"), ("cx + hw", "cy - hh"),
    ("cx + hw", "cy + hh"), ("cx - hw", "cy + hh"))
  private[graft] val insideOuterS = s"${crossings(starRing)} % 2 = 1"
  private[graft] val inHoleS = s"${crossings(holeRing)} % 2 = 1"

  /** b35 — `q_point_in_concave`: point-in-polygon containment join for
    * CONCAVE rings WITH HOLES (the general case b24's four-cross-test
    * convex quads cannot express; tippecanoe clips against arbitrary
    * OGC polygons, ref processing.py:236-255). Division-free exact
    * integer ray cast, even-odd over outer+hole edges. The O(points ×
    * polygons) blow-up is blocked exactly like b24: polygons explode
    * into the ≤9 2²⁴-µdeg grid cells their bbox covers (broadcast),
    * each point lands in exactly one cell, the exact 12-edge test runs
    * only on cell-collocated candidates — at 100 TB the points side
    * stays map-only under a broadcast hash probe. Oracle is the naive
    * exact cross join over the SAME template strings: blocking must
    * not change results. */
  def qPointInConcave(spark: SparkSession, dir: String): DataFrame = {
    val cell = 16777216L
    val s = Tables(spark, dir, "supplier")
    val g0 = starGenCols.foldLeft(
      s.select(col("s_suppkey").as("poly_id"), col("s_suppkey"))) {
        case (df, (e, n)) => df.withColumn(n, expr(e)) }
      .drop("s_suppkey")
    // ring vertex arrays for the native graft_ray_cross kernel — the
    // declarative 8-edge template (insideOuterS, kept as the ORACLE
    // and the spec reference) expands to a ~4 KB tree that defeats
    // whole-stage codegen; fused into the join it dragged the probe
    // to interpreted evaluation over every cell-mate (49.7 s at 10×
    // GenTpch → candidate-bounded with the kernel)
    val polyCells = g0
      .withColumn("oxs", expr(
        "array(cx - a, cx, cx + a, cx + e, cx + a, cx, cx - a, cx - e)"))
      .withColumn("oys", expr(
        "array(cy - b, cy - d, cy - b, cy, cy + b, cy + d, cy + b, cy)"))
      .withColumn("hxs", expr("array(cx - hw, cx + hw, cx + hw, cx - hw)"))
      .withColumn("hys", expr("array(cy - hh, cy - hh, cy + hh, cy + hh)"))
      .withColumn("gxl", explode(sequence(
        expr(s"(cx - a) div $cell"), expr(s"(cx + a) div $cell"))))
      .withColumn("gyl", explode(sequence(
        expr(s"(cy - b) div $cell"), expr(s"(cy + b) div $cell"))))
    val pts = Tables.events(spark, dir).select(col("event_id"),
        (col("event_id") * 2654435761L % 360000000L).as("px"),
        (col("event_id") * 1327217873L % 170000000L).as("py"))
      .withColumn("cxl", expr(s"px div $cell"))
      .withColumn("cyl", expr(s"py div $cell"))
    // filter on the OUTER ring; the hole splits the tally — containment
    // with the hole is n_points (= inside outer AND NOT in hole, the
    // even-odd verdict), n_in_hole the points the hole excluded.
    // The bbox gate lives IN THE JOIN CONDITION: cell-collocation
    // admits every polygon sharing the point's 2²⁴-µdeg cell (~1.8k
    // per cell in the dense 100× GenTpch regime), the four integer
    // comparisons compile inside the BroadcastHashJoin probe, and the
    // exact ray cast (the small native kernel) only ever runs on bbox
    // survivors — the true-overlap set.
    pts.join(broadcast(polyCells),
        col("cxl") === col("gxl") && col("cyl") === col("gyl") &&
          col("px") >= col("cx") - col("a") && col("px") <= col("cx") + col("a") &&
          col("py") >= col("cy") - col("b") && col("py") <= col("cy") + col("b"))
      .filter(expr("graft_ray_cross(px, py, oxs, oys) % 2 = 1"))
      .withColumn("in_hole", expr("graft_ray_cross(px, py, hxs, hys) % 2 = 1"))
      .groupBy("poly_id")
      .agg(sum(when(col("in_hole"), 0L).otherwise(1L)).as("n_points"),
        sum(when(col("in_hole"), 1L).otherwise(0L)).as("n_in_hole"))
      .orderBy("poly_id")
  }

  val qPointInConcaveSql: String = {
    val gen = starGenCols.map { case (e, n) => s"$e AS $n" }.mkString(", ")
    s"""WITH p AS (
          SELECT event_id, event_id * 2654435761 % 360000000 AS px,
                 event_id * 1327217873 % 170000000 AS py FROM events),
        g AS (SELECT s_suppkey AS poly_id, $gen FROM supplier)
      SELECT poly_id,
        CAST(SUM(CASE WHEN $inHoleS THEN 0 ELSE 1 END) AS BIGINT) AS n_points,
        CAST(SUM(CASE WHEN $inHoleS THEN 1 ELSE 0 END) AS BIGINT) AS n_in_hole
      FROM p, g
      WHERE $insideOuterS
      GROUP BY poly_id ORDER BY poly_id"""
  }

  // ---- b36: true makevalid — self-intersection repair-or-drop ------

  // b24's parallelogram ring, with two planted defect classes the
  // DETECTOR (not the generator) must find: keys ≡ 0 (mod 4) emit the
  // ring with its last two vertices swapped (a bowtie — the two
  // diagonals properly cross), keys ≡ 0 (mod 11) collapse b to 0
  // (zero-area sliver). Detection is purely geometric: shoelace = 0 ⇒
  // degenerate, else either non-adjacent edge pair properly crossing ⇒
  // self-intersecting.
  /** The defect-planting quad generator, key-parametric: b36 keys it
    * on s_suppkey; b28's capstone reuses it VERBATIM keyed on event_id
    * (each feature carries a ring whose validity the capstone's
    * makevalid stage must judge before tiling). */
  private[graft] def quadGenColsFor(key: String) = Seq(
    s"CAST($key AS BIGINT) * 15485863 % 300000000 - 150000000 + 180000000" -> "cx",
    s"CAST($key AS BIGINT) * 32452843 % 120000000 - 60000000 + 85000000" -> "cy",
    s"CAST($key AS BIGINT) % 7 * 1000000 + 5000000" -> "a",
    s"CASE WHEN $key % 11 = 0 THEN 0 ELSE CAST($key AS BIGINT) % 5 * 1000000 + 3000000 END" -> "b",
    s"(CAST($key AS BIGINT) % 9 - 4) * 1000000" -> "sx",
    s"CAST($key AS BIGINT) % 4 = 0" -> "swapped")
  private val quadGenCols = quadGenColsFor("s_suppkey")
  // ring as GIVEN (positions p1..p4; swapped keys exchange p3/p4)
  private val pGiven: Seq[(String, String)] = Seq(
    ("cx - a - sx", "cy - b"), ("cx + a - sx", "cy - b"),
    ("CASE WHEN swapped THEN cx - a + sx ELSE cx + a + sx END", "cy + b"),
    ("CASE WHEN swapped THEN cx + a + sx ELSE cx - a + sx END", "cy + b"))
  private[graft] val degenS = s"${shoelace2(pGiven)} = 0"
  private[graft] val crossS =
    s"(${segCross(pGiven(0), pGiven(1), pGiven(2), pGiven(3))} OR " +
      s"${segCross(pGiven(1), pGiven(2), pGiven(3), pGiven(0))})"
  // repair = exchange p3/p4 (the one quad repair); repaired shoelace
  private val pFixed: Seq[(String, String)] =
    Seq(pGiven(0), pGiven(1), pGiven(3), pGiven(2))
  private[graft] val areaGivenS = shoelace2(pGiven)
  private[graft] val areaFixedS = shoelace2(pFixed)

  /** b36 — `q_make_valid_geom`: the REPAIR half of `-makevalid` (ref
    * processing.py:138-144; b7 models only the drop accounting). Each
    * ring is classified by exact integer geometry — zero shoelace ⇒
    * degenerate sliver (dropped, the skipfailures path), a proper
    * crossing between either non-adjacent edge pair ⇒ bowtie
    * (repaired by the quad vertex exchange, with the repaired ring's
    * |2·area| carried as the makevalid output), else valid. Per-layer
    * accounting mirrors the reference's original/converted report:
    * kept = valid + repaired. Map-only until the per-nation rollup
    * (one shuffle on the 25-key layer column) — the shape a 100 TB
    * ingest validity pass takes. */
  def qMakeValidGeom(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
    val g = quadGenCols.foldLeft(
      s.select(col("s_suppkey").as("poly_id"),
        col("s_nationkey").cast("long").as("layer"), col("s_suppkey"))) {
        case (df, (e, n)) => df.withColumn(n, expr(e)) }
      .drop("s_suppkey")
      // crossing FIRST: a symmetric bowtie's SIGNED shoelace cancels
      // to zero, so degenerate-first would silently drop every
      // repairable ring; a truly degenerate (collinear) ring can never
      // properly cross (all orientations 0 under strict signs)
      .withColumn("status",
        when(expr(crossS), "repaired")
          .when(expr(degenS), "dropped")
          .otherwise("valid"))
      .withColumn("area2_out",
        when(col("status") === "dropped", lit(null).cast("long"))
          .when(col("status") === "repaired", abs(expr(areaFixedS)))
          .otherwise(abs(expr(areaGivenS))))
    g.groupBy("layer")
      .agg(count(lit(1)).as("original"),
        sum(when(col("status") === "valid", 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("status") === "repaired", 1L).otherwise(0L)).as("n_repaired"),
        sum(when(col("status") === "dropped", 1L).otherwise(0L)).as("n_dropped"),
        sum(col("area2_out")).as("sum_area2"))
      .withColumn("converted", col("n_valid") + col("n_repaired"))
      .select("layer", "original", "n_valid", "n_repaired", "n_dropped",
        "converted", "sum_area2")
      .orderBy("layer")
  }

  val qMakeValidGeomSql: String = {
    val gen = quadGenCols.map { case (e, n) => s"$e AS $n" }.mkString(", ")
    s"""WITH g AS (
          SELECT s_suppkey AS poly_id, CAST(s_nationkey AS BIGINT) AS layer, $gen
          FROM supplier),
        c AS (
          SELECT poly_id, layer,
            CASE WHEN $crossS THEN 'repaired'
                 WHEN $degenS THEN 'dropped'
                 ELSE 'valid' END AS status,
            CASE WHEN $crossS THEN ABS($areaFixedS)
                 WHEN $degenS THEN NULL
                 ELSE ABS($areaGivenS) END AS area2_out
          FROM g)
      SELECT layer, COUNT(*) AS original,
        CAST(SUM(CASE WHEN status = 'valid' THEN 1 ELSE 0 END) AS BIGINT) AS n_valid,
        CAST(SUM(CASE WHEN status = 'repaired' THEN 1 ELSE 0 END) AS BIGINT) AS n_repaired,
        CAST(SUM(CASE WHEN status = 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        CAST(SUM(CASE WHEN status IN ('valid', 'repaired') THEN 1 ELSE 0 END) AS BIGINT) AS converted,
        CAST(SUM(area2_out) AS BIGINT) AS sum_area2
      FROM c GROUP BY layer ORDER BY layer"""
  }

  // ---- b37: Hilbert tile ordering (the PMTiles layout key) ---------

  /** b37 — `q_hilbert_key`: Hilbert-curve position of each feature's
    * z=12 tile — the order PMTiles stores tile ids in (tile_id =
    * zoom_offset + hilbert_d; b12's manifest can carry this as its
    * layout column, and i12's clustered rewrite on it reproduces the
    * actual PMTiles archive order, which Morton (b18) only
    * approximates — Morton has 2^k-boundary jumps, Hilbert's
    * consecutive ids are ALWAYS adjacent tiles). The Spark side is the
    * fused codegen'd `graft_hilbert` expression (one loop in
    * whole-stage codegen, zero expression-tree overhead); the oracle
    * re-executes the same public quadrant-rotation recurrence as a
    * 12-step recursive CTE — independent machinery, and HilbertSpec
    * proves bijectivity + adjacency independently of both. Map-only at
    * any scale. */
  def qHilbertKey(spark: SparkSession, dir: String): DataFrame = {
    GeoOps.tiled(spark, dir, 12)
      .select(col("event_id"), col("xt"), col("yt"),
        expr("graft_hilbert(12, CAST(xt AS BIGINT), CAST(yt AS BIGINT))").as("hilbert_d"))
      .orderBy("event_id")
  }

  val qHilbertKeySql: String =
    s"""WITH RECURSIVE t AS (${GeoOps.tiledSql(12)}),
        h AS (
          SELECT event_id, xt, yt, CAST(xt AS BIGINT) AS hx,
            CAST(yt AS BIGINT) AS hy, CAST(0 AS BIGINT) AS d,
            CAST(2048 AS BIGINT) AS s
          FROM t
          UNION ALL
          SELECT event_id, xt, yt,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 4095 - hy ELSE hy END
            ELSE hx END AS hx,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 4095 - hx ELSE hx END
            ELSE hy END AS hy,
            d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                            (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END)) AS d,
            s // 2 AS s
          FROM h WHERE s > 0)
      SELECT event_id, xt, yt, d AS hilbert_d
      FROM h WHERE s = 0 ORDER BY event_id"""

  /** b12c — `q_pmtiles_order`: the PMTiles DIRECTORY each archive
    * (b12's one-per-user datasets) actually writes — per archive, its
    * z=8 tile set with the spec's tile id (tile_id = zoom_offset(z) +
    * hilbert_d(z, x, y), zoom_offset(8) = (4⁸−1)/3 = 21845: the
    * cumulative tile count of all lower zooms) and the directory
    * entry index (tiles sorted by tile_id — the order that makes
    * directory entries delta-encodable and range requests contiguous,
    * why the format chose Hilbert). Tiling is b3's, the curve is
    * b37's codegen'd expression; the rank window is per-archive
    * (user-keyed — bounded by an archive's tile count, never the
    * corpus). Oracle: the same recurrence as a recursive CTE + a
    * window. This is the layout column b12's manifest carries into
    * i12's Hilbert-clustered rewrite. */
  def qPmtilesOrder(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val zoomOffset = (math.pow(4, 8).toLong - 1) / 3
    val tiles = GeoOps.tiled(spark, dir, 8)
      .groupBy("user_id", "xt", "yt")
      .agg(count(lit(1)).as("n_features"))
      .withColumn("tile_id",
        expr(s"$zoomOffset + graft_hilbert(8, CAST(xt AS BIGINT), CAST(yt AS BIGINT))"))
    tiles
      .withColumn("entry_idx", row_number()
        .over(Window.partitionBy("user_id").orderBy("tile_id")).cast("long"))
      .select("user_id", "xt", "yt", "n_features", "tile_id", "entry_idx")
      .orderBy("user_id", "entry_idx")
  }

  val qPmtilesOrderSql: String =
    s"""WITH RECURSIVE t AS (${GeoOps.tiledSql(8)}),
        g AS (
          SELECT user_id, xt, yt, COUNT(*) AS n_features
          FROM t GROUP BY user_id, xt, yt),
        h AS (
          SELECT user_id, xt, yt, n_features, CAST(xt AS BIGINT) AS hx,
            CAST(yt AS BIGINT) AS hy, CAST(0 AS BIGINT) AS d,
            CAST(128 AS BIGINT) AS s
          FROM g
          UNION ALL
          SELECT user_id, xt, yt, n_features,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 255 - hy ELSE hy END
            ELSE hx END AS hx,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 255 - hx ELSE hx END
            ELSE hy END AS hy,
            d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                            (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END)) AS d,
            s // 2 AS s
          FROM h WHERE s > 0),
        ids AS (
          SELECT user_id, xt, yt, n_features, 21845 + d AS tile_id
          FROM h WHERE s = 0)
      SELECT user_id, xt, yt, n_features, tile_id,
        CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tile_id)
          AS BIGINT) AS entry_idx
      FROM ids ORDER BY user_id, entry_idx"""

  // ---- b12d: PMTiles leaf-directory serialization accounting -------

  /** Varint byte count for a non-negative BIGINT expression (7 bits
    * per byte — the PMTiles directory encoding); z=8 ids and synthetic
    * tile sizes stay under 2^28, covered by 4 tiers + the tail. */
  private[graft] def vb(v: String): String =
    s"""(CASE WHEN $v < 128 THEN 1 WHEN $v < 16384 THEN 2
          WHEN $v < 2097152 THEN 3 WHEN $v < 268435456 THEN 4
          ELSE 5 END)"""

  // leaf split cap: the PMTiles spec splits directories around 16384
  // entries; the operator is cap-parametric and the query pins 32 so
  // the split actually EXERCISES at driver test scale (per-archive
  // tile counts there are far below the spec constant)
  private[graft] val LeafCap = 32L
  private[graft] val tileBytesS = "(n_features * 37 % 900 + 100)"

  /** Directory-entry stage shared by b12d and b45: over a tiles DF
    * (user_id, xt, yt, n_features) appends tile_id (zoom_offset +
    * hilbert), entry_idx + delta (ONE per-archive window spec),
    * entry_bytes (the varint algebra) and leaf_idx. */
  private[graft] def dirEntries(tiles: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val zoomOffset = (math.pow(4, 8).toLong - 1) / 3
    val w = Window.partitionBy("user_id").orderBy("tile_id")
    tiles
      .withColumn("tile_id",
        expr(s"$zoomOffset + graft_hilbert(8, CAST(xt AS BIGINT), CAST(yt AS BIGINT))"))
      .withColumn("entry_idx", row_number().over(w).cast("long"))
      .withColumn("delta",
        col("tile_id") - coalesce(lag("tile_id", 1).over(w), lit(0L)))
      .withColumn("entry_bytes",
        expr(s"${vb("delta")} + 1 + ${vb(tileBytesS)} + 1").cast("long"))
      .withColumn("leaf_idx", expr(s"(entry_idx - 1) div $LeafCap"))
  }

  /** The hilbert + entry CTE chain shared by the b12d/b45 oracles:
    * reads CTE `g`(user_id, xt, yt, n_features), yields `sized`
    * (user_id, n_features, tile_id, entry_idx, leaf_idx,
    * entry_bytes). */
  private[graft] val dirEntriesSql: String =
    s"""h AS (
          SELECT user_id, xt, yt, n_features, CAST(xt AS BIGINT) AS hx,
            CAST(yt AS BIGINT) AS hy, CAST(0 AS BIGINT) AS d,
            CAST(128 AS BIGINT) AS s
          FROM g
          UNION ALL
          SELECT user_id, xt, yt, n_features,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 255 - hy ELSE hy END
            ELSE hx END AS hx,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 255 - hx ELSE hx END
            ELSE hy END AS hy,
            d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                            (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END)) AS d,
            s // 2 AS s
          FROM h WHERE s > 0),
        ids AS (
          SELECT user_id, n_features, 21845 + d AS tile_id
          FROM h WHERE s = 0),
        entries AS (
          SELECT user_id, n_features, tile_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY tile_id)
              AS BIGINT) AS entry_idx,
            tile_id - COALESCE(LAG(tile_id) OVER (PARTITION BY user_id
              ORDER BY tile_id), 0) AS delta
          FROM ids),
        sized AS (
          SELECT user_id, n_features, tile_id, entry_idx,
            (entry_idx - 1) // $LeafCap AS leaf_idx,
            CAST(${vb("delta")} + 1 + ${vb(tileBytesS)} + 1 AS BIGINT) AS entry_bytes
          FROM entries)"""

  /** b12d — `q_pmtiles_leaves`: the DIRECTORY SERIALIZATION accounting
    * over b12c's entry order — what the archive writer actually emits
    * (PMTiles spec: entries serialize as varint(tile_id delta),
    * varint(run_length), varint(length), varint(offset); directories
    * past the cap split into LEAF directories, the root keeping one
    * pointer per leaf). Per (archive, leaf): entry count, first/last
    * tile id (the root pointer's key range) and the leaf's serialized
    * byte estimate — delta-encoding is WHY b12c's Hilbert order
    * matters (consecutive ids ⇒ 1-byte deltas dominate). Same single
    * per-archive bounded window as b12c (row_number + lag share one
    * spec), one bounded agg. Oracle: the recursive-CTE hilbert chain +
    * the identical lag/varint algebra. */
  def qPmtilesLeaves(spark: SparkSession, dir: String): DataFrame = {
    dirEntries(GeoOps.tiled(spark, dir, 8)
        .groupBy("user_id", "xt", "yt")
        .agg(count(lit(1)).as("n_features")))
      .groupBy("user_id", "leaf_idx")
      .agg(count(lit(1)).as("n_entries"),
        min("tile_id").as("first_tile_id"),
        max("tile_id").as("last_tile_id"),
        sum("entry_bytes").as("leaf_bytes"))
      .orderBy("user_id", "leaf_idx")
  }

  val qPmtilesLeavesSql: String =
    s"""WITH RECURSIVE t AS (${GeoOps.tiledSql(8)}),
        g AS (
          SELECT user_id, xt, yt, COUNT(*) AS n_features
          FROM t GROUP BY user_id, xt, yt),
        $dirEntriesSql
      SELECT user_id, leaf_idx, COUNT(*) AS n_entries,
        MIN(tile_id) AS first_tile_id, MAX(tile_id) AS last_tile_id,
        CAST(SUM(entry_bytes) AS BIGINT) AS leaf_bytes
      FROM sized GROUP BY user_id, leaf_idx ORDER BY user_id, leaf_idx"""

  /** b12e — `q_pmtiles_rle`: PMTiles RUN-LENGTH tile deduplication —
    * the format's single biggest storage lever, which b12d serializes
    * (varint(run_length)) but never exercises past 1. The spec's
    * directory entries carry run_length precisely so that IDENTICAL
    * tile bytes are stored ONCE and referenced by a run of consecutive
    * tile ids — in a real world-archive that is most of the archive
    * (ocean tiles, empty low-zoom tiles). Model: each archive (user)
    * writes its FULL z=4 overview level (the 16×16 = 256-tile square —
    * low-zoom levels are written dense, which is exactly where the
    * lever lives); tiles with no features are the ONE empty blob
    * (content-identical by construction), occupied tiles' synthetic
    * bytes are a pure function of n_features (b12d's size model — so
    * equal feature counts ⇒ identical blobs, the planted content
    * classes). A run is a maximal stretch of CONSECUTIVE tile ids
    * (Hilbert order, delta = 1) with identical content; the dense
    * cover makes empty-tile runs long. Output per archive: tiles vs
    * entries vs distinct blobs, directory bytes flat vs run-length
    * encoded (b12d's varint algebra, run_length now real), data bytes
    * flat vs one-blob-per-run vs fully offset-deduped (the clustered
    * archive's further lever: runs of the SAME content share one
    * offset), and the total saving. Plan: the 256·users cover is built
    * by one bounded explode off the per-user tile agg, all windows are
    * per-archive (bounded by the pyramid level's size — z-parametric,
    * never corpus-scale), and the sequenced cover is eagerly
    * localCheckpoint'd (256 rows/user) so the three accounting legs
    * (flat, rle, blob) read the memo instead of re-deriving the scan —
    * at 100 TB the cover table is ~0.1% of one zoom level's tile data.
    * Ref: PMTiles v3 spec (directory entries / run_length semantics),
    * processing.py:263-283 (the reference's pmtiles conversion).
    * Oracle: the z=4 Hilbert recursive CTE (s₀=8, reflection constant
    * 15, zoom_offset (4⁴−1)/3 = 85) + identical window/varint algebra. */
  /** b12e/b12f's shared RLE cover: the dense z=4 per-archive tile
    * square, Hilbert-sequenced, run-segmented, eagerly materialized
    * (256 rows/user) so every accounting leg reads the memo. Columns:
    * user_id, nf, tile_id, tile_bytes, flat_bytes, run_id. */
  private[graft] def rleCover(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val occ = GeoOps.tiled(spark, dir, 4)
      .groupBy("user_id", "xt", "yt")
      .agg(count(lit(1)).as("n_features"))
    val grid = occ.select("user_id").distinct()
      .select(col("user_id"), explode(sequence(lit(0), lit(255))).as("cell"))
      .select(col("user_id"), expr("CAST(cell % 16 AS INT)").as("xt"),
        expr("CAST(cell div 16 AS INT)").as("yt"))
    val tiles = grid.join(occ, Seq("user_id", "xt", "yt"), "left")
      .withColumn("nf", coalesce(col("n_features"), lit(0L)))
      .withColumn("tile_id",
        expr("85 + graft_hilbert(4, CAST(xt AS BIGINT), CAST(yt AS BIGINT))"))
      .withColumn("tile_bytes",
        expr("CAST(CASE WHEN nf = 0 THEN 69 ELSE nf * 37 % 900 + 100 END AS BIGINT)"))
    val w = Window.partitionBy("user_id").orderBy("tile_id")
    tiles
      .withColumn("tdelta",
        col("tile_id") - coalesce(lag("tile_id", 1).over(w), lit(0L)))
      .withColumn("new_run",
        when(coalesce(lag("nf", 1).over(w), lit(-1L)) =!= col("nf") ||
          col("tdelta") =!= 1L, 1L).otherwise(0L))
      .withColumn("flat_bytes",
        expr(s"CAST(${vb("tdelta")} + 1 + ${vb("tile_bytes")} + 1 AS BIGINT)"))
      .withColumn("run_id", sum("new_run")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("user_id", "nf", "tile_id", "tile_bytes", "flat_bytes", "run_id")
      .localCheckpoint()
  }

  /** Per-run directory entries over [[rleCover]]: run_length, first
    * tile id, content class + bytes, entry delta and serialized
    * entry bytes. */
  private[graft] def rleEntries(cover: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w2 = Window.partitionBy("user_id").orderBy("run_id")
    cover.groupBy("user_id", "run_id")
      .agg(count(lit(1)).as("run_length"), min("tile_id").as("first_id"),
        max("nf").as("nf"), max("tile_bytes").as("tile_bytes"))
      .withColumn("delta",
        col("first_id") - coalesce(lag("first_id", 1).over(w2), lit(0L)))
      .withColumn("entry_bytes",
        expr(s"CAST(${vb("delta")} + ${vb("run_length")} + ${vb("tile_bytes")} + 1 AS BIGINT)"))
  }

  def qPmtilesRle(spark: SparkSession, dir: String): DataFrame = {
    val seq0 = rleCover(spark, dir)
    val flat = seq0.groupBy("user_id")
      .agg(count(lit(1)).as("n_tiles"),
        sum(when(col("nf") === 0L, 1L).otherwise(0L)).as("n_empty"),
        sum("flat_bytes").as("dir_bytes_flat"),
        sum("tile_bytes").as("data_bytes_flat"))
    val rle = rleEntries(seq0)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_entries"), max("run_length").as("max_run"),
        sum("entry_bytes").as("dir_bytes_rle"),
        sum("tile_bytes").as("data_bytes_rle"))
    val blobs = seq0.groupBy("user_id", "nf")
      .agg(max("tile_bytes").as("tile_bytes"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_blobs"), sum("tile_bytes").as("data_bytes_dedup"))
    flat.join(rle, "user_id").join(blobs, "user_id")
      .withColumn("bytes_saved",
        col("data_bytes_flat") - col("data_bytes_rle") +
          col("dir_bytes_flat") - col("dir_bytes_rle"))
      .select("user_id", "n_tiles", "n_empty", "n_entries", "max_run",
        "n_blobs", "dir_bytes_flat", "dir_bytes_rle", "data_bytes_flat",
        "data_bytes_rle", "data_bytes_dedup", "bytes_saved")
      .orderBy("user_id")
  }

  /** The b12e/b12f shared oracle chain: z=4 dense cover → hilbert →
    * run segmentation → per-run entries (CTEs occ..withd; reads CTE
    * `t` = tiledSql(4)). */
  private[graft] val pmtilesRleChainSql: String =
    s"""occ AS (
          SELECT user_id, xt, yt, COUNT(*) AS n_features
          FROM t GROUP BY user_id, xt, yt),
        grid AS (
          SELECT user_id, unnest(generate_series(0, 255)) AS cell
          FROM (SELECT DISTINCT user_id FROM occ) u),
        gt AS (
          SELECT g.user_id, CAST(g.cell % 16 AS INT) AS xt,
            CAST(g.cell // 16 AS INT) AS yt,
            COALESCE(o.n_features, 0) AS nf
          FROM grid g LEFT JOIN occ o
            ON o.user_id = g.user_id AND o.xt = g.cell % 16
              AND o.yt = g.cell // 16),
        h AS (
          SELECT user_id, nf, CAST(xt AS BIGINT) AS hx,
            CAST(yt AS BIGINT) AS hy, CAST(0 AS BIGINT) AS d,
            CAST(8 AS BIGINT) AS s
          FROM gt
          UNION ALL
          SELECT user_id, nf,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 15 - hy ELSE hy END
            ELSE hx END AS hx,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 15 - hx ELSE hx END
            ELSE hy END AS hy,
            d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                            (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END)) AS d,
            s // 2 AS s
          FROM h WHERE s > 0),
        tiles AS (
          SELECT user_id, nf, 85 + d AS tile_id,
            CAST(CASE WHEN nf = 0 THEN 69 ELSE nf * 37 % 900 + 100 END
              AS BIGINT) AS tile_bytes
          FROM h WHERE s = 0),
        sq AS (
          SELECT *, tile_id - COALESCE(LAG(tile_id) OVER w, 0) AS tdelta,
            CASE WHEN COALESCE(LAG(nf) OVER w, -1) <> nf
                   OR tile_id - COALESCE(LAG(tile_id) OVER w, 0) <> 1
              THEN 1 ELSE 0 END AS new_run
          FROM tiles WINDOW w AS (PARTITION BY user_id ORDER BY tile_id)),
        sq2 AS (
          SELECT *, CAST(${vb("tdelta")} + 1 + ${vb("tile_bytes")} + 1
              AS BIGINT) AS flat_bytes,
            SUM(new_run) OVER (PARTITION BY user_id ORDER BY tile_id
              ROWS UNBOUNDED PRECEDING) AS run_id
          FROM sq),
        perrun AS (
          SELECT user_id, run_id, COUNT(*) AS run_length,
            MIN(tile_id) AS first_id, MAX(nf) AS nf,
            MAX(tile_bytes) AS tile_bytes
          FROM sq2 GROUP BY user_id, run_id),
        withd AS (
          SELECT *, first_id - COALESCE(LAG(first_id) OVER (
              PARTITION BY user_id ORDER BY run_id), 0) AS delta
          FROM perrun)"""

  val qPmtilesRleSql: String =
    s"""WITH RECURSIVE t AS (${GeoOps.tiledSql(4)}),
        $pmtilesRleChainSql,
        flat AS (
          SELECT user_id, COUNT(*) AS n_tiles,
            CAST(SUM(CASE WHEN nf = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
            CAST(SUM(flat_bytes) AS BIGINT) AS dir_bytes_flat,
            CAST(SUM(tile_bytes) AS BIGINT) AS data_bytes_flat
          FROM sq2 GROUP BY user_id),
        rle AS (
          SELECT user_id, COUNT(*) AS n_entries,
            CAST(MAX(run_length) AS BIGINT) AS max_run,
            CAST(SUM(${vb("delta")} + ${vb("run_length")} +
              ${vb("tile_bytes")} + 1) AS BIGINT) AS dir_bytes_rle,
            CAST(SUM(tile_bytes) AS BIGINT) AS data_bytes_rle
          FROM withd GROUP BY user_id),
        blobs AS (
          SELECT user_id, COUNT(*) AS n_blobs,
            CAST(SUM(tile_bytes) AS BIGINT) AS data_bytes_dedup
          FROM (SELECT user_id, nf, MAX(tile_bytes) AS tile_bytes
                FROM sq2 GROUP BY user_id, nf) b
          GROUP BY user_id)
      SELECT user_id, n_tiles, n_empty, n_entries, max_run, n_blobs,
        dir_bytes_flat, dir_bytes_rle, data_bytes_flat, data_bytes_rle,
        data_bytes_dedup,
        data_bytes_flat - data_bytes_rle + dir_bytes_flat - dir_bytes_rle
          AS bytes_saved
      FROM flat JOIN rle USING (user_id) JOIN blobs USING (user_id)
      ORDER BY user_id"""

  /** b12f — `q_pmtiles_clustered`: the CLUSTERED offset assignment
    * over b12e's run-length entries — the last column a PMTiles
    * directory actually carries (each entry's varint(offset) into the
    * tile-data section) and the format's `clustered` flag semantics:
    * tile data lands in FIRST-OCCURRENCE order, identical content is
    * stored once, and every later run of the same content REUSES the
    * first occurrence's offset (offset dedup — the lever past b12e's
    * one-blob-per-run accounting; the PMTiles header's three counts,
    * addressed_tiles / tile_entries / tile_contents, are b12e's
    * n_tiles / n_entries / n_blobs). Per directory entry: first tile
    * id, run length, content bytes, assigned offset, and whether this
    * entry is its content's first occurrence (the one that lands
    * bytes). Plan: per-run entries off the SHARED materialized cover
    * (one per-archive window), the blob table is content-grain
    * (bounded by distinct contents per archive) with an exclusive
    * prefix-sum window, fan back by content key — all per-archive,
    * pyramid-level-bounded. Oracle: the shared b12e CTE chain + the
    * identical prefix-sum/first-occurrence algebra.
    * GeoInvariantsSpec pins the clustered invariants (first-occurrence
    * offsets strictly increase by exactly the preceding blob's bytes;
    * reused offsets point at earlier first occurrences; total data
    * length ≡ b12e's data_bytes_dedup). */
  def qPmtilesClustered(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cover = rleCover(spark, dir)
    val entries = rleEntries(cover)
    val wb = Window.partitionBy("user_id").orderBy("first_run")
    val offs = entries.groupBy("user_id", "nf")
      .agg(min("run_id").as("first_run"), max("tile_bytes").as("bytes"))
      .withColumn("offset", coalesce(sum("bytes")
        .over(wb.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
    entries.join(offs.select(col("user_id"), col("nf"),
        col("first_run"), col("offset")), Seq("user_id", "nf"))
      .select(col("user_id"), col("run_id"), col("first_id"),
        col("run_length"), col("tile_bytes"), col("offset"),
        (col("run_id") === col("first_run")).as("first_occurrence"))
      .orderBy("user_id", "run_id")
  }

  val qPmtilesClusteredSql: String =
    s"""WITH RECURSIVE t AS (${GeoOps.tiledSql(4)}),
        $pmtilesRleChainSql,
        firsts AS (
          SELECT user_id, nf, MIN(run_id) AS first_run,
            MAX(tile_bytes) AS bytes
          FROM withd GROUP BY user_id, nf),
        offs AS (
          SELECT user_id, nf, first_run,
            CAST(COALESCE(SUM(bytes) OVER (PARTITION BY user_id
              ORDER BY first_run ROWS BETWEEN UNBOUNDED PRECEDING
              AND 1 PRECEDING), 0) AS BIGINT) AS "offset"
          FROM firsts)
      SELECT w.user_id AS user_id, CAST(w.run_id AS BIGINT) AS run_id,
        w.first_id AS first_id, w.run_length AS run_length,
        w.tile_bytes AS tile_bytes, o."offset" AS "offset",
        (w.run_id = o.first_run) AS first_occurrence
      FROM withd w JOIN offs o ON o.user_id = w.user_id AND o.nf = w.nf
      ORDER BY user_id, run_id"""

  /** b45 — `q_archive_layout`: THE per-archive answer the service
    * exists to produce — what each user's PMTiles archive actually
    * looks like after the WHOLE pipeline runs: b28's full-order vector
    * path (route → b39 reproject → b36 makevalid → b3 tile off the
    * reprojected coordinates) feeding b12c/b12d's directory machinery
    * (Hilbert entry order → varint/delta serialization → leaf split) —
    * per user the kept-feature count, tile count, leaf count, total
    * directory bytes and the a4 destination, ONE plan end to end.
    * Shape: map-only to the (user, tile) agg, then everything is
    * tile-count-bounded (the per-archive window, the leaf rollup).
    * Oracle: the dispatch UNION chains + the recursive-CTE hilbert —
    * the full independent machinery composed. */
  def qArchiveLayout(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Synth
    val ext = Synth.ext(col("event_id"))
    val kept = GeoGeom.quadGenColsFor("event_id").foldLeft(
      GeoProj.dispatched(spark, dir, keep = Seq("user_id"))
        .filter(ext.isin(".gpkg", ".geojson", ".gdb", ".fgb", ".shp", ".mbtiles"))) {
        case (df, (e, n)) => df.withColumn(n, expr(e)) }
      .withColumn("status",
        when(expr(crossS), "repaired")
          .when(expr(degenS), "dropped")
          .otherwise("valid"))
      .filter(col("lon_4326").isNotNull && col("status") =!= "dropped")
      .withColumn("xt", expr(GeoOps.tileXS("lon_4326", 256)))
      .withColumn("yt", expr(GeoOps.tileYS("lat_4326", 256)))
    dirEntries(kept.groupBy("user_id", "xt", "yt")
        .agg(count(lit(1)).as("n_features")))
      .groupBy("user_id")
      .agg(sum("n_features").as("n_features"),
        count(lit(1)).as("n_tiles"),
        (max("leaf_idx") + 1L).as("n_leaves"),
        sum("entry_bytes").as("dir_bytes"),
        max("tile_id").as("max_tile_id"))
      .withColumn("dst_path",
        concat(lit("datasets/user"), col("user_id").cast("string"),
          lit("/layer.pmtiles")))
      .orderBy("user_id")
  }

  val qArchiveLayoutSql: String = {
    import graft.functions.Synth
    val gen = quadGenColsFor("event_id")
      .map { case (e, n) => s"$e AS $n" }.mkString(", ")
    // one FLAT recursive with-list: DuckDB rejects a nested WITH inside
    // a WITH RECURSIVE member's body, so the dispatch chains splice in
    // as siblings of the hilbert recursion
    val (dispatchCtes, dispatchUnion) = GeoProj.dispatchedSqlParts(Seq("user_id"))
    s"""WITH RECURSIVE $dispatchCtes,
        d AS ($dispatchUnion),
        vec0 AS (
          SELECT * FROM d
          WHERE (${Synth.extSql}) IN ('.gpkg','.geojson','.gdb','.fgb','.shp','.mbtiles')),
        vg AS (SELECT *, $gen FROM vec0),
        kept AS (
          SELECT *, ${GeoOps.tileXS("lon_4326", 256)} AS xt,
            ${GeoOps.tileYS("lat_4326", 256)} AS yt
          FROM vg
          WHERE lon_4326 IS NOT NULL
            AND NOT ((NOT ($crossS)) AND ($degenS))),
        g AS (
          SELECT user_id, xt, yt, COUNT(*) AS n_features
          FROM kept GROUP BY user_id, xt, yt),
        $dirEntriesSql
      SELECT user_id, CAST(SUM(n_features) AS BIGINT) AS n_features,
        COUNT(*) AS n_tiles,
        MAX(leaf_idx) + 1 AS n_leaves,
        CAST(SUM(entry_bytes) AS BIGINT) AS dir_bytes,
        MAX(tile_id) AS max_tile_id,
        'datasets/user' || CAST(user_id AS VARCHAR) || '/layer.pmtiles' AS dst_path
      FROM sized GROUP BY user_id ORDER BY user_id"""
  }

  // ---- b50: FlatGeobuf packed Hilbert R-tree layout ----------------

  /** b50 — `q_fgb_index`: the FlatGeobuf SPATIAL INDEX layout for the
    * vector layers dataset2fgb writes (processing.py:100-160 converts
    * every vector layer to FGB before tiling — the repo routes that
    * leg in a2/b28 but never laid out the file it produces). FGB's
    * index is a PACKED HILBERT R-TREE (public spec: features sorted by
    * the Hilbert position of their bbox center, tree packed bottom-up
    * with node size 16, every node item 40 bytes — 4 float64 bbox +
    * uint64 offset): per (user, layer) the feature count, the layer's
    * Hilbert-curve extent at z=12 (b37's codegen'd expression; min/max
    * over the layer = the curve span its range requests touch), the
    * packed level chain ceil(n/16)+ceil(n/256)+… unrolled to 6 levels
    * (16⁶ > 16M covers every sweep point; ELSE-0 guards stop at the
    * root), total node count and index bytes. ONE events scan, map-only
    * curve math, one (user, layer) agg, closed-form chain after it.
    * Oracle: the b37 recursive-CTE recurrence carrying (user, layer)
    * through the recursion + the same unrolled chain. */
  def qFgbIndex(spark: SparkSession, dir: String): DataFrame = {
    val chain =
      """n + CASE WHEN n > 1 THEN t1 ELSE 0 END
           + CASE WHEN t1 > 1 THEN t2 ELSE 0 END
           + CASE WHEN t2 > 1 THEN t3 ELSE 0 END
           + CASE WHEN t3 > 1 THEN t4 ELSE 0 END
           + CASE WHEN t4 > 1 THEN t5 ELSE 0 END
           + CASE WHEN t5 > 1 THEN t6 ELSE 0 END"""
    GeoOps.tiled(spark, dir, 12)
      .withColumn("h",
        expr("graft_hilbert(12, CAST(xt AS BIGINT), CAST(yt AS BIGINT))"))
      .groupBy(col("user_id"), col("event_type").as("layer"))
      .agg(count(lit(1)).as("n"),
        min(col("h")).as("hmin"), max(col("h")).as("hmax"))
      .withColumn("t1", expr("(n + 15) div 16"))
      .withColumn("t2", expr("(t1 + 15) div 16"))
      .withColumn("t3", expr("(t2 + 15) div 16"))
      .withColumn("t4", expr("(t3 + 15) div 16"))
      .withColumn("t5", expr("(t4 + 15) div 16"))
      .withColumn("t6", expr("(t5 + 15) div 16"))
      .withColumn("n_nodes", expr(chain))
      .withColumn("index_bytes", col("n_nodes") * 40L)
      .select("user_id", "layer", "n", "hmin", "hmax", "n_nodes", "index_bytes")
      .orderBy("user_id", "layer")
  }

  val qFgbIndexSql: String = {
    val chain =
      """n + CASE WHEN n > 1 THEN t1 ELSE 0 END
           + CASE WHEN t1 > 1 THEN t2 ELSE 0 END
           + CASE WHEN t2 > 1 THEN t3 ELSE 0 END
           + CASE WHEN t3 > 1 THEN t4 ELSE 0 END
           + CASE WHEN t4 > 1 THEN t5 ELSE 0 END
           + CASE WHEN t5 > 1 THEN t6 ELSE 0 END"""
    s"""WITH RECURSIVE t AS (${GeoOps.tiledSql(12)}),
        h AS (
          SELECT user_id, event_type, CAST(xt AS BIGINT) AS hx,
            CAST(yt AS BIGINT) AS hy, CAST(0 AS BIGINT) AS d,
            CAST(2048 AS BIGINT) AS s
          FROM t
          UNION ALL
          SELECT user_id, event_type,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 4095 - hy ELSE hy END
            ELSE hx END AS hx,
            CASE WHEN (hy & s) = 0 THEN
              CASE WHEN (hx & s) > 0 THEN 4095 - hx ELSE hx END
            ELSE hy END AS hy,
            d + s * s * xor(3 * (CASE WHEN (hx & s) > 0 THEN 1 ELSE 0 END),
                            (CASE WHEN (hy & s) > 0 THEN 1 ELSE 0 END)) AS d,
            s // 2 AS s
          FROM h WHERE s > 0),
        agg AS (
          SELECT user_id, event_type AS layer, COUNT(*) AS n,
            MIN(d) AS hmin, MAX(d) AS hmax
          FROM h WHERE s = 0 GROUP BY user_id, event_type),
        lv AS (
          SELECT *, (n + 15) // 16 AS t1 FROM agg),
        lv2 AS (SELECT *, (t1 + 15) // 16 AS t2 FROM lv),
        lv3 AS (SELECT *, (t2 + 15) // 16 AS t3 FROM lv2),
        lv4 AS (SELECT *, (t3 + 15) // 16 AS t4 FROM lv3),
        lv5 AS (SELECT *, (t4 + 15) // 16 AS t5 FROM lv4),
        lv6 AS (SELECT *, (t5 + 15) // 16 AS t6 FROM lv5)
      SELECT user_id, layer, n, hmin, hmax,
        CAST($chain AS BIGINT) AS n_nodes,
        CAST(($chain) * 40 AS BIGINT) AS index_bytes
      FROM lv6 ORDER BY user_id, layer"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_fgb_index", qFgbIndex, Oracle(qFgbIndexSql)),
    Query("q_point_in_concave", qPointInConcave, Oracle(qPointInConcaveSql)),
    Query("q_make_valid_geom", qMakeValidGeom, Oracle(qMakeValidGeomSql)),
    Query("q_hilbert_key", qHilbertKey, Oracle(qHilbertKeySql)),
    Query("q_pmtiles_order", qPmtilesOrder, Oracle(qPmtilesOrderSql)),
    Query("q_pmtiles_leaves", qPmtilesLeaves, Oracle(qPmtilesLeavesSql)),
    Query("q_pmtiles_rle", qPmtilesRle, Oracle(qPmtilesRleSql)),
    Query("q_pmtiles_clustered", qPmtilesClustered, Oracle(qPmtilesClusteredSql)),
    Query("q_archive_layout", qArchiveLayout, Oracle(qArchiveLayoutSql)))
}
