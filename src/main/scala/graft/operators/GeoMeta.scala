package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}
import graft.functions.Synth

/** §2 B (depth) — the two metadata/terrain legs the geo family was
  * still missing:
  *
  *  - b53 `q_tilejson`: the TileJSON 3.0 metadata document every
  *    published PMTiles archive carries (the PMTiles spec embeds a
  *    JSON metadata blob; tippecanoe writes `vector_layers` +
  *    `tilestats` into it — processing.py's pmtiles output relies on
  *    it for the map client). Per dataset (user): bounds, center,
  *    zoom range, and the per-layer `vector_layers` entries — the
  *    whole document assembled as ONE deterministic JSON string both
  *    engines state identically.
  *  - b54 `q_slope_aspect`: gdaldem-style slope/aspect classification
  *    (Horn 1981's 3×3 finite differences — the algorithm `gdaldem
  *    slope`/`aspect` runs, the raster-side sibling of the reference's
  *    GDAL conversions). The DEM is a synthesized integer surface
  *    (a quarry bowl + modular texture), so every 3×3 neighbor is
  *    CLOSED FORM — the whole stencil is map-only scalar math, no
  *    self-join, no explode; slope buckets and 8-way aspect sectors
  *    are decided by EXACT integer comparisons (thresholds are the
  *    squared-tan constants stated literally in both engines — no
  *    trig at query time, no IEEE divergence).
  *
  * Scale shapes: b53 is two bounded aggs (per-(user,layer) → per-user;
  * the shuffle carries one row per layer, then one per user). b54 is
  * map-only per event + the output sort — at 100 TB the stencil costs
  * exactly one pass and zero exchanges; a REAL raster would read the
  * 3×3 window via overlapping tile partitions, and the closed form
  * here stands in for that locality (the classification algebra is
  * the operator under test, identical either way).
  */
object GeoMeta {

  // ------------------------------------------------------------------
  // b53 — TileJSON metadata document
  // ------------------------------------------------------------------

  /** milli-degree integer → fixed 3-decimal string, identical algebra
    * in both engines (sign + integer part + zero-padded fraction). */
  private def milliStr(m: String, idiv: String): String =
    s"(CASE WHEN ($m) < 0 THEN '-' ELSE '' END) || CAST(abs($m) $idiv 1000 AS %s) || '.' || lpad(CAST(abs($m) %% 1000 AS %s), 3, '0')"

  private def milliSpark(m: String): String =
    milliStr(m, "div").format("STRING", "STRING")
  private def milliDuck(m: String): String =
    milliStr(m, "//").format("VARCHAR", "VARCHAR")

  /** b53 — `q_tilejson`: assemble each dataset's TileJSON 3.0 metadata
    * document: bounds/center from the layer bboxes (in exact integer
    * milli-degrees, rendered by string algebra — never a float
    * format), maxzoom from b5's tippecanoe `-zg` guess per layer, and
    * the lexicographically ordered `vector_layers` array. */
  def qTilejson(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val lyr = e.select(col("user_id"), col("event_type"),
        (col("event_id") * 2654435761L % 360000L - 180000L).as("lonm"),
        (col("event_id") * 1327217873L % 170000L - 85000L).as("latm"))
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("features"),
        min("lonm").as("x0"), min("latm").as("y0"),
        max("lonm").as("x1"), max("latm").as("y1"))
      .withColumn("zoom", expr("least(22, (length(bin(features)) + 1) div 2)"))
      .withColumn("layer_json", expr(
        """concat('{"id":"', event_type, '","minzoom":0,"maxzoom":',
                  CAST(zoom AS STRING), ',"fields":{"event_id":"Number"}}')"""))
    val cx = "(x0 + x1 + 720000) div 2 - 360000"
    val cy = "(y0 + y1 + 720000) div 2 - 360000"
    lyr.groupBy("user_id")
      .agg(count(lit(1)).as("n_layers"),
        sum("features").as("features"),
        min("x0").as("x0"), min("y0").as("y0"),
        max("x1").as("x1"), max("y1").as("y1"),
        max("zoom").as("maxzoom"),
        concat_ws(",", array_sort(collect_list(col("layer_json")))).as("layers_json"))
      .withColumn("tilejson", expr(
        s"""concat('{"tilejson":"3.0.0","name":"dataset_user', CAST(user_id AS STRING), '.pmtiles"',
             ',"bounds":[', ${milliSpark("x0")}, ',', ${milliSpark("y0")}, ',',
                            ${milliSpark("x1")}, ',', ${milliSpark("y1")},
             '],"center":[', ${milliSpark(cx)}, ',', ${milliSpark(cy)}, ',', CAST(maxzoom AS STRING),
             '],"minzoom":0,"maxzoom":', CAST(maxzoom AS STRING),
             ',"vector_layers":[', layers_json, ']}')"""))
      .select(col("user_id"), col("n_layers"),
        col("features").cast("long").as("features"),
        col("maxzoom").cast("int").as("maxzoom"), col("tilejson"))
      .orderBy("user_id")
  }

  val qTilejsonSql: String = {
    val cx = "(x0 + x1 + 720000) // 2 - 360000"
    val cy = "(y0 + y1 + 720000) // 2 - 360000"
    s"""WITH f AS (
        SELECT user_id, event_type,
          event_id * 2654435761 % 360000 - 180000 AS lonm,
          event_id * 1327217873 % 170000 - 85000 AS latm
        FROM events),
      lyr AS (
        SELECT user_id, event_type, count(*) AS features,
          min(lonm) AS x0, min(latm) AS y0, max(lonm) AS x1, max(latm) AS y1,
          LEAST(22, (length(bin(count(*))) + 1) // 2) AS zoom
        FROM f GROUP BY 1, 2),
      lj AS (
        SELECT *, '{"id":"' || event_type || '","minzoom":0,"maxzoom":'
          || CAST(zoom AS VARCHAR) || ',"fields":{"event_id":"Number"}}' AS layer_json
        FROM lyr),
      u AS (
        SELECT user_id, count(*) AS n_layers, CAST(sum(features) AS BIGINT) AS features,
          min(x0) AS x0, min(y0) AS y0, max(x1) AS x1, max(y1) AS y1,
          max(zoom) AS maxzoom,
          string_agg(layer_json, ',' ORDER BY layer_json) AS layers_json
        FROM lj GROUP BY 1)
      SELECT user_id, n_layers, features, CAST(maxzoom AS INT) AS maxzoom,
        '{"tilejson":"3.0.0","name":"dataset_user' || CAST(user_id AS VARCHAR) || '.pmtiles"'
        || ',"bounds":[' || ${milliDuck("x0")} || ',' || ${milliDuck("y0")} || ','
                         || ${milliDuck("x1")} || ',' || ${milliDuck("y1")}
        || '],"center":[' || ${milliDuck(cx)} || ',' || ${milliDuck(cy)} || ',' || CAST(maxzoom AS VARCHAR)
        || '],"minzoom":0,"maxzoom":' || CAST(maxzoom AS VARCHAR)
        || ',"vector_layers":[' || layers_json || ']}' AS tilejson
      FROM u ORDER BY user_id"""
  }

  // ------------------------------------------------------------------
  // b54 — Horn slope/aspect classification
  // ------------------------------------------------------------------

  /** the synthesized integer DEM: a bowl centered at (256, 256) (so
    * every aspect octant occurs) + a small modular texture term (so
    * gradients aren't radially symmetric). Non-negative everywhere,
    * floor division of non-negative integers = identical both engines. */
  private def dem(x: String, y: String, idiv: String): String =
    s"(((($x)-256)*(($x)-256)) $idiv 32) + (((($y)-256)*(($y)-256)) $idiv 48) + ((($x)*7 + ($y)*11) % 5)"

  /** Horn 1981 3×3 weighted differences, ×8 (kept integer — the /8 and
    * /cellsize never happen; the classification thresholds absorb them). */
  private def horn(idiv: String): (String, String) = {
    def z(dx: Int, dy: Int) = s"(${dem(s"x${fmt(dx)}", s"y${fmt(dy)}", idiv)})"
    def fmt(d: Int) = if (d == 0) "" else if (d > 0) s"+$d" else s"$d"
    val px8 = s"((${z(1, -1)} + 2*${z(1, 0)} + ${z(1, 1)}) - (${z(-1, -1)} + 2*${z(-1, 0)} + ${z(-1, 1)}))"
    val py8 = s"((${z(-1, 1)} + 2*${z(0, 1)} + ${z(1, 1)}) - (${z(-1, -1)} + 2*${z(0, -1)} + ${z(1, -1)}))"
    (px8, py8)
  }

  /** slope buckets: g2 = px8² + py8² compared against (8·cell·tanθ)²
    * for cell = 30 m and θ = 5°/15°/30° — the squared-tan literals 441
    * / 4136 / 19200 stated identically in both engines. Aspect: 8-way
    * compass sector of the gradient by exact integer comparison
    * against tan(22.5°) ≈ 41421/100000. */
  private val classify =
    """CASE WHEN g2 <= 441 THEN '0-5' WHEN g2 <= 4136 THEN '5-15'
            WHEN g2 <= 19200 THEN '15-30' ELSE '30+' END"""
  private val sector =
    """CASE WHEN px8 = 0 AND py8 = 0 THEN 'flat'
            WHEN 100000 * abs(py8) <= 41421 * abs(px8) THEN (CASE WHEN px8 > 0 THEN 'E' ELSE 'W' END)
            WHEN 100000 * abs(px8) <= 41421 * abs(py8) THEN (CASE WHEN py8 > 0 THEN 'N' ELSE 'S' END)
            WHEN px8 > 0 AND py8 > 0 THEN 'NE' WHEN px8 > 0 THEN 'SE'
            WHEN py8 > 0 THEN 'NW' ELSE 'SW' END"""

  /** b54 — `q_slope_aspect`: per grid cell the Horn gradient (×8, exact
    * integers), the squared gradient magnitude, and the slope/aspect
    * classification. Map-only: the DEM's closed form makes the 3×3
    * stencil a scalar expression. */
  def qSlopeAspect(spark: SparkSession, dir: String): DataFrame = {
    val (px8, py8) = horn("div")
    Tables.events(spark, dir).select(col("event_id"))
      .withColumn("x", expr("1 + event_id % 510"))
      .withColumn("y", expr("1 + (event_id * 37) % 510"))
      .withColumn("zc", expr(dem("x", "y", "div")))
      .withColumn("px8", expr(px8))
      .withColumn("py8", expr(py8))
      .withColumn("g2", expr("px8*px8 + py8*py8"))
      .withColumn("slope_class", expr(classify))
      .withColumn("aspect_sector", expr(sector))
      .select("event_id", "x", "y", "zc", "px8", "py8", "g2",
        "slope_class", "aspect_sector")
      .orderBy("event_id")
  }

  val qSlopeAspectSql: String = {
    val (px8, py8) = horn("//")
    s"""WITH g AS (
        SELECT event_id, 1 + event_id % 510 AS x, 1 + (event_id * 37) % 510 AS y
        FROM events),
      z AS (
        SELECT event_id, x, y, ${dem("x", "y", "//")} AS zc,
          $px8 AS px8, $py8 AS py8
        FROM g),
      c AS (SELECT *, px8*px8 + py8*py8 AS g2 FROM z)
      SELECT event_id, x, y, zc, px8, py8, g2,
        $classify AS slope_class,
        $sector AS aspect_sector
      FROM c ORDER BY event_id"""
  }

  /** The b61 illumination block: ONE IEEE expression of identical
    * shape both engines (c70's discipline — exact integers in, a
    * fixed chain of double ops out; IEEE arithmetic is deterministic
    * and sqrt correctly rounded, so equal inputs give bit-equal
    * outputs; the final floor's edge set is measure-zero, b55's
    * argument). gdaldem Horn hillshade at the defaults az = 315°,
    * alt = 45°, z = 1, cell = 30 m: with x = px8/240, y = py8/240,
    * cang = sinAlt·(1 − (x + y)·√2/2... stated with the √2/2 literal
    * so no runtime trig exists anywhere. */
  private val cang =
    """(0.7071067811865476 * (1.0 - 0.7071067811865476 *
        (CAST(px8 AS DOUBLE) / 240.0 + CAST(py8 AS DOUBLE) / 240.0))
       / sqrt(1.0 + (CAST(px8 AS DOUBLE) / 240.0) * (CAST(px8 AS DOUBLE) / 240.0)
                  + (CAST(py8 AS DOUBLE) / 240.0) * (CAST(py8 AS DOUBLE) / 240.0)))"""
  private val shade =
    s"""CASE WHEN $cang <= 0.0 THEN 0
        ELSE CAST(FLOOR(1.0 + 254.0 * ($cang)) AS INT) END"""
  private val litClass =
    """CASE WHEN shade < 64 THEN 'dark' WHEN shade < 128 THEN 'dim'
            WHEN shade < 192 THEN 'lit' ELSE 'bright' END"""

  /** b61 — `q_hillshade`: gdaldem's THIRD terrain product (hillshade —
    * the rendered relief every basemap ships; b54 covers slope +
    * aspect, this completes the gdaldem trio): per cell the Horn
    * gradient (b54's exact ×8 integers, shared code) lit by the
    * standard 315°/45° sun, shade = GDAL's 1 + 254·cang clipped at 0,
    * plus the 4-way brightness class. All trig is LITERAL (√2/2
    * stated, no runtime sin/cos); the only IEEE is the one shared
    * illumination block. Map-only over the closed-form DEM — the 3×3
    * stencil is a scalar expression, zero shuffles before the sort;
    * at 100 TB this is a pure scan-rate op like b54. Spec pins the
    * flat-cell constant (px8 = py8 = 0 → shade = 180), the toward-sun
    * vs away-from-sun ordering, and the [0, 255] range. */
  def qHillshade(spark: SparkSession, dir: String): DataFrame = {
    val (px8, py8) = horn("div")
    Tables.events(spark, dir).select(col("event_id"))
      .withColumn("x", expr("1 + event_id % 510"))
      .withColumn("y", expr("1 + (event_id * 37) % 510"))
      .withColumn("px8", expr(px8))
      .withColumn("py8", expr(py8))
      .withColumn("shade", expr(shade))
      .withColumn("lit_class", expr(litClass))
      .select("event_id", "x", "y", "px8", "py8", "shade", "lit_class")
      .orderBy("event_id")
  }

  val qHillshadeSql: String = {
    val (px8, py8) = horn("//")
    s"""WITH g AS (
        SELECT event_id, 1 + event_id % 510 AS x, 1 + (event_id * 37) % 510 AS y
        FROM events),
      z AS (SELECT event_id, x, y, $px8 AS px8, $py8 AS py8 FROM g),
      s AS (SELECT *, $shade AS shade FROM z)
      SELECT event_id, x, y, px8, py8, shade, $litClass AS lit_class
      FROM s ORDER BY event_id"""
  }

  // ------------------------------------------------------------------
  // b55 — tippecanoe tile buffer
  // ------------------------------------------------------------------

  /** b55 — `q_tile_buffer`: tippecanoe's tile BUFFER (`--buffer=5`,
    * the default: a feature within 5/256 of a tile edge is also
    * emitted into the adjacent tile, so geometries render seamlessly
    * across tile seams — the duplication-by-design every real tiler
    * does and the missing sibling of b3's assignment and b46's drop).
    * Per z=8 tile: own features, buffered copies received, and the
    * render total — the storage-amplification readout (`buffered /
    * own`) that decides whether a layer's buffer is affordable.
    *
    * Membership is ≤4 copies per feature (a feature near a corner
    * lands in ≤2 x-choices × ≤2 y-choices, the cross product covers
    * the diagonal neighbor exactly as tippecanoe does); the in-tile
    * fractional position reuses the SAME float mercator template as
    * b3/b13 (shared literally with the oracle — floor quantizes, edge
    * compares are measure-zero). Map-only membership build → two
    * bounded explodes (≤2 each) → ONE tile-keyed map-side-combinable
    * agg; the shuffle carries one row per RENDERED (tile, feature)
    * copy — at 100 TB the ~4 % copy overhead IS the operator's
    * output, not a plan artifact. */
  def qTileBuffer(spark: SparkSession, dir: String): DataFrame = {
    val n = 256 // z = 8
    val e = Tables.events(spark, dir).select(col("event_id"))
      .withColumn("lon", Synth.lon(col("event_id")))
      .withColumn("latc", expr(
        s"GREATEST(LEAST((${Synth.latSql}), 85.05112878), -85.05112878)"))
      .withColumn("xf", expr(s"(lon + 180.0) / 360.0 * $n"))
      .withColumn("yf", expr(
        s"(1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * $n"))
      .withColumn("xt", expr(s"CAST(LEAST(FLOOR(xf), ${n - 1}) AS INT)"))
      .withColumn("yt", expr(s"CAST(GREATEST(LEAST(FLOOR(yf), ${n - 1}), 0) AS INT)"))
      .withColumn("fx", expr("(xf - xt) * 256.0"))
      .withColumn("fy", expr("(yf - yt) * 256.0"))
      .withColumn("dxs", expr(
        s"""concat(array(0), CASE WHEN fx < 5.0D AND xt > 0 THEN array(-1)
             WHEN fx >= 251.0D AND xt < ${n - 1} THEN array(1)
             ELSE CAST(array() AS ARRAY<INT>) END)"""))
      .withColumn("dys", expr(
        s"""concat(array(0), CASE WHEN fy < 5.0D AND yt > 0 THEN array(-1)
             WHEN fy >= 251.0D AND yt < ${n - 1} THEN array(1)
             ELSE CAST(array() AS ARRAY<INT>) END)"""))
    e.select(col("event_id"), col("xt"), col("yt"),
        explode(col("dxs")).as("dx"), col("dys"))
      .select(col("event_id"), col("xt"), col("yt"), col("dx"),
        explode(col("dys")).as("dy"))
      .select((col("xt") + col("dx")).as("xr"), (col("yt") + col("dy")).as("yr"),
        expr("CAST(dx = 0 AND dy = 0 AS BIGINT)").as("own_flag"))
      .groupBy("xr", "yr")
      .agg(sum("own_flag").as("own"),
        sum(expr("1 - own_flag")).as("buffered"),
        count(lit(1)).as("render_total"))
      .orderBy("xr", "yr")
  }

  val qTileBufferSql: String = {
    val n = 256
    s"""WITH t AS (
        SELECT event_id, (${Synth.lonSql}) AS lon,
          GREATEST(LEAST((${Synth.latSql}), 85.05112878), -85.05112878) AS latc
        FROM events),
      m AS (
        SELECT event_id,
          (lon + 180.0) / 360.0 * $n AS xf,
          (1.0 - ln(tan(radians(latc)) + 1.0 / cos(radians(latc))) / pi()) / 2.0 * $n AS yf
        FROM t),
      p AS (
        SELECT event_id,
          CAST(LEAST(FLOOR(xf), ${n - 1}) AS INT) AS xt,
          CAST(GREATEST(LEAST(FLOOR(yf), ${n - 1}), 0) AS INT) AS yt,
          (xf - CAST(LEAST(FLOOR(xf), ${n - 1}) AS INT)) * 256.0 AS fx,
          (yf - CAST(GREATEST(LEAST(FLOOR(yf), ${n - 1}), 0) AS INT)) * 256.0 AS fy
        FROM m),
      mem AS (
        SELECT event_id, xt, yt,
          [0] || (CASE WHEN fx < 5.0 AND xt > 0 THEN [-1]
                       WHEN fx >= 251.0 AND xt < ${n - 1} THEN [1] ELSE [] END) AS dxs,
          [0] || (CASE WHEN fy < 5.0 AND yt > 0 THEN [-1]
                       WHEN fy >= 251.0 AND yt < ${n - 1} THEN [1] ELSE [] END) AS dys
        FROM p),
      cp AS (
        SELECT xt + dx AS xr, yt + dy AS yr, (dx = 0 AND dy = 0) AS own
        FROM mem, unnest(dxs) AS a(dx), unnest(dys) AS b(dy))
      SELECT xr, yr,
        CAST(sum(CASE WHEN own THEN 1 ELSE 0 END) AS BIGINT) AS own,
        CAST(sum(CASE WHEN own THEN 0 ELSE 1 END) AS BIGINT) AS buffered,
        count(*) AS render_total
      FROM cp GROUP BY 1, 2 ORDER BY xr, yr"""
  }

  // ------------------------------------------------------------------
  // b56 — tile-load skew plan
  // ------------------------------------------------------------------

  // clustered coordinate synth shared by both engines: 25% of features
  // land near 3 hotspot centers (the urban clustering real tile loads
  // skew under — the planted-corpus discipline), the rest scatter via
  // the standard hash derivation. Integer milli-degrees throughout.
  private val lonmClustered =
    """CASE WHEN event_id % 4 = 0 THEN
         (CASE event_id % 3 WHEN 0 THEN -122400 WHEN 1 THEN 2350 ELSE 139700 END)
           + event_id * 7919 % 2000 - 1000
       ELSE event_id * 2654435761 % 360000 - 180000 END"""
  private val latmClustered =
    """CASE WHEN event_id % 4 = 0 THEN
         (CASE event_id % 3 WHEN 0 THEN 37700 WHEN 1 THEN 48850 ELSE 35680 END)
           + event_id * 104729 % 2000 - 1000
       ELSE event_id * 1327217873 % 170000 - 85000 END"""

  /** b56 — `q_tile_skew_plan`: the tile-load SKEW audit + shard plan
    * (c63's join-key skew audit transplanted to the rendering grid:
    * real feature sets cluster in cities, so a handful of tiles carry
    * orders of magnitude more features than the median — the tiles
    * that blow tippecanoe's budgets and a tile-render fleet's task
    * balance). Per z=6 tile the feature count; the MEDIAN tile load
    * reads off a VALUE histogram of counts (bounded by the count
    * dynamic range, never the tile count — c73/a26's prune argument);
    * heavy = count > 4·median; the plan splits a heavy tile into
    * ceil(count / (2·median)) shards (b46's drop-key order would
    * assign features to shards). Output = the heavy tiles only.
    * One scan → one tile agg → bounded histogram/cumsum → broadcast
    * median back. */
  def qTileSkewPlan(spark: SparkSession, dir: String): DataFrame = {
    val n = 64 // z = 6
    val c = Tables.events(spark, dir).select(col("event_id"))
      .withColumn("lon", expr(s"CAST(($lonmClustered) AS DOUBLE) / 1000.0"))
      .withColumn("lat", expr(s"CAST(($latmClustered) AS DOUBLE) / 1000.0"))
      .withColumn("xt", expr(GeoOps.tileXS("lon", n)))
      .withColumn("yt", expr(GeoOps.tileYS("lat", n)))
      .groupBy("xt", "yt").agg(count(lit(1)).as("cnt"))
      // two consumers (histogram + heavy filter): one materialization
      .localCheckpoint(false)
    val hist = c.groupBy("cnt").agg(count(lit(1)).as("nt"))
    val cum = hist.withColumn("cum",
      sum("nt").over(org.apache.spark.sql.expressions.Window.orderBy("cnt")))
    val tot = hist.agg(sum("nt").as("n_tiles"))
    val med = cum.crossJoin(broadcast(tot))
      .agg(min(when(expr("2 * cum >= n_tiles"), col("cnt"))).as("median"))
    c.crossJoin(broadcast(med))
      .filter(expr("cnt > 4 * median"))
      .withColumn("split_factor", expr("(cnt + 2 * median - 1) div (2 * median)"))
      .select("xt", "yt", "cnt", "median", "split_factor")
      .orderBy("xt", "yt")
  }

  val qTileSkewPlanSql: String = {
    val n = 64
    s"""WITH pts AS (
        SELECT event_id,
          CAST(($lonmClustered) AS DOUBLE) / 1000.0 AS lon,
          CAST(($latmClustered) AS DOUBLE) / 1000.0 AS lat
        FROM events),
      t AS (
        SELECT CAST(LEAST(FLOOR((lon + 180.0) / 360.0 * $n), ${n - 1}) AS INT) AS xt,
          CAST(GREATEST(LEAST(FLOOR((1.0 - ln(tan(radians(GREATEST(LEAST(lat, 85.05112878), -85.05112878)))
            + 1.0 / cos(radians(GREATEST(LEAST(lat, 85.05112878), -85.05112878)))) / pi()) / 2.0 * $n), ${n - 1}), 0) AS INT) AS yt
        FROM pts),
      c AS (SELECT xt, yt, count(*) AS cnt FROM t GROUP BY 1, 2),
      h AS (SELECT cnt, count(*) AS nt FROM c GROUP BY 1),
      cu AS (SELECT cnt, SUM(nt) OVER (ORDER BY cnt) AS cum FROM h),
      tot AS (SELECT CAST(count(*) AS BIGINT) AS n_tiles FROM c),
      med AS (SELECT MIN(cnt) AS median FROM cu, tot WHERE 2 * cum >= n_tiles)
      SELECT c.xt, c.yt, c.cnt, m.median,
        (c.cnt + 2 * m.median - 1) // (2 * m.median) AS split_factor
      FROM c, med m WHERE c.cnt > 4 * m.median ORDER BY c.xt, c.yt"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_tilejson", qTilejson, Oracle(qTilejsonSql)),
    Query("q_slope_aspect", qSlopeAspect, Oracle(qSlopeAspectSql)),
    Query("q_hillshade", qHillshade, Oracle(qHillshadeSql)),
    Query("q_tile_buffer", qTileBuffer, Oracle(qTileBufferSql)),
    Query("q_tile_skew_plan", qTileSkewPlan, Oracle(qTileSkewPlanSql)))
}
