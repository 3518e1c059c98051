package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}
import graft.functions.Synth

/** §2 B — geospatial core: the reference's reprojection, tiling, COG
  * pyramid and validity semantics as pure codegen'd column math (zero
  * UDFs ⇒ whole-stage codegen keeps these map-side and shuffle-free
  * except the tile/pyramid aggregations, which shuffle once on their
  * group keys).
  *
  * Feature coordinates are derived per Synth (bit-identical in the
  * DuckDB oracles). Transcendental steps (ln/tan) are rounded before
  * comparison or floored into integer tiles; both engines use IEEE754
  * doubles and libm-quality functions, and values sit far from
  * rounding boundaries at these magnitudes.
  */
object GeoOps {

  private val R = 6378137.0 // WGS84 spherical radius (WebMercator)
  private val MaxLat = 85.05112878 // WebMercator latitude clamp

  /** b1 — EPSG:4326 → EPSG:3857 forward projection.
    * ref config.py TARGET_SRS=EPSG:3857; processing.py:36-61. */
  def qReprojectMercator(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val lon = Synth.lon(col("event_id"))
    val lat = Synth.lat(col("event_id"))
    e.select(col("event_id"), lon.as("lon"), lat.as("lat"))
      .withColumn("merc_x", round(col("lon") * (R * math.Pi / 180.0), 2))
      .withColumn("merc_y", round(lit(R) * log(tan(lit(math.Pi / 4) + radians(col("lat")) / 2)), 2))
      .orderBy("event_id")
  }

  val qReprojectMercatorSql: String =
    s"""WITH c AS (SELECT event_id, ${Synth.lonSql} AS lon, ${Synth.latSql} AS lat FROM events)
      SELECT event_id, lon, lat,
        round(lon * (6378137.0 * pi() / 180.0), 2) AS merc_x,
        round(6378137.0 * ln(tan(pi() / 4 + radians(lat) / 2)), 2) AS merc_y
      FROM c ORDER BY event_id"""

  /** b2 — reprojection decision, the reference's FULL matrix (ref
    * processing.py:36-61): (1) a source whose authority code is 4326
    * is never reprojected; (2) when both authority codes resolve, the
    * decision is the integer code comparison against the dst (4326);
    * (3) when the source has NO authority code (custom WKT —
    * `int(None)` raises in the reference), the fallback is the
    * geometric `IsSame` probe, and only a projection that IsSame
    * judges equivalent escapes reprojection. src_epsg = -1 models the
    * no-authority case; is_same models the probe's verdict for those
    * rows. */
  def qShouldReproject(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val src = when(col("event_id") % 5 === 0, 4326).when(col("event_id") % 5 === 1, 3857)
      .when(col("event_id") % 5 === 2, 2249).when(col("event_id") % 5 === 3, 32633)
      .otherwise(-1)
    e.select(col("event_id"), src.as("src_epsg"))
      .withColumn("is_same", col("src_epsg") === -1 && col("event_id") % 2 === 0)
      .withColumn("cmp_method",
        when(col("src_epsg") =!= -1, "authority_code").otherwise("is_same"))
      .withColumn("should_reproject",
        when(col("src_epsg") === 4326, false)
          .when(col("src_epsg") =!= -1, col("src_epsg") =!= 4326)
          .otherwise(!col("is_same")))
      .orderBy("event_id")
  }

  val qShouldReprojectSql: String =
    """WITH s AS (
        SELECT event_id,
          CASE WHEN event_id % 5 = 0 THEN 4326 WHEN event_id % 5 = 1 THEN 3857
               WHEN event_id % 5 = 2 THEN 2249 WHEN event_id % 5 = 3 THEN 32633
               ELSE -1 END AS src_epsg
        FROM events)
      SELECT event_id, src_epsg,
        (src_epsg = -1 AND event_id % 2 = 0) AS is_same,
        CASE WHEN src_epsg <> -1 THEN 'authority_code' ELSE 'is_same' END AS cmp_method,
        CASE WHEN src_epsg = 4326 THEN false
             WHEN src_epsg <> -1 THEN src_epsg <> 4326
             ELSE NOT (src_epsg = -1 AND event_id % 2 = 0) END AS should_reproject
      FROM s ORDER BY event_id"""

  /** shared: WebMercatorQuad tile coords at zoom z (map-only, no shuffle).
    * ref morecantile tms WebMercatorQuad (processing.py:506), tippecanoe
    * tile cutting. */
  private[graft] def tiled(spark: SparkSession, dir: String, z: Int): DataFrame = {
    val e = Tables.events(spark, dir)
    val n = math.pow(2, z).toInt
    val lon = Synth.lon(col("event_id"))
    val lat = Synth.lat(col("event_id"))
    val latc = greatest(least(lat, lit(MaxLat)), lit(-MaxLat))
    val xt = least(floor((lon + 180.0) / 360.0 * n), lit(n - 1)).cast("int")
    val yt = greatest(least(
      floor((lit(1.0) - log(tan(radians(latc)) + lit(1.0) / cos(radians(latc))) / math.Pi) / 2.0 * n),
      lit(n - 1)), lit(0)).cast("int")
    e.select(col("event_id"), col("event_type"), col("user_id"),
      lon.as("lon"), lat.as("lat"), xt.as("xt"), yt.as("yt"))
  }

  private[graft] def tiledSql(z: Int): String = {
    val n = math.pow(2, z).toInt
    s"""SELECT event_id, event_type, user_id,
        (${Synth.lonSql}) AS lon, (${Synth.latSql}) AS lat,
        CAST(LEAST(FLOOR(((${Synth.lonSql}) + 180.0) / 360.0 * $n), ${n - 1}) AS INT) AS xt,
        CAST(GREATEST(LEAST(FLOOR((1.0 - ln(tan(radians(GREATEST(LEAST(${Synth.latSql}, 85.05112878), -85.05112878)))
          + 1.0 / cos(radians(GREATEST(LEAST(${Synth.latSql}, 85.05112878), -85.05112878)))) / pi()) / 2.0 * $n),
          ${n - 1}), 0) AS INT) AS yt
      FROM events"""
  }

  /** b3 — per-feature tile assignment at z=8. */
  def qTileAssign(spark: SparkSession, dir: String): DataFrame =
    tiled(spark, dir, 8).select("event_id", "xt", "yt")
      .withColumn("z", lit(8)).orderBy("event_id")

  val qTileAssignSql: String =
    s"""SELECT event_id, xt, yt, 8 AS z FROM (${tiledSql(8)}) t ORDER BY event_id"""

  /** b4 — per-tile feature counts + layer counts (PMTiles tilestats).
    * ref processing.py:263-265, 349-359. */
  def qTileStats(spark: SparkSession, dir: String): DataFrame =
    tiled(spark, dir, 8).groupBy("xt", "yt")
      .agg(count(lit(1)).as("features"), countDistinct(col("event_type")).as("layers"))
      .orderBy("xt", "yt")

  val qTileStatsSql: String =
    s"""SELECT xt, yt, COUNT(*) AS features, COUNT(DISTINCT event_type) AS layers
      FROM (${tiledSql(8)}) t GROUP BY xt, yt ORDER BY xt, yt"""

  /** b5 — tippecanoe `-zg` max-zoom guess from per-layer feature count
    * (integer-exact via bin-string log2). ref processing.py:244. */
  def qZoomGuess(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type")).agg(count(lit(1)).as("features"))
      .withColumn("zoom_guess", expr("least(22, (length(bin(features)) + 1) div 2)").cast("int"))
      .orderBy("event_type")
  }

  val qZoomGuessSql: String =
    """SELECT event_type, COUNT(*) AS features,
        CAST(LEAST(22, (length(bin(COUNT(*))) + 1) // 2) AS INT) AS zoom_guess
      FROM events GROUP BY event_type ORDER BY event_type"""

  /** b6 — per-layer extent (FlatGeobuf header bbox). ref dataset2fgb. */
  def qLayerBbox(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_type"), Synth.lon(col("event_id")).as("lon"),
        Synth.lat(col("event_id")).as("lat"))
      .groupBy("event_type")
      .agg(min("lon").as("min_lon"), min("lat").as("min_lat"),
        max("lon").as("max_lon"), max("lat").as("max_lat"))
      .orderBy("event_type")
  }

  val qLayerBboxSql: String =
    s"""SELECT event_type, MIN(${Synth.lonSql}) AS min_lon, MIN(${Synth.latSql}) AS min_lat,
        MAX(${Synth.lonSql}) AS max_lon, MAX(${Synth.latSql}) AS max_lat
      FROM events GROUP BY event_type ORDER BY event_type"""

  /** b7 — make-valid / skipfailures: features outside the WebMercator
    * band are dropped; report kept/dropped per layer. ref
    * processing.py:138-144 (`-makevalid -skipfailures`). */
  def qMakeValid(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val latRaw = Synth.latRaw(col("event_id"))
    e.select(col("event_type"), latRaw.as("lat_raw"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("original"),
        sum(when(abs(col("lat_raw")) <= MaxLat, 1L).otherwise(0L)).as("converted"))
      .withColumn("dropped", col("original") - col("converted"))
      .orderBy("event_type")
  }

  val qMakeValidSql: String =
    s"""SELECT event_type, COUNT(*) AS original,
        CAST(SUM(CASE WHEN ABS(${Synth.latRawSql}) <= 85.05112878 THEN 1 ELSE 0 END) AS BIGINT) AS converted,
        COUNT(*) - CAST(SUM(CASE WHEN ABS(${Synth.latRawSql}) <= 85.05112878 THEN 1 ELSE 0 END) AS BIGINT) AS dropped
      FROM events GROUP BY event_type ORDER BY event_type"""

  /** b8 — original-vs-converted feature count gate ⇒ error record with
    * the reference's message shape. ref processing.py:160-181. */
  def qFeatureCountCheck(spark: SparkSession, dir: String): DataFrame = {
    val m = qMakeValid(spark, dir)
    m.select(col("event_type").as("layer"), col("original"), col("converted"),
        when(col("converted") === 0, "empty")
          .when(col("converted") =!= col("original"), "error").otherwise("ok").as("status"))
      .withColumn("message",
        when(col("status") === "error",
          concat(lit("There could be issues with layer \""), col("layer"),
            lit("\". Original number of features/geometries ="), col("original").cast("string"),
            lit(" while converted="), col("converted").cast("string")))
          .otherwise(""))
      .orderBy("layer")
  }

  val qFeatureCountCheckSql: String =
    s"""WITH m AS (
        SELECT event_type AS layer, COUNT(*) AS original,
          CAST(SUM(CASE WHEN ABS(${Synth.latRawSql}) <= 85.05112878 THEN 1 ELSE 0 END) AS BIGINT) AS converted
        FROM events GROUP BY event_type)
      SELECT layer, original, converted,
        CASE WHEN converted = 0 THEN 'empty'
             WHEN converted <> original THEN 'error' ELSE 'ok' END AS status,
        CASE WHEN converted <> original AND converted <> 0
             THEN 'There could be issues with layer "' || layer
                  || '". Original number of features/geometries =' || CAST(original AS VARCHAR)
                  || ' while converted=' || CAST(converted AS VARCHAR)
             ELSE '' END AS message
      FROM m ORDER BY layer"""

  /** b9 — COG overview pyramid: level L tiles are the 2×-downsampled
    * (integer shift) parents of L+1; report non-empty tiles + features
    * per level 8..5. ref config.py OVERVIEW_RESAMPLING=NEAREST,
    * dataset2cog overviews. Single-plan formulation: each base tile is
    * exploded into its 4 pyramid levels and ONE grouped agg keyed by
    * (level, x, y) builds every level — exactly one events scan and
    * one (tiny — base tiles only) shuffle, vs a per-level union that
    * would re-read the base 4×. */
  def qOverviewPyramid(spark: SparkSession, dir: String): DataFrame = {
    val base = tiled(spark, dir, 8).groupBy("xt", "yt").agg(count(lit(1)).as("cnt"))
    base.select(col("xt"), col("yt"), col("cnt"),
        explode(sequence(lit(5), lit(8))).as("level"))
      .select(col("level"),
        expr("xt div CAST(pow(2, 8 - level) AS INT)").as("x"),
        expr("yt div CAST(pow(2, 8 - level) AS INT)").as("y"),
        col("cnt"))
      .groupBy("level", "x", "y").agg(sum(col("cnt")).as("cnt"))
      .groupBy("level")
      .agg(count(lit(1)).as("tiles"), sum(col("cnt")).as("features"))
      .select(col("level"), col("tiles"), col("features"))
      .orderBy(col("level").desc)
  }

  val qOverviewPyramidSql: String = {
    val base = s"SELECT xt, yt, COUNT(*) AS cnt FROM (${tiledSql(8)}) t GROUP BY xt, yt"
    s"""WITH base AS ($base),
      lv AS (SELECT CAST(unnest(generate_series(5, 8)) AS INT) AS level, xt, yt, cnt FROM base),
      tiles AS (
        SELECT level, xt // CAST(pow(2, 8 - level) AS INT) AS x,
          yt // CAST(pow(2, 8 - level) AS INT) AS y, SUM(cnt) AS cnt
        FROM lv GROUP BY 1, 2, 3)
      SELECT level, COUNT(*) AS tiles, CAST(SUM(cnt) AS BIGINT) AS features
      FROM tiles GROUP BY level ORDER BY level DESC"""
  }

  /** b10 — per-band statistics (gdal.Info / cog_validate style): bands
    * stand in as l_linenumber, pixels as l_quantity. Variance from
    * exact decimal sums ⇒ order-insensitive. */
  def qBandStats(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.groupBy(col("l_linenumber").as("band"))
      .agg(count(lit(1)).as("n"),
        min(col("l_quantity")).as("min_val"),
        max(col("l_quantity")).as("max_val"),
        sum(col("l_quantity").cast("decimal(18,6)")).cast("double").as("sum_val"),
        sum((col("l_quantity") * col("l_quantity")).cast("decimal(28,8)")).cast("double").as("sum_sq"))
      .withColumn("mean_val", col("sum_val") / col("n").cast("double"))
      .withColumn("stddev_val",
        sqrt(greatest((col("sum_sq") - col("sum_val") * col("sum_val") / col("n").cast("double")) / col("n").cast("double"), lit(0.0))))
      .orderBy("band")
  }

  val qBandStatsSql: String =
    """WITH b AS (
        SELECT l_linenumber AS band, COUNT(*) AS n,
          MIN(l_quantity) AS min_val, MAX(l_quantity) AS max_val,
          CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
          CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(28,8))) AS DOUBLE) AS sum_sq
        FROM lineitem GROUP BY l_linenumber)
      SELECT band, n, min_val, max_val, sum_val, sum_sq,
        sum_val / CAST(n AS DOUBLE) AS mean_val,
        sqrt(GREATEST((sum_sq - sum_val * sum_val / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE), 0.0)) AS stddev_val
      FROM b ORDER BY band"""

  /** b11 — COG layout: 256-px block grid, band count, BIGTIFF decision,
    * overview count until max dim < 256. ref config.py:96
    * (blockxsize 256, BIGTIFF YES), processing.py:489-492. */
  def qCogLayout(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(col("p_partkey"),
        ((col("p_partkey") * 7919L) % 20000L + 256L).as("width"),
        ((col("p_partkey") * 104729L) % 20000L + 256L).as("height"),
        (col("p_size") % 6 + 1).as("nbands"))
      .withColumn("blocks_x", ((col("width") + 255L) / 256L).cast("long"))
      .withColumn("blocks_y", ((col("height") + 255L) / 256L).cast("long"))
      .withColumn("nbytes", col("width") * col("height") * col("nbands") * 2L)
      .withColumn("bigtiff", col("nbytes") > 4294967296L)
      .withColumn("overviews", length(expr("bin(greatest(width, height) div 256)")).cast("int"))
      .orderBy("p_partkey")
  }

  val qCogLayoutSql: String =
    """WITH d AS (
        SELECT p_partkey, (p_partkey * 7919) % 20000 + 256 AS width,
          (p_partkey * 104729) % 20000 + 256 AS height,
          p_size % 6 + 1 AS nbands
        FROM part)
      SELECT p_partkey, width, height, nbands,
        (width + 255) // 256 AS blocks_x, (height + 255) // 256 AS blocks_y,
        width * height * nbands * 2 AS nbytes,
        width * height * nbands * 2 > 4294967296 AS bigtiff,
        CAST(length(bin(GREATEST(width, height) // 256)) AS INT) AS overviews
      FROM d ORDER BY p_partkey"""

  /** b30 — bbox WINDOWED-READ planning over b11's COG layout: for a
    * tile-server request (here the deterministic central-quarter bbox
    * of each raster), which 256-px blocks intersect, how many ranged
    * reads they collapse to, and the read amplification the block
    * alignment costs. All CLOSED-FORM integer algebra — block
    * coordinates are floor divisions of the pixel bbox, blocks within
    * a row are contiguous in the row-major COG tile stream so ranges
    * merge to one per touched block-row (and to ONE total when the
    * bbox spans every block column — whole rows are then adjacent),
    * amplification is fetched-bytes vs exact-bbox-bytes in micro
    * units. This is the planning loop a raster endpoint runs per
    * request (ref processing.py windowed GDAL reads; azblob.py:302's
    * ranged download is the transport it feeds): map-only, no joins,
    * no explode — at 100 TB the plan is one pass over the catalog,
    * never the pixels. */
  def qCogReadPlan(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    p.select(col("p_partkey"),
        ((col("p_partkey") * 7919L) % 20000L + 256L).as("w"),
        ((col("p_partkey") * 104729L) % 20000L + 256L).as("h"),
        (col("p_size") % 6 + 1).cast("long").as("nbands"))
      .withColumn("blocks_x", expr("(w + 255) div 256"))
      // central-quarter bbox: pixels [w/4, 3w/4) × [h/4, 3h/4) —
      // every division is an integer floor (div), mirroring the
      // oracle's // exactly
      .withColumn("bx0", expr("w div 4 div 256"))
      .withColumn("bx1", expr("(w * 3 div 4 - 1) div 256"))
      .withColumn("by0", expr("h div 4 div 256"))
      .withColumn("by1", expr("(h * 3 div 4 - 1) div 256"))
      .withColumn("nbx", col("bx1") - col("bx0") + 1)
      .withColumn("nby", col("by1") - col("by0") + 1)
      .withColumn("n_blocks", col("nbx") * col("nby"))
      .withColumn("n_ranges",
        when(col("nbx") === col("blocks_x"), 1L).otherwise(col("nby")))
      .withColumn("bytes_read", col("n_blocks") * 131072L * col("nbands"))
      .withColumn("bbox_bytes",
        expr("(w * 3 div 4 - w div 4) * (h * 3 div 4 - h div 4)") * col("nbands") * 2L)
      .withColumn("amp_micro", expr("bytes_read * 1000000 div bbox_bytes"))
      .select("p_partkey", "n_blocks", "n_ranges", "bytes_read", "amp_micro")
      .orderBy("p_partkey")
  }

  val qCogReadPlanSql: String =
    """WITH d AS (
        SELECT p_partkey, (p_partkey * 7919) % 20000 + 256 AS w,
          (p_partkey * 104729) % 20000 + 256 AS h,
          CAST(p_size % 6 + 1 AS BIGINT) AS nbands
        FROM part),
      g AS (
        SELECT p_partkey, nbands, (w + 255) // 256 AS blocks_x,
          (w // 4) // 256 AS bx0, ((w * 3 // 4) - 1) // 256 AS bx1,
          (h // 4) // 256 AS by0, ((h * 3 // 4) - 1) // 256 AS by1,
          (w * 3 // 4 - w // 4) * (h * 3 // 4 - h // 4) * nbands * 2 AS bbox_bytes
        FROM d),
      m AS (
        SELECT p_partkey, nbands, blocks_x, bbox_bytes,
          bx1 - bx0 + 1 AS nbx, by1 - by0 + 1 AS nby
        FROM g)
      SELECT p_partkey, nbx * nby AS n_blocks,
        CASE WHEN nbx = blocks_x THEN 1 ELSE nby END AS n_ranges,
        nbx * nby * 131072 * nbands AS bytes_read,
        (nbx * nby * 131072 * nbands) * 1000000 // bbox_bytes AS amp_micro
      FROM m ORDER BY p_partkey"""

  /** b12 — multilayer PMTiles manifest (join_vector_tiles=true path):
    * one PMTiles file per dataset with all its layers; description is
    * the comma-joined layer list. ref processing.py:314-376
    * (`--named-layer`, description=",".join(layers)). Users stand in
    * for datasets, event types for layers. */
  def qPmtilesManifest(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("user_id"))
      .agg(countDistinct(col("event_type")).as("n_layers"),
        concat_ws(",", array_sort(collect_set(col("event_type")))).as("description"))
      .withColumn("pmtiles_name",
        concat(lit("dataset_user"), col("user_id").cast("string"), lit(".pmtiles")))
      .select("user_id", "pmtiles_name", "n_layers", "description")
      .orderBy("user_id")
  }

  val qPmtilesManifestSql: String =
    """SELECT user_id,
        'dataset_user' || CAST(user_id AS VARCHAR) || '.pmtiles' AS pmtiles_name,
        COUNT(DISTINCT event_type) AS n_layers,
        string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS description
      FROM events GROUP BY user_id ORDER BY user_id"""

  /** b12b — single-layer PMTiles fan-out (join_vector_tiles=false
    * path): when the a1-parsed flag is false, fgb2pmtiles emits one
    * PMTiles file PER layer named `{layer}.pmtiles`, plus an uploaded
    * `.fgb` twin per file; when true, one multilayer file per dataset.
    * ref processing.py:228-283 (per-layer tippecanoe, `.fgb` twin
    * upload), ingest.py:64-66 (flag parse). The dataset's flag comes
    * from its first queue message (min event_id), with the same parity
    * algebra a1 parses out of the message text. ONE aggregate produces
    * both the flag and the layer set — single scan, single shuffle,
    * then the fan-out is a pure explode. */
  def qPmtilesSingle(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val agg = e.groupBy("user_id")
      .agg(min("event_id").as("first_event"),
        array_sort(collect_set(col("event_type"))).as("layers"))
      .withColumn("join_vector_tiles", col("first_event") % 2 === 0)
    agg.select(col("user_id"), col("join_vector_tiles"), col("layers"),
        explode(when(col("join_vector_tiles"), array(lit(null).cast("string")))
          .otherwise(col("layers"))).as("layer"))
      .select(col("user_id"), col("join_vector_tiles"), col("layer"),
        when(col("layer").isNull,
          concat(lit("dataset_user"), col("user_id").cast("string"), lit(".pmtiles")))
          .otherwise(concat(col("layer"), lit(".pmtiles"))).as("pmtiles_name"),
        when(col("layer").isNull, lit(null).cast("string"))
          .otherwise(concat(col("layer"), lit(".pmtiles.fgb"))).as("fgb_twin"),
        size(col("layers")).as("n_layers"))
      .orderBy(col("user_id"), col("layer").asc_nulls_first)
  }

  val qPmtilesSingleSql: String =
    """WITH agg AS (
        SELECT user_id, MIN(event_id) AS first_event,
          list_sort(list(DISTINCT event_type)) AS layers
        FROM events GROUP BY user_id),
      f AS (SELECT user_id, first_event % 2 = 0 AS join_vector_tiles, layers FROM agg),
      x AS (
        SELECT user_id, join_vector_tiles, layers,
          unnest(CASE WHEN join_vector_tiles THEN [CAST(NULL AS VARCHAR)] ELSE layers END) AS layer
        FROM f)
      SELECT user_id, join_vector_tiles, layer,
        CASE WHEN layer IS NULL THEN 'dataset_user' || CAST(user_id AS VARCHAR) || '.pmtiles'
             ELSE layer || '.pmtiles' END AS pmtiles_name,
        CASE WHEN layer IS NULL THEN NULL ELSE layer || '.pmtiles.fgb' END AS fgb_twin,
        CAST(len(layers) AS INT) AS n_layers
      FROM x ORDER BY user_id, layer NULLS FIRST"""

  /** b17 — tippecanoe zoom/simplification/drop plan: the reference's
    * tippecanoe invocation (ref processing.py:236-255) passes `-zg`
    * (guess maxzoom), `--simplify-only-low-zooms` (simplify every zoom
    * BELOW maxzoom, keep full detail at maxzoom) and relies on
    * tippecanoe's feature dropping when a zoom's tile budget is
    * exceeded; `--extend-zooms-if-still-dropping` raises maxzoom until
    * nothing drops. Per (layer, zoom) accounting with a 500-feature
    * tile budget over 4^z tiles: kept = min(features, 500·4^z),
    * integer-exact via bin-length log2 in BOTH engines. */
  def qTippecanoePlan(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val perLayer = e.groupBy(col("event_type").as("layer"))
      .agg(count(lit(1)).as("features"))
      .withColumn("maxzoom", expr("least(22, (length(bin(features)) + 1) div 2)").cast("int"))
      // smallest z with 500*4^z >= features: ceil(log4(ceil(features/500)))
      .withColumn("m", expr("(features + 499) div 500"))
      .withColumn("no_drop_zoom", when(col("m") <= 1, 0)
        .otherwise(expr("(length(bin(m - 1)) + 1) div 2")).cast("int"))
      .withColumn("extended_maxzoom", least(lit(24), greatest(col("maxzoom"), col("no_drop_zoom"))))
    perLayer.select(col("layer"), col("features"), col("maxzoom"), col("extended_maxzoom"),
        explode(sequence(lit(0), col("maxzoom"))).as("z"))
      .withColumn("tile_budget", expr("500 * CAST(pow(4, z) AS BIGINT)"))
      .withColumn("kept", least(col("features"), col("tile_budget")))
      .withColumn("dropped", col("features") - col("kept"))
      .withColumn("simplify", col("z") < col("maxzoom"))
      .select("layer", "z", "features", "kept", "dropped", "simplify",
        "maxzoom", "extended_maxzoom")
      .orderBy("layer", "z")
  }

  val qTippecanoePlanSql: String =
    """WITH l AS (
        SELECT event_type AS layer, COUNT(*) AS features FROM events GROUP BY event_type),
      p AS (
        SELECT layer, features,
          CAST(LEAST(22, (length(bin(features)) + 1) // 2) AS INT) AS maxzoom,
          (features + 499) // 500 AS m
        FROM l),
      p2 AS (
        SELECT layer, features, maxzoom,
          CAST(CASE WHEN m <= 1 THEN 0 ELSE (length(bin(m - 1)) + 1) // 2 END AS INT) AS no_drop_zoom
        FROM p),
      p3 AS (
        SELECT layer, features, maxzoom,
          CAST(LEAST(24, GREATEST(maxzoom, no_drop_zoom)) AS INT) AS extended_maxzoom
        FROM p2),
      x AS (
        SELECT layer, features, maxzoom, extended_maxzoom,
          CAST(unnest(generate_series(0, maxzoom)) AS INT) AS z
        FROM p3)
      SELECT layer, z, features,
        LEAST(features, 500 * CAST(pow(4, z) AS BIGINT)) AS kept,
        features - LEAST(features, 500 * CAST(pow(4, z) AS BIGINT)) AS dropped,
        z < maxzoom AS simplify, maxzoom, extended_maxzoom
      FROM x ORDER BY layer, z"""

  /** b18 — Z-order (Morton) clustering key: bit-interleave of the z=8
    * tile coordinates. Sorting/range-partitioning data files by this
    * key keeps spatially-near tiles in the same file — the standard
    * layout trick (COG internal tiling does the same thing) that turns
    * bbox queries into a few contiguous file ranges at 100 TB. Pure
    * integer bit arithmetic, identical in both engines. */
  def qZorderKey(spark: SparkSession, dir: String): DataFrame = {
    val morton = (0 until 8).map { j =>
      expr(s"(((xt div ${1 << j}) % 2) * ${1L << (2 * j)}) + " +
        s"(((yt div ${1 << j}) % 2) * ${1L << (2 * j + 1)})")
    }.reduce(_ + _)
    tiled(spark, dir, 8)
      .select(col("event_id"), col("xt"), col("yt"))
      .withColumn("zkey", morton.cast("int"))
      .orderBy("event_id")
  }

  val qZorderKeySql: String = {
    val morton = (0 until 8).map { j =>
      s"(((xt // ${1 << j}) % 2) * ${1L << (2 * j)}) + (((yt // ${1 << j}) % 2) * ${1L << (2 * j + 1)})"
    }.mkString(" + ")
    s"""SELECT event_id, xt, yt, CAST($morton AS INT) AS zkey
      FROM (${tiledSql(8)}) t ORDER BY event_id"""
  }

  /** The z=8 tile stream (event_id, xt, yt) with its quadkey: digit i
    * from the MSB = 2·y_bit + x_bit. */
  private def quadkeyed(spark: SparkSession, dir: String): DataFrame = {
    val digits = (0 until 8).map { j =>
      val shift = 1 << (7 - j)
      expr(s"CAST(((yt div $shift) % 2) * 2 + ((xt div $shift) % 2) AS STRING)")
    }
    tiled(spark, dir, 8)
      .select(col("event_id"), col("xt"), col("yt"))
      .withColumn("quadkey", concat(digits: _*))
  }

  /** b19 — quadkey addressing: the Bing-scheme string key for a z=8
    * tile (digit i from the MSB = 2·y_bit + x_bit) — the tile
    * addressing PMTiles-ecosystem tooling uses for prefix queries: a
    * quadkey PREFIX is exactly an ancestor tile, so string prefix
    * ranges give pyramid subtree scans for free. Pure integer/concat
    * column math. */
  def qQuadkey(spark: SparkSession, dir: String): DataFrame = {
    quadkeyed(spark, dir)
      .orderBy("event_id")
  }

  val qQuadkeySql: String = {
    val digits = (0 until 8).map { j =>
      val shift = 1 << (7 - j)
      s"CAST(((yt // $shift) % 2) * 2 + ((xt // $shift) % 2) AS VARCHAR)"
    }.mkString(" || ")
    s"""SELECT event_id, xt, yt, $digits AS quadkey
      FROM (${tiledSql(8)}) t ORDER BY event_id"""
  }

  /** b20 — quadkey subtree scan: per-ancestor-tile (z=3) feature
    * counts + extent, answered entirely through quadkey string
    * PREFIXES — digit i of a quadkey is the ancestor at zoom i+1, so
    * `substr(quadkey, 1, 3)` groups the z=8 tile stream into its z=3
    * pyramid subtrees with zero extra tile math, and a `LIKE 'pfx%'`
    * range predicate on a quadkey-sorted layout becomes a contiguous
    * scan (the i3 sortWithinPartitions clustering makes it row-group
    * prunable). The aggregated answer per subtree is the b9 pyramid
    * relation computed a different way — only map work + one agg. */
  def qQuadkeySubtree(spark: SparkSession, dir: String): DataFrame = {
    quadkeyed(spark, dir)
      .withColumn("subtree", expr("substr(quadkey, 1, 3)"))
      .groupBy("subtree")
      .agg(count(lit(1)).as("n_features"),
        countDistinct(col("quadkey")).as("n_tiles"),
        min("xt").as("min_x"), max("xt").as("max_x"),
        min("yt").as("min_y"), max("yt").as("max_y"))
      .orderBy("subtree")
  }

  val qQuadkeySubtreeSql: String = {
    val digits = (0 until 8).map { j =>
      val shift = 1 << (7 - j)
      s"CAST(((yt // $shift) % 2) * 2 + ((xt // $shift) % 2) AS VARCHAR)"
    }.mkString(" || ")
    s"""WITH qk AS (
        SELECT event_id, xt, yt, $digits AS quadkey
        FROM (${tiledSql(8)}) t)
      SELECT substr(quadkey, 1, 3) AS subtree, COUNT(*) AS n_features,
        COUNT(DISTINCT quadkey) AS n_tiles,
        MIN(xt) AS min_x, MAX(xt) AS max_x, MIN(yt) AS min_y, MAX(yt) AS max_y
      FROM qk GROUP BY 1 ORDER BY subtree"""
  }

  /** b13 — inverse tiling: geographic bounds of each non-empty tile at
    * z=4 (morecantile Tile→bounds; tippecanoe tile cutting edges).
    * sinh spelled as (e^a - e^-a)/2 — the oracle engine lacks sinh. */
  def qTileBounds(spark: SparkSession, dir: String): DataFrame = {
    val n = 16 // 2^4
    val t = tiled(spark, dir, 4).select("xt", "yt").distinct()
    def latOf(yExpr: Column): Column = {
      val a = lit(math.Pi) * (lit(1.0) - lit(2.0) * yExpr / n)
      round(degrees(atan((exp(a) - exp(-a)) / 2.0)), 6)
    }
    t.select(col("xt"), col("yt"),
        round(col("xt").cast("double") / n * 360.0 - 180.0, 6).as("west"),
        round((col("xt") + 1).cast("double") / n * 360.0 - 180.0, 6).as("east"),
        latOf(col("yt").cast("double")).as("north"),
        latOf((col("yt") + 1).cast("double")).as("south"))
      .orderBy("xt", "yt")
  }

  val qTileBoundsSql: String = {
    def latOf(y: String) =
      s"round(degrees(atan((exp(pi() * (1.0 - 2.0 * $y / 16)) - exp(-(pi() * (1.0 - 2.0 * $y / 16)))) / 2.0)), 6)"
    s"""WITH t AS (SELECT DISTINCT xt, yt FROM (${tiledSql(4)}) s)
      SELECT xt, yt,
        round(CAST(xt AS DOUBLE) / 16 * 360.0 - 180.0, 6) AS west,
        round(CAST(xt + 1 AS DOUBLE) / 16 * 360.0 - 180.0, 6) AS east,
        ${latOf("CAST(yt AS DOUBLE)")} AS north,
        ${latOf("CAST(yt + 1 AS DOUBLE)")} AS south
      FROM t ORDER BY xt, yt"""
  }

  /** b14 — RGB/multiband grouping decision: bands whose max color
    * interpretation ≥ 3 (GDAL palette/RGB enums) or a PHOTOMETRIC tag
    * keep all bands in ONE multiband COG; otherwise one COG per band.
    * ref processing.py:717-819 (colorinterp / PHOTOMETRIC probe). */
  def qBandGrouping(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    val withBands = p.select(col("p_partkey"), (col("p_size") % 6 + 1).as("nbands"),
        (col("p_partkey") % 5 === 0).as("has_photometric"))
      .withColumn("b", explode(sequence(lit(1), col("nbands"))))
      .withColumn("colorinterp", (col("p_partkey") * 13 + col("b")) % 17)
    withBands.groupBy("p_partkey", "nbands", "has_photometric")
      .agg(max(col("colorinterp")).as("max_colorinterp"))
      .withColumn("plan",
        when(col("max_colorinterp") >= 3 || col("has_photometric"), "multiband")
          .otherwise("per-band"))
      .withColumn("n_outputs", when(col("plan") === "multiband", 1).otherwise(col("nbands")))
      .orderBy("p_partkey")
  }

  val qBandGroupingSql: String =
    """WITH bands AS (
        SELECT p_partkey, p_size % 6 + 1 AS nbands, p_partkey % 5 = 0 AS has_photometric,
          unnest(generate_series(1, p_size % 6 + 1)) AS b
        FROM part),
      probed AS (
        SELECT p_partkey, nbands, has_photometric,
          MAX((p_partkey * 13 + b) % 17) AS max_colorinterp
        FROM bands GROUP BY 1, 2, 3)
      SELECT p_partkey, CAST(nbands AS INT) AS nbands, has_photometric, max_colorinterp,
        CASE WHEN max_colorinterp >= 3 OR has_photometric THEN 'multiband' ELSE 'per-band' END AS plan,
        CAST(CASE WHEN max_colorinterp >= 3 OR has_photometric THEN 1 ELSE nbands END AS INT) AS n_outputs
      FROM probed ORDER BY p_partkey"""

  /** b15 — subdataset enumeration (NetCDF/GDB-style containers):
    * explode `DRIVER:"path":var` subdataset paths and derive COG names
    * from the last colon segment. ref processing.py:717-741,
    * utils.get_local_cog_path:65-77. */
  def qSubdatasets(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").filter(col("p_partkey") % 4 === 0)
    p.select(col("p_partkey"), (col("p_partkey") % 3 + 1).as("n_subds"))
      .withColumn("i0", explode(sequence(lit(1), col("n_subds"))))
      .withColumn("i", col("i0").cast("int"))
      .withColumn("subds_path",
        concat(lit("NETCDF:\"file_"), col("p_partkey").cast("string"),
          lit(".nc\":var"), col("i").cast("string")))
      .withColumn("cog_name",
        concat(regexp_extract(col("subds_path"), "[^:]+$", 0), lit(".tif")))
      .select("p_partkey", "i", "subds_path", "cog_name")
      .orderBy("p_partkey", "i")
  }

  val qSubdatasetsSql: String =
    """WITH s AS (
        SELECT p_partkey, unnest(generate_series(1, p_partkey % 3 + 1)) AS i
        FROM part WHERE p_partkey % 4 = 0),
      paths AS (
        SELECT p_partkey, CAST(i AS INT) AS i,
          'NETCDF:"file_' || CAST(p_partkey AS VARCHAR) || '.nc":var' || CAST(i AS VARCHAR) AS subds_path
        FROM s)
      SELECT p_partkey, i, subds_path,
        regexp_extract(subds_path, '[^:]+$', 0) || '.tif' AS cog_name
      FROM paths ORDER BY p_partkey, i"""

  /** b16 — distributed spatial join: features vs query boxes. The
    * scale pattern is tile-blocking — each box explodes into the ≤4
    * coarse tiles it covers (z=3), features join on their tile, exact
    * bbox containment verifies. The oracle is the NAIVE exact
    * cross-join — results must agree, proving the blocking loses
    * nothing. At 100 TB the naive join is impossible; the blocked one
    * shuffles each side once on the tile key. */
  def qBboxJoin(spark: SparkSession, dir: String): DataFrame = {
    val z = 3
    val n = 1 << z
    val s = Tables(spark, dir, "supplier")
    val boxes = s.select(col("s_suppkey").as("box_id"),
        ((col("s_suppkey") * 7907L % 300000L).cast("double") / 1000.0 - 150.0).as("west"),
        ((col("s_suppkey") * 104729L % 120000L).cast("double") / 1000.0 - 60.0).as("south"))
      .withColumn("east", col("west") + 15.0)
      .withColumn("north", col("south") + 10.0)
    def tx(lon: Column): Column = least(floor((lon + 180.0) / 360.0 * n), lit(n - 1)).cast("int")
    def ty(lat: Column): Column = {
      val latc = greatest(least(lat, lit(MaxLat)), lit(-MaxLat))
      greatest(least(floor((lit(1.0) - log(tan(radians(latc)) + lit(1.0) / cos(radians(latc))) / math.Pi) / 2.0 * n),
        lit(n - 1)), lit(0)).cast("int")
    }
    val boxTiles = boxes
      .withColumn("xt", explode(sequence(tx(col("west")), tx(col("east")))))
      .withColumn("yt", explode(sequence(ty(col("north")), ty(col("south")))))
    val feats = Tables.events(spark, dir).select(col("event_id"),
        Synth.lon(col("event_id")).as("lon"), Synth.lat(col("event_id")).as("lat"))
      .withColumn("xt", tx(col("lon"))).withColumn("yt", ty(col("lat")))
    feats.join(boxTiles, Seq("xt", "yt"))
      .filter(col("lon") >= col("west") && col("lon") <= col("east") &&
        col("lat") >= col("south") && col("lat") <= col("north"))
      .groupBy("box_id")
      .agg(count(lit(1)).as("n_features"))
      .orderBy("box_id")
  }

  val qBboxJoinSql: String =
    s"""WITH boxes AS (
        SELECT s_suppkey AS box_id,
          CAST(s_suppkey * 7907 % 300000 AS DOUBLE) / 1000.0 - 150.0 AS west,
          CAST(s_suppkey * 104729 % 120000 AS DOUBLE) / 1000.0 - 60.0 AS south
        FROM supplier),
      b AS (SELECT box_id, west, south, west + 15.0 AS east, south + 10.0 AS north FROM boxes),
      f AS (SELECT event_id, ${Synth.lonSql} AS lon, ${Synth.latSql} AS lat FROM events)
      SELECT box_id, COUNT(*) AS n_features
      FROM f, b
      WHERE lon >= west AND lon <= east AND lat >= south AND lat <= north
      GROUP BY box_id ORDER BY box_id"""

  /** b21 — vector layer-name enumeration: the per-file layer list
    * that drives the fgb fan-out (ref fgb_upload/main.py:54-66
    * get_layer_names reads vector_layers ids from PMTiles metadata;
    * main.py:150-152 GetLayerCount/GetLayerByIndex for the opened
    * dataset). Layer counts/names are a deterministic synthesis from
    * the file key — mirroring b15's subdataset pattern — and
    * zero-layer files yield no rows, exactly the reference's
    * `if layer_count == 0: continue`. Map-only explode; feeds the
    * b12/b12b manifest layer lists and the a21 sweep. */
  def qLayerNames(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val fname = Synth.fileName(col("event_id"))
    e.filter(Synth.ext(col("event_id")) === ".pmtiles")
      .select(col("event_id"), col("user_id"),
        expr("CAST((event_id div 10) % 4 AS INT)").as("n_layers"))
      .filter(col("n_layers") >= 1)
      .withColumn("i", explode(sequence(lit(1), col("n_layers"))))
      .select(col("event_id"),
        concat(lit("user"), col("user_id").cast("string"), lit("/datasets/"),
          fname, lit("/"), fname).as("blob_path"),
        col("n_layers"), col("i").cast("int").as("i"),
        concat(lit("layer_"), col("i").cast("string"), lit("_"),
          (col("event_id") % 97).cast("string")).as("layer_name"))
      .orderBy("event_id", "i")
  }

  val qLayerNamesSql: String =
    s"""WITH p AS (
        SELECT event_id, user_id, CAST((event_id // 10) % 4 AS INT) AS n_layers
        FROM events WHERE (${Synth.extSql}) = '.pmtiles'),
      x AS (SELECT event_id, user_id, n_layers, unnest(generate_series(1, n_layers)) AS i
        FROM p WHERE n_layers >= 1)
      SELECT event_id,
        'user' || CAST(user_id AS VARCHAR) || '/datasets/' || (${Synth.fileNameSql})
          || '/' || (${Synth.fileNameSql}) AS blob_path,
        n_layers, CAST(i AS INT) AS i,
        'layer_' || CAST(i AS VARCHAR) || '_' || CAST(event_id % 97 AS VARCHAR) AS layer_name
      FROM x ORDER BY event_id, i"""

  /** b22 — GDAL COG creation-option table (ref config.py:82-112
    * gdal_configs): profile name → rio-cogeo creation options
    * (COMPRESS / QUALITY / PHOTOMETRIC), with the reference's
    * unconditional overrides applied on top (BIGTIFF=YES,
    * blockxsize=blockysize=256, PREDICTOR=YES where the codec supports
    * a predictor, OVERVIEW_RESAMPLING=NEAREST), joined to b11's block
    * layout so each file carries its resolved write plan. Pure
    * map-side CASE algebra over the same single `part` scan b11 uses —
    * no shuffle except the presentation sort. */
  def qGdalProfile(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
    val profiles = Seq("zstd", "lzw", "deflate", "webp", "jpeg", "packbits", "lzma", "raw")
    val compress = Seq("ZSTD", "LZW", "DEFLATE", "WEBP", "JPEG", "PACKBITS", "LZMA", "NONE")
    val idx = col("p_partkey") % 8
    val profile = profiles.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (v, k)) => when(idx === k, v).otherwise(acc)
    }
    val comp = compress.zipWithIndex.foldLeft(lit(null).cast("string")) {
      case (acc, (v, k)) => when(idx === k, v).otherwise(acc)
    }
    p.select(col("p_partkey"),
        ((col("p_partkey") * 7919L) % 20000L + 256L).as("width"),
        ((col("p_partkey") * 104729L) % 20000L + 256L).as("height"),
        profile.as("profile"), comp.as("compress"))
      .withColumn("quality",
        when(col("compress") === "JPEG", 85).when(col("compress") === "WEBP", 75)
          .otherwise(lit(null)).cast("int"))
      .withColumn("photometric",
        when(col("compress") === "JPEG", "YCbCr").otherwise(lit(null).cast("string")))
      .withColumn("predictor",
        when(col("compress").isin("ZSTD", "LZW", "DEFLATE"), "YES").otherwise("NO"))
      .withColumn("overview_resampling", lit("NEAREST"))
      .withColumn("blockxsize", lit(256))
      .withColumn("bigtiff", lit("YES"))
      .withColumn("blocks_x", ((col("width") + 255L) / 256L).cast("long"))
      .withColumn("blocks_y", ((col("height") + 255L) / 256L).cast("long"))
      .drop("width", "height")
      .orderBy("p_partkey")
  }

  val qGdalProfileSql: String =
    """WITH d AS (
        SELECT p_partkey, (p_partkey * 7919) % 20000 + 256 AS width,
          (p_partkey * 104729) % 20000 + 256 AS height,
          CASE p_partkey % 8 WHEN 0 THEN 'zstd' WHEN 1 THEN 'lzw' WHEN 2 THEN 'deflate'
            WHEN 3 THEN 'webp' WHEN 4 THEN 'jpeg' WHEN 5 THEN 'packbits'
            WHEN 6 THEN 'lzma' ELSE 'raw' END AS profile,
          CASE p_partkey % 8 WHEN 0 THEN 'ZSTD' WHEN 1 THEN 'LZW' WHEN 2 THEN 'DEFLATE'
            WHEN 3 THEN 'WEBP' WHEN 4 THEN 'JPEG' WHEN 5 THEN 'PACKBITS'
            WHEN 6 THEN 'LZMA' ELSE 'NONE' END AS compress
        FROM part)
      SELECT p_partkey, profile, compress,
        CAST(CASE WHEN compress = 'JPEG' THEN 85 WHEN compress = 'WEBP' THEN 75 END AS INT) AS quality,
        CASE WHEN compress = 'JPEG' THEN 'YCbCr' END AS photometric,
        CASE WHEN compress IN ('ZSTD','LZW','DEFLATE') THEN 'YES' ELSE 'NO' END AS predictor,
        'NEAREST' AS overview_resampling, 256 AS blockxsize, 'YES' AS bigtiff,
        (width + 255) // 256 AS blocks_x, (height + 255) // 256 AS blocks_y
      FROM d ORDER BY p_partkey"""

  /** b4b — tilestats schema validation (ref processing.py:349-376):
    * after tippecanoe writes the PMTiles, the reference reads
    * `metadata()["tilestats"]["layers"]`, builds the layer→count dict,
    * and errors when an expected layer is absent from the dict or
    * present with count 0. Expected layers come from the dataset's own
    * feature groups (one groupBy shuffle); the tippecanoe-reported
    * side is a deterministic synthesis keyed on (dataset, layer) so
    * all three verdicts — ok / empty / missing — occur. Status algebra
    * is pure post-aggregation column math. */
  def qTilestatsValid(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val expected = e.groupBy(col("user_id"), col("event_type").as("layer"))
      .agg(count(lit(1)).as("expected_features"))
    val key = col("user_id") * 131L + ascii(col("layer")) + length(col("layer"))
    expected
      .withColumn("in_tilestats", pmod(key, lit(13L)) =!= 0L)
      .withColumn("reported_count",
        when(!col("in_tilestats"), lit(null).cast("long"))
          .when(pmod(key, lit(11L)) === 0L, 0L)
          .otherwise(col("expected_features")))
      .withColumn("status",
        when(!col("in_tilestats"), "missing")
          .when(col("reported_count") === 0L, "empty")
          .otherwise("ok"))
      .orderBy("user_id", "layer")
  }

  val qTilestatsValidSql: String =
    """WITH x AS (
        SELECT user_id, event_type AS layer, COUNT(*) AS expected_features,
          user_id * 131 + ascii(event_type) + length(event_type) AS k
        FROM events GROUP BY 1, 2)
      SELECT user_id, layer, expected_features,
        k % 13 <> 0 AS in_tilestats,
        CAST(CASE WHEN k % 13 = 0 THEN NULL WHEN k % 11 = 0 THEN 0
          ELSE expected_features END AS BIGINT) AS reported_count,
        CASE WHEN k % 13 = 0 THEN 'missing' WHEN k % 11 = 0 THEN 'empty'
          ELSE 'ok' END AS status
      FROM x ORDER BY user_id, layer"""

  /** b24 — point-in-POLYGON containment join (the step past b16's
    * rectangle test: tippecanoe's tile cutting clips features against
    * actual polygon geometry, ref processing.py:236-255). Geometry is
    * integer micro-degrees END TO END: convex parallelograms (center
    * + half-extents + shear, all BIGINT from the key) and points
    * synthesized on the same integer grid, so the containment test —
    * four CCW edge cross-products ≥ 0 — is EXACT 64-bit arithmetic
    * with no epsilon and no float drift cross-engine (products peak
    * ~8e16, well inside long). The O(points × polygons) blow-up is
    * blocked by 2^24-µdeg grid cells: each polygon explodes into the
    * ≤9 cells its bbox covers (broadcast — tiny), each point lands in
    * EXACTLY one cell (no post-join dedup), the join is a broadcast
    * hash probe and the exact test runs only on cell-collocated
    * candidates. At 100 TB the points side stays map-only. Oracle is
    * the naive exact cross join — blocking must not change results. */
  def qPolygonJoin(spark: SparkSession, dir: String): DataFrame = {
    val cell = 16777216L // 2^24 µdeg ≈ 16.8°
    val s = Tables(spark, dir, "supplier")
    val k = col("s_suppkey").cast("long")
    val g = s.select(col("s_suppkey").as("poly_id"),
        (k * 15485863L % 300000000L - 150000000L + 180000000L).as("cx"),
        (k * 32452843L % 120000000L - 60000000L + 85000000L).as("cy"),
        (k % 7L * 1000000L + 5000000L).as("a"),
        (k % 5L * 1000000L + 3000000L).as("b"),
        ((k % 9L - 4L) * 1000000L).as("sx"))
    val v = g.select(col("poly_id"),
      (col("cx") - col("a") - col("sx")).as("x1"), (col("cy") - col("b")).as("y1"),
      (col("cx") + col("a") - col("sx")).as("x2"), (col("cy") - col("b")).as("y2"),
      (col("cx") + col("a") + col("sx")).as("x3"), (col("cy") + col("b")).as("y3"),
      (col("cx") - col("a") + col("sx")).as("x4"), (col("cy") + col("b")).as("y4"))
    // all coordinates are non-negative by construction, so `div` is
    // floor division and each point lands in exactly one cell
    val polyCells = v
      .withColumn("cxl", explode(sequence(
        expr(s"least(x1, x4) div $cell"), expr(s"greatest(x2, x3) div $cell"))))
      .withColumn("cyl", explode(sequence(
        expr(s"y1 div $cell"), expr(s"y3 div $cell"))))
    // Synth.lon/lat's multipliers at µdeg resolution (decorrelated
    // lattice — the 7919/104729 pair left 80% of polygons unreachable)
    val pts = Tables.events(spark, dir).select(col("event_id"),
        (col("event_id") * 2654435761L % 360000000L).as("px"),
        (col("event_id") * 1327217873L % 170000000L).as("py"))
      .withColumn("cxl", expr(s"px div $cell"))
      .withColumn("cyl", expr(s"py div $cell"))
    def cross(xi: Column, yi: Column, xj: Column, yj: Column): Column =
      (xj - xi) * (col("py") - yi) - (yj - yi) * (col("px") - xi)
    pts.join(broadcast(polyCells), Seq("cxl", "cyl"))
      .filter(
        cross(col("x1"), col("y1"), col("x2"), col("y2")) >= 0 &&
        cross(col("x2"), col("y2"), col("x3"), col("y3")) >= 0 &&
        cross(col("x3"), col("y3"), col("x4"), col("y4")) >= 0 &&
        cross(col("x4"), col("y4"), col("x1"), col("y1")) >= 0)
      .groupBy("poly_id")
      .agg(count(lit(1)).as("n_points"))
      .orderBy("poly_id")
  }

  val qPolygonJoinSql: String =
    """WITH p AS (
        SELECT event_id, event_id * 2654435761 % 360000000 AS px,
               event_id * 1327217873 % 170000000 AS py FROM events),
      g AS (SELECT s_suppkey AS poly_id,
          CAST(s_suppkey AS BIGINT) * 15485863 % 300000000 - 150000000 + 180000000 AS cx,
          CAST(s_suppkey AS BIGINT) * 32452843 % 120000000 - 60000000 + 85000000 AS cy,
          s_suppkey % 7 * 1000000 + 5000000 AS a,
          s_suppkey % 5 * 1000000 + 3000000 AS b,
          (s_suppkey % 9 - 4) * 1000000 AS sx
        FROM supplier),
      v AS (SELECT poly_id,
          cx - a - sx AS x1, cy - b AS y1, cx + a - sx AS x2, cy - b AS y2,
          cx + a + sx AS x3, cy + b AS y3, cx - a + sx AS x4, cy + b AS y4
        FROM g)
      SELECT poly_id, COUNT(*) AS n_points
      FROM p, v
      WHERE (x2-x1)*(py-y1) - (y2-y1)*(px-x1) >= 0
        AND (x3-x2)*(py-y2) - (y3-y2)*(px-x2) >= 0
        AND (x4-x3)*(py-y3) - (y4-y3)*(px-x3) >= 0
        AND (x1-x4)*(py-y4) - (y1-y4)*(px-x4) >= 0
      GROUP BY poly_id ORDER BY poly_id"""

  /** b25 — exact polygon metrics over b24's deterministic convex
    * quads: shoelace area (2A as an EXACT 64-bit integer in µdeg² —
    * relative coords ≤ 1.2·10⁷ keep every cross term ≤ 3·10¹⁴),
    * bounding-box area, the fill ratio area/bbox (tippecanoe's
    * feature-density signal — shear-dependent, so it actually varies),
    * and the polygon-centroid offset from the generator center by the
    * standard Σ(xᵢ+xⱼ)·crossᵢⱼ / 3·2A formula in UNIT coordinates
    * (the generator's offsets are 10⁶-µdeg multiples, so unit coords
    * are ≤ 24 and the centroid numerators are exact tiny integers;
    * one IEEE division each at the end). Map-only — the per-feature
    * geometry pass a 100 TB tile pipeline runs before density
    * decisions; no shuffle at all until the ORDER BY. */
  def qPolygonMetrics(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier")
    val k = col("s_suppkey").cast("long")
    val g = s.select(col("s_suppkey").as("poly_id"),
      (k % 7L + 5L).as("au"), (k % 5L + 3L).as("bu"), (k % 9L - 4L).as("sxu"))
    // relative unit vertices: (-au-sxu,-bu) (au-sxu,-bu) (au+sxu,bu) (-au+sxu,bu)
    g.select(col("poly_id"),
        expr("""(-au-sxu)*(-bu) - (au-sxu)*(-bu)
              + (au-sxu)*bu - (au+sxu)*(-bu)
              + (au+sxu)*bu - (-au+sxu)*bu
              + (-au+sxu)*(-bu) - (-au-sxu)*bu""").as("area2_u"),
        expr("(2*au + 2*abs(sxu)) * (2*bu)").as("bbox_u"),
        expr("""((-au-sxu)+(au-sxu)) * ((-au-sxu)*(-bu) - (au-sxu)*(-bu))
              + ((au-sxu)+(au+sxu)) * ((au-sxu)*bu - (au+sxu)*(-bu))
              + ((au+sxu)+(-au+sxu)) * ((au+sxu)*bu - (-au+sxu)*bu)
              + ((-au+sxu)+(-au-sxu)) * ((-au+sxu)*(-bu) - (-au-sxu)*bu)""").as("cnx"),
        expr("""((-bu)+(-bu)) * ((-au-sxu)*(-bu) - (au-sxu)*(-bu))
              + ((-bu)+bu) * ((au-sxu)*bu - (au+sxu)*(-bu))
              + (bu+bu) * ((au+sxu)*bu - (-au+sxu)*bu)
              + (bu+(-bu)) * ((-au+sxu)*(-bu) - (-au-sxu)*bu)""").as("cny"))
      .select(col("poly_id"),
        (col("area2_u") * 1000000000000L).as("area2_udeg2"),
        (col("bbox_u") * 1000000000000L).as("bbox_udeg2"),
        (col("area2_u").cast("double") / (col("bbox_u") * 2)).as("fill_ratio"),
        (col("cnx").cast("double") / (col("area2_u") * 3)).as("centroid_dx_u"),
        (col("cny").cast("double") / (col("area2_u") * 3)).as("centroid_dy_u"))
      .orderBy("poly_id")
  }

  val qPolygonMetricsSql: String =
    """WITH g AS (SELECT s_suppkey AS poly_id,
          CAST(s_suppkey % 7 + 5 AS BIGINT) AS au,
          CAST(s_suppkey % 5 + 3 AS BIGINT) AS bu,
          CAST(s_suppkey % 9 - 4 AS BIGINT) AS sxu
        FROM supplier),
      m AS (SELECT poly_id,
          (-au-sxu)*(-bu) - (au-sxu)*(-bu)
            + (au-sxu)*bu - (au+sxu)*(-bu)
            + (au+sxu)*bu - (-au+sxu)*bu
            + (-au+sxu)*(-bu) - (-au-sxu)*bu AS area2_u,
          (2*au + 2*abs(sxu)) * (2*bu) AS bbox_u,
          ((-au-sxu)+(au-sxu)) * ((-au-sxu)*(-bu) - (au-sxu)*(-bu))
            + ((au-sxu)+(au+sxu)) * ((au-sxu)*bu - (au+sxu)*(-bu))
            + ((au+sxu)+(-au+sxu)) * ((au+sxu)*bu - (-au+sxu)*bu)
            + ((-au+sxu)+(-au-sxu)) * ((-au+sxu)*(-bu) - (-au-sxu)*bu) AS cnx,
          ((-bu)+(-bu)) * ((-au-sxu)*(-bu) - (au-sxu)*(-bu))
            + ((-bu)+bu) * ((au-sxu)*bu - (au+sxu)*(-bu))
            + (bu+bu) * ((au+sxu)*bu - (-au+sxu)*bu)
            + (bu+(-bu)) * ((-au+sxu)*(-bu) - (-au-sxu)*bu) AS cny
        FROM g)
      SELECT poly_id, area2_u * 1000000000000 AS area2_udeg2,
        bbox_u * 1000000000000 AS bbox_udeg2,
        CAST(area2_u AS DOUBLE) / (bbox_u * 2) AS fill_ratio,
        CAST(cnx AS DOUBLE) / (area2_u * 3) AS centroid_dx_u,
        CAST(cny AS DOUBLE) / (area2_u * 3) AS centroid_dy_u
      FROM m ORDER BY poly_id"""

  /** Tile-coordinate template strings over arbitrary lon/lat column
    * expressions (shared by both engines — the b3 formula lifted off
    * the Synth source so reprojected coordinates can tile). */
  private[graft] def tileXS(lon: String, n: Int): String =
    s"CAST(LEAST(FLOOR((($lon) + 180.0) / 360.0 * $n), ${n - 1}) AS INT)"
  private[graft] def tileYS(lat: String, n: Int): String = {
    val c = s"GREATEST(LEAST(($lat), 85.05112878), -85.05112878)"
    s"CAST(GREATEST(LEAST(FLOOR((1.0 - ln(tan(radians($c)) + 1.0 / cos(radians($c))) / pi()) / 2.0 * $n), ${n - 1}), 0) AS INT)"
  }

  /** b28 — the reference's VECTOR PATH end-to-end as ONE declarative
    * plan, in the reference's ACTUAL ORDER (ingest.py:244-247 →
    * processing.py:100-160 → 138-144 → 216-402): route the upload
    * backlog (a2's format CASE — only vector formats proceed) →
    * REPROJECT every feature to EPSG:4326 (b39's dispatch core — the
    * compiled graft_reproject kernel; dead-letter rows become the
    * layer's n_unprojectable, the reference's reprojection-failure
    * error path) → run b36's -makevalid verdict on every projected
    * feature's ring (bowties repair and tile on, slivers drop) → tile
    * the KEPT features at z=8 off the REPROJECTED coordinates (b3's
    * formula lifted onto lon_4326/lat_4326) → per-layer tilestats
    * (b4), extent (b6), -zg zoom guess (b5), repaired/dropped/
    * unprojectable accounting (b8's count gate) and the datasets/
    * destination (a4) — what processing.py does with ogr2ogr +
    * -makevalid + tippecanoe per FILE, here for the whole backlog in
    * one Catalyst plan. Every stage reuses its individually
    * oracle-gated component's machinery verbatim, and the composition
    * itself is oracle-gated. Shape: routing, reprojection, validity
    * and tiling are all map-only over ONE events scan (PlanAuditSpec
    * counts the FileScan); the tile agg shuffles on (layer, x, y) and
    * the layer rollup re-shuffles the BOUNDED tile summary — two
    * shuffles, the second over tile-count-sized data. */
  def qGeoE2e(spark: SparkSession, dir: String): DataFrame = {
    val ext = Synth.ext(col("event_id"))
    val vec = GeoGeom.quadGenColsFor("event_id").foldLeft(
      GeoProj.dispatched(spark, dir, keep = Seq("user_id"))
        .withColumn("route",
          when(ext.isin(".gpkg", ".geojson", ".gdb", ".fgb", ".shp", ".mbtiles"),
            "pmtiles").otherwise("other"))
        .filter(col("route") === "pmtiles")) {
        case (df, (e, n)) => df.withColumn(n, expr(e)) }
      // b36 verbatim: crossing-first (a symmetric bowtie's signed
      // shoelace cancels), repaired rings tile on, slivers drop
      .withColumn("status",
        when(expr(GeoGeom.crossS), "repaired")
          .when(expr(GeoGeom.degenS), "dropped")
          .otherwise("valid"))
      .withColumn("projected", col("lon_4326").isNotNull)
      .withColumn("xt", expr(tileXS("lon_4326", 256)))
      .withColumn("yt", expr(tileYS("lat_4326", 256)))
    val kept = col("projected") && col("status") =!= "dropped"
    val tileStats = vec.groupBy("user_id", "xt", "yt")
      .agg(sum(when(kept, 1L).otherwise(0L)).as("cnt"),
        sum(when(col("projected") && col("status") === "repaired", 1L)
          .otherwise(0L)).as("rep"),
        sum(when(col("projected") && col("status") === "dropped", 1L)
          .otherwise(0L)).as("drp"),
        sum(when(col("projected"), 0L).otherwise(1L)).as("unproj"),
        min(when(kept, col("lon_4326"))).as("mnlon"),
        max(when(kept, col("lon_4326"))).as("mxlon"),
        min(when(kept, col("lat_4326"))).as("mnlat"),
        max(when(kept, col("lat_4326"))).as("mxlat"))
    tileStats.groupBy("user_id")
      .agg(sum("cnt").as("n_features"),
        sum("rep").as("n_repaired"),
        sum("drp").as("n_dropped"),
        sum("unproj").as("n_unprojectable"),
        sum(when(col("cnt") > 0, 1L).otherwise(0L)).as("n_tiles"),
        max("cnt").as("max_tile_features"),
        min("mnlon").as("min_lon"), max("mxlon").as("max_lon"),
        min("mnlat").as("min_lat"), max("mxlat").as("max_lat"))
      .withColumn("zoom_guess",
        expr("least(22, (length(bin(n_features)) + 1) div 2)").cast("int"))
      .withColumn("dst_path",
        concat(lit("datasets/user"), col("user_id").cast("string"),
          lit("/layer.pmtiles")))
      .orderBy("user_id")
  }

  val qGeoE2eSql: String = {
    val ext = Synth.extSql
    val gen = GeoGeom.quadGenColsFor("event_id")
      .map { case (e, n) => s"$e AS $n" }.mkString(", ")
    s"""WITH d AS (${GeoProj.dispatchedSql(Seq("user_id"))}),
      vec0 AS (
        SELECT * FROM d
        WHERE ($ext) IN ('.gpkg','.geojson','.gdb','.fgb','.shp','.mbtiles')),
      vg AS (SELECT *, $gen FROM vec0),
      vec AS (
        SELECT *, CASE WHEN ${GeoGeom.crossS} THEN 'repaired'
                       WHEN ${GeoGeom.degenS} THEN 'dropped'
                       ELSE 'valid' END AS status,
          lon_4326 IS NOT NULL AS projected,
          ${tileXS("lon_4326", 256)} AS xt,
          ${tileYS("lat_4326", 256)} AS yt
        FROM vg),
      ts AS (
        SELECT user_id, xt, yt,
          CAST(SUM(CASE WHEN projected AND status <> 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS cnt,
          CAST(SUM(CASE WHEN projected AND status = 'repaired' THEN 1 ELSE 0 END) AS BIGINT) AS rep,
          CAST(SUM(CASE WHEN projected AND status = 'dropped' THEN 1 ELSE 0 END) AS BIGINT) AS drp,
          CAST(SUM(CASE WHEN projected THEN 0 ELSE 1 END) AS BIGINT) AS unproj,
          MIN(CASE WHEN projected AND status <> 'dropped' THEN lon_4326 END) AS mnlon,
          MAX(CASE WHEN projected AND status <> 'dropped' THEN lon_4326 END) AS mxlon,
          MIN(CASE WHEN projected AND status <> 'dropped' THEN lat_4326 END) AS mnlat,
          MAX(CASE WHEN projected AND status <> 'dropped' THEN lat_4326 END) AS mxlat
        FROM vec GROUP BY user_id, xt, yt)
      SELECT user_id, CAST(SUM(cnt) AS BIGINT) AS n_features,
        CAST(SUM(rep) AS BIGINT) AS n_repaired,
        CAST(SUM(drp) AS BIGINT) AS n_dropped,
        CAST(SUM(unproj) AS BIGINT) AS n_unprojectable,
        CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tiles,
        MAX(cnt) AS max_tile_features,
        MIN(mnlon) AS min_lon, MAX(mxlon) AS max_lon,
        MIN(mnlat) AS min_lat, MAX(mxlat) AS max_lat,
        CAST(LEAST(22, (length(bin(CAST(SUM(cnt) AS BIGINT))) + 1) // 2) AS INT) AS zoom_guess,
        'datasets/user' || CAST(user_id AS VARCHAR) || '/layer.pmtiles' AS dst_path
      FROM ts GROUP BY user_id ORDER BY user_id"""
  }

  /** b29 — the reference's RASTER PATH end-to-end as ONE declarative
    * plan (b28's vector twin; together they cover both sides of
    * ingest.py's double-open): route COG-bound formats (a2's CASE on
    * the extension class) → b14's colorinterp probe decides multiband
    * vs per-band fan-out → one output per band (or one RGB composite)
    * with a4's COG naming → b11's 256-px block grid / BIGTIFF /
    * overview-count layout per OUTPUT → b9's pyramid accounting
    * (blocks per 2× level, summed over the bounded level explode).
    * Every derivation is the gated component's integer arithmetic
    * verbatim; the composition is itself oracle-gated. Shape: map +
    * two bounded explodes (bands, levels ≤ 7) + one agg — per-file
    * work is O(bands + levels), the whole backlog plans in one pass
    * (processing.py:469-553 does this file-at-a-time under GDAL). */
  def qRasterE2e(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_partkey") % 10 <= 2) // a2: .tif/.tiff/.nc → cog route
      .select(col("p_partkey"),
        ((col("p_partkey") * 7919L) % 20000L + 256L).as("width"),
        ((col("p_partkey") * 104729L) % 20000L + 256L).as("height"),
        (col("p_size") % 6 + 1).as("nbands"),
        (col("p_partkey") % 5 === 0).as("has_photometric"))
    val probed = p
      .withColumn("b", explode(sequence(lit(1), col("nbands"))))
      .withColumn("ci", (col("p_partkey") * 13 + col("b")) % 17)
      .groupBy("p_partkey", "width", "height", "nbands", "has_photometric")
      .agg(max(col("ci")).as("max_ci"))
      .withColumn("plan",
        when(col("max_ci") >= 3 || col("has_photometric"), "multiband")
          .otherwise("per-band"))
      .withColumn("n_outputs",
        when(col("plan") === "multiband", 1).otherwise(col("nbands")))
    val outputs = probed
      .withColumn("out_idx", explode(sequence(lit(1), col("n_outputs"))))
      .withColumn("dst_name",
        when(col("plan") === "multiband",
          concat(lit("cog_"), col("p_partkey").cast("string"), lit(".tif")))
        .otherwise(concat(lit("cog_"), col("p_partkey").cast("string"),
          lit("_band"), col("out_idx").cast("string"), lit(".tif"))))
      .withColumn("bands_in_output",
        when(col("plan") === "multiband", col("nbands")).otherwise(lit(1)))
      .withColumn("blocks_x", expr("(width + 255) div 256"))
      .withColumn("blocks_y", expr("(height + 255) div 256"))
      .withColumn("nbytes",
        col("width") * col("height") * col("bands_in_output") * 2L)
      .withColumn("bigtiff", col("nbytes") > 4294967296L)
      .withColumn("overviews",
        length(expr("bin(greatest(width, height) div 256)")).cast("int"))
    outputs
      .withColumn("lvl", explode(sequence(lit(1), col("overviews"))))
      .withColumn("lb",
        expr("((blocks_x + shiftleft(1, lvl) - 1) div shiftleft(1, lvl)) * " +
          "((blocks_y + shiftleft(1, lvl) - 1) div shiftleft(1, lvl))"))
      .groupBy("p_partkey", "out_idx", "dst_name", "plan", "bands_in_output",
        "blocks_x", "blocks_y", "bigtiff", "overviews")
      .agg(sum(col("lb")).as("overview_blocks"))
      .select(col("p_partkey"), col("out_idx"), col("dst_name"), col("plan"),
        col("bands_in_output"),
        (col("blocks_x") * col("blocks_y")).as("base_blocks"),
        col("overviews"), col("overview_blocks"), col("bigtiff"))
      .orderBy("p_partkey", "out_idx")
  }

  val qRasterE2eSql: String =
    """WITH p AS (
        SELECT p_partkey,
          (p_partkey * 7919) % 20000 + 256 AS width,
          (p_partkey * 104729) % 20000 + 256 AS height,
          p_size % 6 + 1 AS nbands,
          p_partkey % 5 = 0 AS has_photometric
        FROM part WHERE p_partkey % 10 <= 2),
      bands AS (
        SELECT *, unnest(generate_series(1, nbands)) AS b FROM p),
      probed AS (
        SELECT p_partkey, width, height, nbands, has_photometric,
          MAX((p_partkey * 13 + b) % 17) AS max_ci
        FROM bands GROUP BY 1, 2, 3, 4, 5),
      planned AS (
        SELECT *,
          CASE WHEN max_ci >= 3 OR has_photometric THEN 'multiband' ELSE 'per-band' END AS plan,
          CASE WHEN max_ci >= 3 OR has_photometric THEN 1 ELSE nbands END AS n_outputs
        FROM probed),
      outputs AS (
        SELECT *, unnest(generate_series(1, n_outputs)) AS out_idx FROM planned),
      laid AS (
        SELECT p_partkey, CAST(out_idx AS INT) AS out_idx,
          CASE WHEN plan = 'multiband'
            THEN 'cog_' || CAST(p_partkey AS VARCHAR) || '.tif'
            ELSE 'cog_' || CAST(p_partkey AS VARCHAR) || '_band' || CAST(out_idx AS VARCHAR) || '.tif'
          END AS dst_name,
          plan,
          CAST(CASE WHEN plan = 'multiband' THEN nbands ELSE 1 END AS INT) AS bands_in_output,
          (width + 255) // 256 AS blocks_x, (height + 255) // 256 AS blocks_y,
          width * height * (CASE WHEN plan = 'multiband' THEN nbands ELSE 1 END) * 2 > 4294967296 AS bigtiff,
          CAST(length(bin(GREATEST(width, height) // 256)) AS INT) AS overviews
        FROM outputs),
      pyr AS (
        SELECT *, unnest(generate_series(1, overviews)) AS lvl FROM laid),
      lb AS (
        SELECT *, ((blocks_x + (1 << lvl) - 1) // (1 << lvl)) *
          ((blocks_y + (1 << lvl) - 1) // (1 << lvl)) AS lb
        FROM pyr)
      SELECT p_partkey, out_idx, dst_name, plan, bands_in_output,
        blocks_x * blocks_y AS base_blocks, overviews,
        CAST(SUM(lb) AS BIGINT) AS overview_blocks, bigtiff
      FROM lb
      GROUP BY p_partkey, out_idx, dst_name, plan, bands_in_output,
        blocks_x, blocks_y, bigtiff, overviews
      ORDER BY p_partkey, out_idx"""

  /** b27 — CHANGED-TILE planning (incremental re-tiling): after an
    * ingest batch deletes some features (event_id % 97) and moves
    * others (event_id % 89 → 3 tiles east, integer tile-space move so
    * no new float math enters), which z=8 tiles must re-render? The
    * reference re-runs tippecanoe on the whole file per upload
    * (processing.py:216-402); at 100 TB you re-cut ONLY tiles whose
    * feature set changed. ONE scan: each feature emits its old and
    * new (side, x, y) legs via explode (deletes emit no new leg), one
    * (x, y) agg counts both sides, changed = counts differ. Map-only
    * before the single tile-keyed shuffle — the b4 tilestats shape
    * with a side axis. At real scale the old side reads b4's
    * persisted per-tile counts instead of rescanning history; the
    * changed-tile list is the work queue b17's tippecanoe plan
    * consumes. */
  def qTileDiff(spark: SparkSession, dir: String): DataFrame = {
    val n = 256
    val legs = tiled(spark, dir, 8)
      .select(col("event_id"), explode(array(
        struct(lit("old").as("side"), col("xt").as("x"), col("yt").as("y"),
          lit(true).as("alive")),
        struct(lit("new").as("side"),
          when(col("event_id") % 89 === 0, (col("xt") + 3) % n).otherwise(col("xt")).as("x"),
          col("yt").as("y"),
          (col("event_id") % 97 =!= 0).as("alive")))).as("s"))
      .select(col("s.side"), col("s.x"), col("s.y"))
      .where(col("s.alive"))
    legs.groupBy("x", "y")
      .agg(sum(when(col("side") === "old", 1L).otherwise(0L)).as("old_n"),
        sum(when(col("side") === "new", 1L).otherwise(0L)).as("new_n"))
      .filter(col("old_n") =!= col("new_n"))
      .orderBy("x", "y")
  }

  val qTileDiffSql: String =
    s"""WITH t AS (${tiledSql(8)}),
      legs AS (
        SELECT 'old' AS side, xt AS x, yt AS y FROM t
        UNION ALL
        SELECT 'new', CASE WHEN event_id % 89 = 0 THEN (xt + 3) % 256 ELSE xt END, yt
        FROM t WHERE event_id % 97 <> 0)
      SELECT x, y,
        CAST(SUM(CASE WHEN side = 'old' THEN 1 ELSE 0 END) AS BIGINT) AS old_n,
        CAST(SUM(CASE WHEN side = 'new' THEN 1 ELSE 0 END) AS BIGINT) AS new_n
      FROM legs GROUP BY x, y
      HAVING SUM(CASE WHEN side = 'old' THEN 1 ELSE 0 END)
        <> SUM(CASE WHEN side = 'new' THEN 1 ELSE 0 END)
      ORDER BY x, y"""

  /** b26 — hexagonal binning (the density-map aggregation tippecanoe's
    * square tiles approximate; hexes are the cartographer's choice —
    * near-equal center distances, no 4-vs-8 neighbor anisotropy). The
    * two-lattice construction (matplotlib's hexbin): lattice A centers
    * at (i·sx, j·sy), lattice B offset by (sx/2, sy/2), sy/sx ≈ √3;
    * each point takes the nearer of its two candidate centers and the
    * plane partitions into hexagons. EVERYTHING is integer
    * millidegrees — Synth's lon/lat are integer-derived, candidate
    * centers come from floor division on non-negative offsets, and
    * nearest is a squared-distance compare in int64 (≤ 3.3e10) with
    * tie → lattice A — so the assignment is EXACT and engine-free (no
    * √3 ever materializes; the irrational aspect lives only in the
    * choice sy = 34640 ≈ 20000·√3). Map-only assignment + ONE
    * (cx, cy)-keyed agg with map-side combine: the canonical heatmap
    * plan at any scale. */
  def qHexBin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables(spark, dir, "events")
      .select(col("event_id"),
        (col("event_id") * 2654435761L % 360000L).as("xm"),
        (col("event_id") * 1327217873L % 170000L).as("ym"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val sx = 20000L; val sy = 34640L
    val hexed = e
      .withColumn("cxa", expr(s"((xm + ${sx / 2}) div $sx) * $sx"))
      .withColumn("cya", expr(s"((ym + ${sy / 2}) div $sy) * $sy"))
      .withColumn("cxb", expr(s"(xm div $sx) * $sx + ${sx / 2}"))
      .withColumn("cyb", expr(s"(ym div $sy) * $sy + ${sy / 2}"))
      .withColumn("da2", expr("(xm - cxa) * (xm - cxa) + (ym - cya) * (ym - cya)"))
      .withColumn("db2", expr("(xm - cxb) * (xm - cxb) + (ym - cyb) * (ym - cyb)"))
      .withColumn("cx_mdeg",
        when(col("da2") <= col("db2"), col("cxa")).otherwise(col("cxb")) - 180000L)
      .withColumn("cy_mdeg",
        when(col("da2") <= col("db2"), col("cya")).otherwise(col("cyb")) - 85000L)
    hexed.groupBy("cx_mdeg", "cy_mdeg")
      .agg(count(lit(1)).as("n_points"), sum(col("v_cents")).as("sum_val_cents"))
      .orderBy("cx_mdeg", "cy_mdeg")
  }

  val qHexBinSql: String =
    """WITH e AS (
         SELECT event_id,
           event_id * 2654435761 % 360000 AS xm,
           event_id * 1327217873 % 170000 AS ym,
           CAST(round(value * 100) AS BIGINT) AS v_cents
         FROM events
       ), h AS (
         SELECT *,
           ((xm + 10000) // 20000) * 20000 AS cxa,
           ((ym + 17320) // 34640) * 34640 AS cya,
           (xm // 20000) * 20000 + 10000 AS cxb,
           (ym // 34640) * 34640 + 17320 AS cyb
         FROM e
       ), p AS (
         SELECT *,
           (xm - cxa) * (xm - cxa) + (ym - cya) * (ym - cya) AS da2,
           (xm - cxb) * (xm - cxb) + (ym - cyb) * (ym - cyb) AS db2
         FROM h
       )
       SELECT CASE WHEN da2 <= db2 THEN cxa ELSE cxb END - 180000 AS cx_mdeg,
         CASE WHEN da2 <= db2 THEN cya ELSE cyb END - 85000 AS cy_mdeg,
         CAST(COUNT(*) AS BIGINT) AS n_points,
         CAST(SUM(v_cents) AS BIGINT) AS sum_val_cents
       FROM p GROUP BY 1, 2 ORDER BY cx_mdeg, cy_mdeg"""

  // b31 — geohash encode (precision 8) + the precision-4 cell rollup:
  // the third spatial key next to b18's z-order (XY morton over tiles)
  // and b19's quadkey (the tile-tree path) — geohash is the
  // interoperable one (Redis/Elastic/HBase row keys speak it), base32
  // over a 40-bit lon-first bit interleave of the EQUIRECTANGULAR
  // quantization (lon/360, lat/180 — unlike the mercator tile pair).
  // Quantization reuses b3's exact floor((c + off) / span * 2^20)
  // double shape (each op correctly rounded, identical text both
  // engines); the interleave and base32 chars are pure integer bit
  // math off the quantized pair — engine-free. A geohash PREFIX is a
  // rectangle, so the 4-char rollup is the standard coarse spatial
  // index/DP-aggregation cell; prefix = substring, no re-encode.
  // Plan: map-only encode (the synthetic coords derive from event_id),
  // one bounded cell agg for the rollup side. At 100 TB: the encode
  // column is what i16's range-ordered write would lay files out by —
  // prefix-range scans then prune at the footer.
  private val GeohashB32 = "0123456789bcdefghjkmnpqrstuvwxyz"

  def qGeohash(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val lon = Synth.lon(col("event_id"))
    val lat = Synth.lat(col("event_id"))
    val xq = least(floor((lon + 180.0) / 360.0 * 1048576), lit(1048575.0)).cast("long")
    val yq = least(floor((lat + 90.0) / 180.0 * 1048576), lit(1048575.0)).cast("long")
    // the 40-bit interleave + base32 render is the native codegen'd
    // graft_geohash8 (functions/GeoExprs.scala) — one fused loop per
    // row where the declarative form (kept verbatim as the DuckDB
    // oracle) evaluates 20 div/mod terms + 8 substrings; measured ~3×
    // on the projection at sf0.1, bit-identical output
    e.select(col("event_id"), xq.as("xq"), yq.as("yq"))
      .withColumn("gh8", expr("graft_geohash8(xq, yq)"))
      .withColumn("gh4", expr("substring(gh8, 1, 4)"))
      .select("event_id", "gh8", "gh4")
      .orderBy("event_id")
  }

  val qGeohashSql: String = {
    val code = (0 until 20).map { j =>
      s"(((xq // ${1L << j}) % 2) * ${1L << (2 * j + 1)}) + (((yq // ${1L << j}) % 2) * ${1L << (2 * j)})"
    }.mkString(" + ")
    val gh8 = (0 until 8).map { i =>
      s"substring('$GeohashB32', CAST((code // ${1L << (35 - 5 * i)}) % 32 AS INT) + 1, 1)"
    }.mkString(" || ")
    s"""WITH q AS (
        SELECT event_id,
          CAST(LEAST(FLOOR(((${Synth.lonSql}) + 180.0) / 360.0 * 1048576), 1048575.0) AS BIGINT) AS xq,
          CAST(LEAST(FLOOR(((${Synth.latSql}) + 90.0) / 180.0 * 1048576), 1048575.0) AS BIGINT) AS yq
        FROM events),
      c AS (SELECT event_id, $code AS code FROM q),
      g AS (SELECT event_id, $gh8 AS gh8 FROM c)
      SELECT event_id, gh8, substring(gh8, 1, 4) AS gh4
      FROM g ORDER BY event_id"""
  }

  // b32 — nearest-POI assignment (the geo join every location product
  // runs: which store/depot/antenna does each event belong to): 64
  // fixed POIs on an 8×8 grid over the synthetic coordinate space,
  // each event takes the argmin squared distance in INTEGER
  // millidegrees (coords are integer-derived pre-division — b26's
  // trick — so d² ≤ 2·360000² fits int64 exactly, no IEEE, no
  // epsilon), ties broken (d², poi_id). Because the POIs form a
  // UNIFORM grid, the argmin over 64 candidates has an exact CLOSED
  // FORM — nearest column index = (xm − 1) div 45000 (half-down
  // rounding to the nearest center, which lands boundary ties on the
  // LOWER index = the lower pid, exactly the (d², pid) tie rule; the
  // truncating div maps xm = 0 correctly too) — so the whole
  // assignment is O(1) per row, map-only, inside whole-stage codegen.
  // The evolution is itself the scale lesson, measured in §5: a
  // higher-order `aggregate` lambda over the 64 POIs was interpreted
  // (6.4 s at sf0.1), `least()` over 64 inline structs codegens but
  // still pays 64 distances (2.5 s), the closed form pays one (the
  // b26 two-lattice argmin specialized to one lattice). A non-grid
  // POI set falls back to the least()-fold; a 10⁶-POI set to b26's
  // grid-blocked two-candidate form. Oracle: the genuinely different
  // naive cross-join + rank over all 64.
  def qNearestPoi(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(col("event_id"),
        expr("event_id * 2654435761 % 360000").as("xm"),
        expr("event_id * 1327217873 % 170000").as("ym"))
      .withColumn("ix", expr("(xm - 1) div 45000"))
      .withColumn("iy", expr("(ym - 1) div 21250"))
      .select(col("event_id"),
        (col("iy") * 8 + col("ix")).cast("int").as("poi_id"),
        expr("""(xm - (ix * 45000 + 22500)) * (xm - (ix * 45000 + 22500))
              + (ym - (iy * 21250 + 10625)) * (ym - (iy * 21250 + 10625))""")
          .as("d2_mdeg2"))
      .orderBy("event_id")
  }

  val qNearestPoiSql: String =
    """WITH pois AS (
        SELECT p, CAST(p % 8 * 45000 + 22500 AS BIGINT) AS px,
          CAST(p // 8 * 21250 + 10625 AS BIGINT) AS py
        FROM (SELECT unnest(generate_series(0, 63)) AS p)),
      e AS (
        SELECT event_id,
          CAST(event_id * 2654435761 % 360000 AS BIGINT) AS xm,
          CAST(event_id * 1327217873 % 170000 AS BIGINT) AS ym
        FROM events),
      d AS (
        SELECT event_id,
          CAST(p AS INTEGER) AS poi_id,
          (xm - px) * (xm - px) + (ym - py) * (ym - py) AS d2_mdeg2,
          row_number() OVER (PARTITION BY event_id
            ORDER BY (xm - px) * (xm - px) + (ym - py) * (ym - py), p) AS rk
        FROM e CROSS JOIN pois)
      SELECT event_id, poi_id, d2_mdeg2 FROM d WHERE rk = 1
      ORDER BY event_id"""

  // b33 — geohash prefix COVER for a bbox read (the query side of
  // b31 + i16: a spatial predicate becomes a set of gh2 prefix
  // ranges, which is exactly what prunes a geohash-range-ordered
  // lake's files before any row decodes — b30's read planning with
  // geohash cells instead of COG blocks). The bbox is the central
  // quarter of the coordinate space (b30's convention); candidate
  // gh2 cells (10 bits: 5 lon + 5 lat = a 32×32 grid) enumerate from
  // the CLOSED-FORM integer cell ranges the bbox corners quantize to
  // (two bounded sequences, never a scan), each cell classifies
  // full/partial by pure integer bounds comparison, and the events
  // table aggregates per cell (one bounded agg) to prove the cover's
  // accounting in-query: full cells need no row filter, partial
  // cells count both in-cell and in-bbox rows — Σ in_bbox over the
  // cover IS the bbox answer (spec-assertable from the output).
  // At 100 TB: prefixes → i16 file pruning, the per-cell counts are
  // the cost estimate a planner reads.
  def qGeohashCover(spark: SparkSession, dir: String): DataFrame = {
    // bbox in quantized 2^20 grid units: central quarter
    // deliberately NOT cell-aligned, so the cover has both full
    // interior cells and partial edge cells needing a row filter
    val (bx0, bx1) = (250000L, 800000L)
    val (by0, by1) = (260000L, 790000L)
    // gh2 cell = (cx, cy) on the 32x32 grid; cell spans 2^15 x 2^15
    val (cx0, cx1) = (bx0 >> 15, bx1 >> 15)
    val (cy0, cy1) = (by0 >> 15, by1 >> 15)
    val cells = spark.range(cx0, cx1 + 1).select(col("id").as("cx"))
      .crossJoin(spark.range(cy0, cy1 + 1).select(col("id").as("cy")))
      .withColumn("x_lo", col("cx") * 32768)
      .withColumn("x_hi", col("cx") * 32768 + 32767)
      .withColumn("y_lo", col("cy") * 32768)
      .withColumn("y_hi", col("cy") * 32768 + 32767)
      .withColumn("full_cell",
        col("x_lo") >= bx0 && col("x_hi") <= bx1 &&
        col("y_lo") >= by0 && col("y_hi") <= by1)
    // gh2 prefix chars from the 10-bit lon-first interleave of (cx, cy)
    val code2 = (0 until 5).map { j =>
      expr(s"(((cx div ${1L << j}) % 2) * ${1L << (2 * j + 1)}) + " +
        s"(((cy div ${1L << j}) % 2) * ${1L << (2 * j)})")
    }.reduce(_ + _)
    val withPrefix = cells.withColumn("code2", code2)
      .withColumn("gh2", expr(
        s"concat(substring('$GeohashB32', CAST((code2 div 32) % 32 AS INT) + 1, 1), " +
        s"substring('$GeohashB32', CAST(code2 % 32 AS INT) + 1, 1))"))
    val e = Tables.events(spark, dir)
      .select(col("event_id"),
        least(floor((Synth.lon(col("event_id")) + 180.0) / 360.0 * 1048576),
          lit(1048575.0)).cast("long").as("xq"),
        least(floor((Synth.lat(col("event_id")) + 90.0) / 180.0 * 1048576),
          lit(1048575.0)).cast("long").as("yq"))
      .select(col("event_id"), col("xq"), col("yq"),
        expr("xq div 32768").as("cx"),
        expr("yq div 32768").as("cy"),
        (col("xq").between(bx0, bx1) && col("yq").between(by0, by1))
          .as("in_bbox"))
    val perCell = e.groupBy("cx", "cy")
      .agg(count(lit(1)).as("n_in_cell"),
        sum(when(col("in_bbox"), 1L).otherwise(0L)).as("n_in_bbox"))
    withPrefix.join(perCell, Seq("cx", "cy"), "left")
      .select(col("gh2"), col("cx"), col("cy"), col("full_cell"),
        coalesce(col("n_in_cell"), lit(0L)).as("n_in_cell"),
        coalesce(col("n_in_bbox"), lit(0L)).as("n_in_bbox"))
      .orderBy("cx", "cy")
  }

  val qGeohashCoverSql: String = {
    val code2 = (0 until 5).map { j =>
      s"(((cx // ${1L << j}) % 2) * ${1L << (2 * j + 1)}) + (((cy // ${1L << j}) % 2) * ${1L << (2 * j)})"
    }.mkString(" + ")
    s"""WITH cells AS (
        SELECT cx.x AS cx, cy.y AS cy
        FROM (SELECT unnest(generate_series(7, 24)) AS x) cx
        CROSS JOIN (SELECT unnest(generate_series(7, 24)) AS y) cy),
      cb AS (
        SELECT cx, cy, cx * 32768 AS x_lo, cx * 32768 + 32767 AS x_hi,
          cy * 32768 AS y_lo, cy * 32768 + 32767 AS y_hi,
          $code2 AS code2
        FROM cells),
      pfx AS (
        SELECT cx, cy,
          x_lo >= 250000 AND x_hi <= 800000 AND
          y_lo >= 260000 AND y_hi <= 790000 AS full_cell,
          substring('$GeohashB32', CAST((code2 // 32) % 32 AS INT) + 1, 1) ||
          substring('$GeohashB32', CAST(code2 % 32 AS INT) + 1, 1) AS gh2
        FROM cb),
      e AS (
        SELECT event_id,
          CAST(LEAST(FLOOR(((${Synth.lonSql}) + 180.0) / 360.0 * 1048576), 1048575.0) AS BIGINT) AS xq,
          CAST(LEAST(FLOOR(((${Synth.latSql}) + 90.0) / 180.0 * 1048576), 1048575.0) AS BIGINT) AS yq
        FROM events),
      e2 AS (
        SELECT event_id, xq // 32768 AS cx, yq // 32768 AS cy,
          xq BETWEEN 250000 AND 800000 AND yq BETWEEN 260000 AND 790000 AS in_bbox
        FROM e),
      per AS (
        SELECT cx, cy, CAST(COUNT(*) AS BIGINT) AS n_in_cell,
          CAST(SUM(CASE WHEN in_bbox THEN 1 ELSE 0 END) AS BIGINT) AS n_in_bbox
        FROM e2 GROUP BY cx, cy)
      SELECT gh2, pfx.cx, pfx.cy, full_cell,
        COALESCE(per.n_in_cell, 0) AS n_in_cell,
        COALESCE(per.n_in_bbox, 0) AS n_in_bbox
      FROM pfx LEFT JOIN per ON per.cx = pfx.cx AND per.cy = pfx.cy
      ORDER BY pfx.cx, pfx.cy"""
  }

  // ---- b44: the gdalwarp TARGET GRID (3857) computation ------------

  // shared template strings (k = CAST(p_partkey AS BIGINT)): the
  // source raster's 4326 bbox, its WebMercator corners (b1's forward
  // verbatim, cm-rounded), then EXACT integer centimeters
  private val wgLon0S = "(CAST(k * 7919 % 300000000 AS DOUBLE) / 1000000.0 - 150.0)"
  private val wgLat0S = "(CAST(k * 104729 % 150000000 AS DOUBLE) / 1000000.0 - 75.0)"
  private val wgDLonS = "(CAST(k % 20 + 1 AS DOUBLE) / 10.0)"
  private val wgDLatS = "(CAST(k % 17 + 1 AS DOUBLE) / 10.0)"
  private val wgKm    = 6378137.0 * math.Pi / 180.0
  private def wgMx(lon: String) = s"round(($lon) * $wgKm, 2)"
  private def wgMy(lat: String) =
    s"round(6378137.0 * ln(tan(${math.Pi / 4.0} + radians($lat) / 2)), 2)"
  private def cmOf(m: String) = s"CAST(round(($m) * 100, 0) AS BIGINT)"
  private val WgShift = 2100000000L // > |R·π|·100: keeps the div operands non-negative

  /** b44 — `q_warp_grid`: the TARGET-GRID computation gdalwarp runs
    * between deciding to reproject and writing the COG (ref
    * processing.py:469-553 + config.py gdal_configs: EPSG:3857 target,
    * 256×256 blocks — the grid PLACEMENT is the step b29's layout
    * approximates away): per cog-routed raster, the source 4326 bbox →
    * WebMercator corners (b1's forward strings verbatim, cm-rounded) →
    * EXACT integer centimeters from there — resolution res_cm =
    * floor(merc_width_cm / src_width_px) (gdal's preserve-pixel-count
    * default), origin snapped DOWN to the 256·res block lattice (the
    * shifted floor-div keeps operands non-negative so both engines'
    * integer division agrees), target pixel dims by ceiling division,
    * and the 256-px block counts off the ALIGNED grid. Map-only;
    * GeoInvariantsSpec pins the alignment invariants (origin on the
    * lattice, origin ≤ bbox min < origin + one block, grid covers the
    * bbox). */
  def qWarpGrid(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_partkey") % 10 <= 2) // a2: the cog route
      .select(col("p_partkey"))
      .withColumn("k", col("p_partkey").cast("long"))
      .withColumn("w_px", expr("k * 104729 % 20000 + 256"))
      .withColumn("h_px", expr("k * 7919 % 20000 + 256"))
      .withColumn("x0c", expr(cmOf(wgMx(wgLon0S))))
      .withColumn("x1c", expr(cmOf(wgMx(s"($wgLon0S + $wgDLonS)"))))
      .withColumn("y0c", expr(cmOf(wgMy(wgLat0S))))
      .withColumn("y1c", expr(cmOf(wgMy(s"($wgLat0S + $wgDLatS)"))))
      .withColumn("res_cm", expr("greatest((x1c - x0c) div w_px, 1)"))
      .withColumn("gx0", expr(
        s"(x0c + $WgShift) div (256 * res_cm) * (256 * res_cm) - $WgShift"))
      .withColumn("gy0", expr(
        s"(y0c + $WgShift) div (256 * res_cm) * (256 * res_cm) - $WgShift"))
      .withColumn("tgt_w_px", expr("(x1c - gx0 + res_cm - 1) div res_cm"))
      .withColumn("tgt_h_px", expr("(y1c - gy0 + res_cm - 1) div res_cm"))
      .withColumn("tgt_blocks_x", expr("(tgt_w_px + 255) div 256"))
      .withColumn("tgt_blocks_y", expr("(tgt_h_px + 255) div 256"))
    p.select("p_partkey", "w_px", "h_px", "x0c", "y0c", "x1c", "y1c",
        "res_cm", "gx0", "gy0", "tgt_w_px", "tgt_h_px",
        "tgt_blocks_x", "tgt_blocks_y")
      .orderBy("p_partkey")
  }

  val qWarpGridSql: String =
    s"""WITH p AS (
          SELECT p_partkey, CAST(p_partkey AS BIGINT) AS k FROM part
          WHERE p_partkey % 10 <= 2),
        m AS (
          SELECT p_partkey, k,
            k * 104729 % 20000 + 256 AS w_px,
            k * 7919 % 20000 + 256 AS h_px,
            ${cmOf(wgMx(wgLon0S))} AS x0c,
            ${cmOf(wgMx(s"($wgLon0S + $wgDLonS)"))} AS x1c,
            ${cmOf(wgMy(wgLat0S))} AS y0c,
            ${cmOf(wgMy(s"($wgLat0S + $wgDLatS)"))} AS y1c
          FROM p),
        r AS (SELECT *, greatest((x1c - x0c) // w_px, 1) AS res_cm FROM m),
        g AS (SELECT *,
            (x0c + $WgShift) // (256 * res_cm) * (256 * res_cm) - $WgShift AS gx0,
            (y0c + $WgShift) // (256 * res_cm) * (256 * res_cm) - $WgShift AS gy0
          FROM r),
        t AS (SELECT *,
            (x1c - gx0 + res_cm - 1) // res_cm AS tgt_w_px,
            (y1c - gy0 + res_cm - 1) // res_cm AS tgt_h_px
          FROM g)
      SELECT p_partkey, w_px, h_px, x0c, y0c, x1c, y1c, res_cm, gx0, gy0,
        tgt_w_px, tgt_h_px,
        (tgt_w_px + 255) // 256 AS tgt_blocks_x,
        (tgt_h_px + 255) // 256 AS tgt_blocks_y
      FROM t ORDER BY p_partkey"""

  /** b62 — per-layer FAILURE ISOLATION accounting (r15 VERDICT #6):
    * the reference's per-layer try/continue is the property that one
    * bad layer cannot sink a dataset's other layers — but ONLY on the
    * single-layer path. ref processing.py:229-311 (fgb2pmtiles,
    * join_vector_tiles=false): each layer converts in its own
    * try; `subprocess.TimeoutExpired` logs and moves on (NO error
    * blob — the silent failure class), any other Exception uploads
    * the error message to the DATASET-keyed `{blob}.error` path
    * (processing.py:300-310) — so two failed layers OVERWRITE the
    * same blob and the LAST one in iteration order wins (layers
    * iterate in dict = insertion = sorted order here; the a29
    * read-modify-write lesson at the error-blob grain). ref
    * processing.py:315-396 (join_vector_tiles=true): ONE try wraps
    * the single multilayer tippecanoe, so the FIRST failing layer
    * kills the whole dataset — no pmtiles, no `.fgb` twins — with an
    * error blob only when that first failure is the Exception kind
    * (a timeout kills the dataset silently). Failure classes are
    * planted per (user, layer) — `(user_id·3 + len(layer)) mod 7`:
    * 0 = timeout, 1 = gdal error; every branch is POPULATED at
    * sf0.001 (6/8 single gdal/timeout, 5/2 multi, plus fully-green
    * datasets on both paths). Per-layer rows carry the outcome and
    * the published artifacts (b12b's `{layer}.pmtiles` + `.fgb` twin
    * on the single path, the dataset file + `{file}.{layer}.fgb`
    * twins on the multilayer path — processing.py:372-374); per-user
    * readout columns quantify the published-set/error-set
    * consistency: n_published + n_failed = n_layers, the visible
    * error blob (if any), its scope, and the LWW layer whose message
    * the blob actually holds. ONE events scan → one keyed agg →
    * bounded explode (≤5 layers/user) → two user-partitioned windows
    * riding the agg's partitioning — at 100 TB the cost is the one
    * keyed shuffle; everything after is bounded per user. */
  def qLayerIsolation(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = Tables.events(spark, dir)
    val agg = e.groupBy("user_id")
      .agg(min("event_id").as("first_event"),
        array_sort(collect_set(col("event_type"))).as("layers"))
      .withColumn("join_vector_tiles", col("first_event") % 2 === 0)
    val rows = agg.select(col("user_id"), col("join_vector_tiles"),
        explode(col("layers")).as("layer"), size(col("layers")).as("n_layers"))
      .withColumn("cls", (col("user_id") * 3 + length(col("layer"))) % 7)
      .withColumn("fail_kind",
        when(col("cls") === 0, "timeout").when(col("cls") === 1, "gdal_error"))
    val w = Window.partitionBy("user_id")
    // first failing layer in iteration order (multilayer death) and
    // the last gdal-error layer (single-path LWW blob winner); the
    // "layer|kind" packing is order-safe because no layer name is a
    // prefix of another
    val staged = rows
      .withColumn("first_fail",
        min(when(col("fail_kind").isNotNull,
          concat(col("layer"), lit("|"), col("fail_kind")))).over(w))
      .withColumn("lww_gdal",
        max(when(col("fail_kind") === "gdal_error", col("layer"))).over(w))
      .withColumn("outcome",
        when(col("join_vector_tiles"),
          when(col("first_fail").isNull, "published").otherwise("dataset_failed"))
          .otherwise(coalesce(col("fail_kind"), lit("published"))))
    val dsFile = concat(lit("dataset_user"), col("user_id").cast("string"), lit(".pmtiles"))
    val errPath = concat(lit("user"), col("user_id").cast("string"),
      lit("/raw/dataset_user"), col("user_id").cast("string"), lit(".error"))
    val errVisible = when(col("join_vector_tiles"),
      substring_index(col("first_fail"), "|", -1) === "gdal_error")
      .otherwise(col("lww_gdal").isNotNull)
    staged
      .withColumn("pmtiles_name",
        when(col("outcome") =!= "published", lit(null).cast("string"))
          .when(col("join_vector_tiles"), dsFile)
          .otherwise(concat(col("layer"), lit(".pmtiles"))))
      .withColumn("fgb_twin",
        when(col("outcome") =!= "published", lit(null).cast("string"))
          .when(col("join_vector_tiles"),
            concat(dsFile, lit("."), col("layer"), lit(".fgb")))
          .otherwise(concat(col("layer"), lit(".pmtiles.fgb"))))
      .withColumn("n_published",
        sum(when(col("outcome") === "published", 1L).otherwise(0L)).over(w))
      .withColumn("n_failed", col("n_layers").cast("long") - col("n_published"))
      .withColumn("error_blob_path",
        when(errVisible, errPath).otherwise(lit(null).cast("string")))
      .withColumn("error_layer",
        when(col("join_vector_tiles"), lit(null).cast("string"))
          .otherwise(col("lww_gdal")))
      .withColumn("error_scope",
        when(col("error_blob_path").isNull, lit(null).cast("string"))
          .when(col("join_vector_tiles"), lit("dataset")).otherwise(lit("layer")))
      .select("user_id", "layer", "join_vector_tiles", "n_layers", "fail_kind",
        "outcome", "pmtiles_name", "fgb_twin", "n_published", "n_failed",
        "error_blob_path", "error_layer", "error_scope")
      .orderBy("user_id", "layer")
  }

  val qLayerIsolationSql: String =
    """WITH agg AS (
        SELECT user_id, MIN(event_id) AS first_event,
          list_sort(list(DISTINCT event_type)) AS layers
        FROM events GROUP BY user_id),
      x AS (
        SELECT user_id, first_event % 2 = 0 AS join_vector_tiles,
          unnest(layers) AS layer, CAST(len(layers) AS INT) AS n_layers
        FROM agg),
      c AS (
        SELECT *, CASE WHEN (user_id * 3 + length(layer)) % 7 = 0 THEN 'timeout'
                       WHEN (user_id * 3 + length(layer)) % 7 = 1 THEN 'gdal_error'
                  END AS fail_kind
        FROM x),
      s AS (
        SELECT *,
          MIN(CASE WHEN fail_kind IS NOT NULL THEN layer || '|' || fail_kind END)
            OVER (PARTITION BY user_id) AS first_fail,
          MAX(CASE WHEN fail_kind = 'gdal_error' THEN layer END)
            OVER (PARTITION BY user_id) AS lww_gdal
        FROM c),
      o AS (
        SELECT *,
          CASE WHEN join_vector_tiles THEN
                 CASE WHEN first_fail IS NULL THEN 'published' ELSE 'dataset_failed' END
               ELSE coalesce(fail_kind, 'published') END AS outcome
        FROM s)
      SELECT user_id, layer, join_vector_tiles, n_layers, fail_kind, outcome,
        CASE WHEN outcome <> 'published' THEN NULL
             WHEN join_vector_tiles THEN 'dataset_user' || CAST(user_id AS VARCHAR) || '.pmtiles'
             ELSE layer || '.pmtiles' END AS pmtiles_name,
        CASE WHEN outcome <> 'published' THEN NULL
             WHEN join_vector_tiles THEN 'dataset_user' || CAST(user_id AS VARCHAR) || '.pmtiles.' || layer || '.fgb'
             ELSE layer || '.pmtiles.fgb' END AS fgb_twin,
        CAST(SUM(CASE WHEN outcome = 'published' THEN 1 ELSE 0 END)
          OVER (PARTITION BY user_id) AS BIGINT) AS n_published,
        CAST(n_layers AS BIGINT)
          - CAST(SUM(CASE WHEN outcome = 'published' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id) AS BIGINT) AS n_failed,
        CASE WHEN (join_vector_tiles AND split_part(first_fail, '|', 2) = 'gdal_error')
                  OR (NOT join_vector_tiles AND lww_gdal IS NOT NULL)
             THEN 'user' || CAST(user_id AS VARCHAR) || '/raw/dataset_user'
                  || CAST(user_id AS VARCHAR) || '.error' END AS error_blob_path,
        CASE WHEN join_vector_tiles THEN NULL ELSE lww_gdal END AS error_layer,
        CASE WHEN (join_vector_tiles AND split_part(first_fail, '|', 2) = 'gdal_error')
                  OR (NOT join_vector_tiles AND lww_gdal IS NOT NULL)
             THEN CASE WHEN join_vector_tiles THEN 'dataset' ELSE 'layer' END END AS error_scope
      FROM o ORDER BY user_id, layer"""

  val registry: Seq[Query] = Seq(
    Query("q_layer_isolation", qLayerIsolation, Oracle(qLayerIsolationSql)),
    Query("q_warp_grid", qWarpGrid, Oracle(qWarpGridSql)),
    Query("q_geohash_cover", qGeohashCover, Oracle(qGeohashCoverSql)),
    Query("q_nearest_poi", qNearestPoi, Oracle(qNearestPoiSql)),
    Query("q_geohash", qGeohash, Oracle(qGeohashSql)),
    Query("q_raster_e2e", qRasterE2e, Oracle(qRasterE2eSql)),
    Query("q_geo_e2e", qGeoE2e, Oracle(qGeoE2eSql)),
    Query("q_tile_diff", qTileDiff, Oracle(qTileDiffSql)),
    Query("q_hex_bin", qHexBin, Oracle(qHexBinSql)),
    Query("q_polygon_metrics", qPolygonMetrics, Oracle(qPolygonMetricsSql)),
    Query("q_polygon_join", qPolygonJoin, Oracle(qPolygonJoinSql)),
    Query("q_gdal_profile", qGdalProfile, Oracle(qGdalProfileSql)),
    Query("q_tilestats_valid", qTilestatsValid, Oracle(qTilestatsValidSql)),
    Query("q_layer_names", qLayerNames, Oracle(qLayerNamesSql)),
    Query("q_bbox_join", qBboxJoin, Oracle(qBboxJoinSql)),
    Query("q_band_grouping", qBandGrouping, Oracle(qBandGroupingSql)),
    Query("q_subdatasets", qSubdatasets, Oracle(qSubdatasetsSql)),
    Query("q_pmtiles_manifest", qPmtilesManifest, Oracle(qPmtilesManifestSql)),
    Query("q_pmtiles_single", qPmtilesSingle, Oracle(qPmtilesSingleSql)),
    Query("q_tippecanoe_plan", qTippecanoePlan, Oracle(qTippecanoePlanSql)),
    Query("q_zorder_key", qZorderKey, Oracle(qZorderKeySql)),
    Query("q_quadkey", qQuadkey, Oracle(qQuadkeySql)),
    Query("q_quadkey_subtree", qQuadkeySubtree, Oracle(qQuadkeySubtreeSql)),
    Query("q_tile_bounds", qTileBounds, Oracle(qTileBoundsSql)),
    Query("q_reproject_mercator", qReprojectMercator, Oracle(qReprojectMercatorSql)),
    Query("q_should_reproject", qShouldReproject, Oracle(qShouldReprojectSql)),
    Query("q_tile_assign", qTileAssign, Oracle(qTileAssignSql)),
    Query("q_tile_stats", qTileStats, Oracle(qTileStatsSql)),
    Query("q_zoom_guess", qZoomGuess, Oracle(qZoomGuessSql)),
    Query("q_layer_bbox", qLayerBbox, Oracle(qLayerBboxSql)),
    Query("q_make_valid", qMakeValid, Oracle(qMakeValidSql)),
    Query("q_feature_count_check", qFeatureCountCheck, Oracle(qFeatureCountCheckSql)),
    Query("q_overview_pyramid", qOverviewPyramid, Oracle(qOverviewPyramidSql)),
    Query("q_band_stats", qBandStats, Oracle(qBandStatsSql)),
    Query("q_cog_layout", qCogLayout, Oracle(qCogLayoutSql)),
    Query("q_cog_read_plan", qCogReadPlan, Oracle(qCogReadPlanSql)))
}
