package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query}

/** §2 B (depth) — the three reference behaviors between "plan the
  * tiles" and "publish the archive" that the repo accounted for but
  * never EXECUTED:
  *
  *  - b46 `q_tile_drop`: tippecanoe's per-tile feature cap actually
  *    dropping features (processing.py:244 runs tippecanoe with
  *    `--drop-densest-as-needed`; b17 budgets kept/dropped per zoom,
  *    this op decides WHICH features survive, deterministically).
  *  - b47 `q_overview_sample`: the source pixels GDAL's NEAREST
  *    overview resampling actually reads (processing.py:501-502 pins
  *    `resampling="nearest", overview_resampling="nearest"`): for
  *    decimation factor f = 2^k, target pixel t samples source pixel
  *    floor((t + 0.5)·f) = t·f + f/2 — so the sampled source lattice
  *    is exactly {x ≡ f/2 (mod f)} × {y ≡ f/2 (mod f)}.
  *  - b48 `q_cog_validate`: the validity gate the reference runs after
  *    every conversion (processing.py:512-516 — `cog_validate`, raise
  *    on invalid): tiling present, overview levels sufficient for the
  *    image extent, standard block size.
  */
object GeoRaster {

  // ---------------------------------------------------------------
  // b46 — per-tile feature cap (the drop EXECUTED)
  // ---------------------------------------------------------------

  /** Drop-key: a deterministic integer shuffle of event_id (tippecanoe
    * drops pseudo-randomly by feature index; Knuth-multiplicative mod a
    * prime < 2^20 is the deterministic stand-in both engines share). */
  private val DkMod = 1048573L // largest prime < 2^20
  private val Pack = 8796093022208L // 2^43: packed = dk·2^43 + event_id

  /** b46 — `q_tile_drop`: per z=6 tile keep the `cap` features with the
    * smallest (drop_key, event_id), report kept/dropped counts and the
    * survivors' id checksum.
    *
    * Shape at 100 TB: ONE scan, ONE agg. The survivor selection rides
    * the native `graft_topk_min` bounded-heap aggregate, so the
    * MAP-SIDE partial is already capped at 100 longs per (tile, mapper)
    * and the shuffle is tile-count-bounded — versus the textbook
    * `row_number() OVER (PARTITION BY tile)` which co-locates and sorts
    * the full feature set per tile (row-scale shuffle; WindowGroupLimit
    * trims post-shuffle, not map-side, and still sorts). (drop_key,
    * event_id) order is packed into one long (dk·2^43 + id; both
    * non-negative, id < 2^43) so lexicographic order == numeric order
    * and the payload rides the heap for free. */
  def qTileDrop(spark: SparkSession, dir: String): DataFrame = {
    GeoOps.tiled(spark, dir, 6)
      .withColumn("packed",
        expr(s"(event_id * 2654435761 % $DkMod) * $Pack + event_id"))
      .groupBy("xt", "yt")
      .agg(count(lit(1)).as("features"),
        expr("graft_topk_min(packed, 100)").as("arr"))
      .withColumn("kept", size(col("arr")).cast("long"))
      .withColumn("dropped", col("features") - col("kept"))
      .withColumn("kept_checksum",
        expr(s"aggregate(arr, CAST(0 AS BIGINT), (a, x) -> a + x % $Pack)"))
      .select("xt", "yt", "features", "kept", "dropped", "kept_checksum")
      .orderBy("xt", "yt")
  }

  val qTileDropSql: String =
    s"""WITH t AS (${GeoOps.tiledSql(6)}),
      k AS (
        SELECT xt, yt, event_id,
          event_id * 2654435761 % $DkMod AS dk
        FROM t),
      r AS (
        SELECT xt, yt, event_id,
          row_number() OVER (PARTITION BY xt, yt ORDER BY dk, event_id) AS rn
        FROM k)
      SELECT xt, yt, COUNT(*) AS features,
        CAST(SUM(CASE WHEN rn <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        CAST(COUNT(*) - SUM(CASE WHEN rn <= 100 THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
        CAST(SUM(CASE WHEN rn <= 100 THEN event_id ELSE 0 END) AS BIGINT) AS kept_checksum
      FROM r GROUP BY xt, yt ORDER BY xt, yt"""

  // ---------------------------------------------------------------
  // b49 — per-tile BYTE budget (the cap tippecanoe actually enforces)
  // ---------------------------------------------------------------

  /** Deterministic per-feature encoded-size stand-in: 50..500 bytes. */
  private val BytesS = "(event_id * 48271 % 451 + 50)"
  private val Budget = 20000L
  private val MaxKeep = (Budget / 50L).toInt // 400: the admission ceiling

  /** b49 — `q_tile_budget`: b46's drop rule under tippecanoe's REAL
    * constraint — the 500 KB tile-size limit (scaled to the synthetic
    * feature sizes), not a feature count. Survivors are the MAXIMAL
    * PREFIX of the per-tile (drop_key, id) order whose cumulative
    * encoded bytes stay within budget (sizes are positive, so the
    * cumsum-≤-budget filter and the stop-at-first-overflow scan pick
    * the same set — the stopped flag in the fold makes that exact, a
    * skip-and-continue fold would diverge the first time a smaller
    * feature follows an overflowing one).
    *
    * Shape at 100 TB: identical to b46 — the budget bounds survivors
    * at budget/min_bytes = 400, so `graft_topk_min(packed, 400)` caps
    * the map-side partial and the byte scan runs INSIDE the ≤400-long
    * array (each element's size recomputed from the id it carries —
    * nothing extra rides the shuffle). One scan, one tile-bounded agg,
    * no window. */
  def qTileBudget(spark: SparkSession, dir: String): DataFrame = {
    GeoOps.tiled(spark, dir, 6)
      .withColumn("packed",
        expr(s"(event_id * 2654435761 % $DkMod) * $Pack + event_id"))
      .groupBy("xt", "yt")
      .agg(count(lit(1)).as("features"),
        sum(expr(BytesS)).as("total_bytes"),
        expr(s"graft_topk_min(packed, $MaxKeep)").as("arr"))
      // prefix scan: acc = (bytes, kept, checksum, stopped)
      .withColumn("cut", expr(
        s"""aggregate(arr,
             struct(CAST(0 AS BIGINT) AS bytes, CAST(0 AS BIGINT) AS kept,
                    CAST(0 AS BIGINT) AS checksum, false AS stopped),
             (acc, x) -> CASE
               WHEN acc.stopped OR acc.bytes + ((x % $Pack) * 48271 % 451 + 50) > $Budget
                 THEN struct(acc.bytes AS bytes, acc.kept AS kept,
                             acc.checksum AS checksum, true AS stopped)
               ELSE struct(acc.bytes + ((x % $Pack) * 48271 % 451 + 50) AS bytes,
                           acc.kept + 1 AS kept,
                           acc.checksum + x % $Pack AS checksum,
                           false AS stopped) END)"""))
      .select(col("xt"), col("yt"), col("features"), col("total_bytes"),
        col("cut.kept").as("kept"),
        (col("features") - col("cut.kept")).as("dropped"),
        col("cut.bytes").as("kept_bytes"),
        // NOT cut.stopped: a tile of exactly 400 min-size features
        // fills the budget without the fold ever overflowing (the heap
        // never hands it a 401st element) — total-vs-budget is the
        // flag both engines state identically
        (col("total_bytes") > Budget).as("budget_hit"),
        col("cut.checksum").as("kept_checksum"))
      .orderBy("xt", "yt")
  }

  val qTileBudgetSql: String =
    s"""WITH t AS (${GeoOps.tiledSql(6)}),
      k AS (
        SELECT xt, yt, event_id,
          event_id * 2654435761 % $DkMod AS dk,
          $BytesS AS bytes
        FROM t),
      r AS (
        SELECT xt, yt, event_id, bytes,
          SUM(bytes) OVER (PARTITION BY xt, yt ORDER BY dk, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb
        FROM k)
      SELECT xt, yt, COUNT(*) AS features,
        CAST(SUM(bytes) AS BIGINT) AS total_bytes,
        CAST(SUM(CASE WHEN cb <= $Budget THEN 1 ELSE 0 END) AS BIGINT) AS kept,
        CAST(COUNT(*) - SUM(CASE WHEN cb <= $Budget THEN 1 ELSE 0 END) AS BIGINT) AS dropped,
        CAST(SUM(CASE WHEN cb <= $Budget THEN bytes ELSE 0 END) AS BIGINT) AS kept_bytes,
        CAST(SUM(bytes) AS BIGINT) > $Budget AS budget_hit,
        CAST(SUM(CASE WHEN cb <= $Budget THEN event_id ELSE 0 END) AS BIGINT) AS kept_checksum
      FROM r GROUP BY xt, yt ORDER BY xt, yt"""

  // ---------------------------------------------------------------
  // b47 — NEAREST overview source-pixel sampling accounting
  // ---------------------------------------------------------------

  /** b47 — `q_overview_sample`: per overview level k = 1..4 (decimation
    * 2^k off the z=12 pixel grid), how many features sit ON the source
    * pixels nearest-resampling reads, over how many distinct sampled
    * pixels, and their id checksum. GDAL NEAREST picks source
    * floor((t+0.5)·2^k) = t·2^k + 2^(k-1) per axis, so a base pixel is
    * read at level k iff both coords ≡ 2^(k-1) (mod 2^k) — a pure
    * congruence filter: one events scan, a 4-way bounded explode, one
    * 4-group agg. The count ratio across levels (~1/4 per level) is the
    * pyramid-cost invariant GeoInvariantsSpec pins. */
  def qOverviewSample(spark: SparkSession, dir: String): DataFrame = {
    GeoOps.tiled(spark, dir, 12)
      .select(col("event_id"), col("xt"), col("yt"),
        explode(sequence(lit(1), lit(4))).as("level"))
      .withColumn("f", expr("shiftleft(CAST(1 AS BIGINT), level)"))
      .filter(expr("xt % f = f div 2 AND yt % f = f div 2"))
      .groupBy("level")
      .agg(count(lit(1)).as("n_features"),
        countDistinct(expr("xt * 4096 + yt")).as("n_pixels"),
        sum(col("event_id")).as("checksum"))
      .withColumn("factor", expr("shiftleft(CAST(1 AS BIGINT), level)"))
      .select("level", "factor", "n_features", "n_pixels", "checksum")
      .orderBy("level")
  }

  val qOverviewSampleSql: String =
    s"""WITH t AS (${GeoOps.tiledSql(12)}),
      lv AS (
        SELECT event_id, xt, yt,
          CAST(unnest(generate_series(1, 4)) AS INT) AS level
        FROM t),
      f AS (
        SELECT event_id, xt, yt, level,
          CAST(1 AS BIGINT) << level AS factor
        FROM lv)
      SELECT level, factor,
        COUNT(*) AS n_features,
        CAST(COUNT(DISTINCT xt * 4096 + yt) AS BIGINT) AS n_pixels,
        CAST(SUM(event_id) AS BIGINT) AS checksum
      FROM f
      WHERE xt % factor = factor // 2 AND yt % factor = factor // 2
      GROUP BY level, factor ORDER BY level"""

  // ---------------------------------------------------------------
  // b52 — AVERAGE overview resampling accounting
  // ---------------------------------------------------------------

  /** b52 — `q_overview_average`: the AVERAGE-resampler counterpart of
    * b47's nearest accounting (the reference pins nearest,
    * processing.py:501-502; `average` is GDAL's other standard
    * overview resampler and the one most raster pipelines default to
    * for continuous data — where nearest READS one source pixel per
    * target, average reads the FULL 2×2 footprint): per level-1
    * target pixel (the z=12 cell right-shifted once per axis), the
    * footprint's feature count and its exact integer-milli mean value
    * (floor(value·1000) per feature — one IEEE multiply+floor, same
    * in both engines — then floor-divided by the count: no float
    * accumulation). ONE scan, map-only parent math, one
    * parent-pixel-keyed agg (map-side combinable; at 100 TB the
    * shuffle carries one row per OCCUPIED parent cell, never the
    * features). */
  def qOverviewAverage(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Synth
    graft.Tables.events(spark, dir).select(col("event_id"), col("value"))
      .withColumn("lon", Synth.lon(col("event_id")))
      .withColumn("lat", Synth.lat(col("event_id")))
      .withColumn("px", expr(s"CAST((${GeoOps.tileXS("lon", 4096)}) div 2 AS INT)"))
      .withColumn("py", expr(s"CAST((${GeoOps.tileYS("lat", 4096)}) div 2 AS INT)"))
      .withColumn("vm", expr("CAST(floor(value * 1000) AS BIGINT)"))
      .groupBy("px", "py")
      .agg(count(lit(1)).as("n_features"),
        sum("vm").as("sum_milli"))
      .withColumn("avg_milli", expr("sum_milli div n_features"))
      .select("px", "py", "n_features", "sum_milli", "avg_milli")
      .orderBy("px", "py")
  }

  val qOverviewAverageSql: String = {
    import graft.functions.Synth
    s"""WITH v AS (
        SELECT CAST((${GeoOps.tileXS(s"(${Synth.lonSql})", 4096)}) // 2 AS INT) AS px,
          CAST((${GeoOps.tileYS(s"(${Synth.latSql})", 4096)}) // 2 AS INT) AS py,
          CAST(floor(value * 1000) AS BIGINT) AS vm
        FROM events)
      SELECT px, py, COUNT(*) AS n_features,
        CAST(SUM(vm) AS BIGINT) AS sum_milli,
        CAST(SUM(vm) AS BIGINT) // COUNT(*) AS avg_milli
      FROM v GROUP BY px, py ORDER BY px, py"""
  }

  // ---------------------------------------------------------------
  // b51 — tilestats ATTRIBUTE summaries
  // ---------------------------------------------------------------

  /** b51 — `q_tilestats_attrs`: the per-layer ATTRIBUTE summaries the
    * tilestats block actually publishes (the mapbox tilestats spec:
    * per layer, per attribute — count, min/max, and a bounded sample
    * of distinct values; b23 VALIDATES a tilestats block, b4 counts
    * features — this produces the attribute half). Attributes here are
    * the events table's numeric columns (user_id, floor(value) —
    * integer-valued so both engines print the sample identically); the
    * value sample is the 10 SMALLEST distinct values (the spec caps
    * the list; smallest-k is the deterministic stand-in for tippecanoe's
    * first-encountered), joined to one string.
    *
    * Shape at 100 TB: ONE scan, a 2-way bounded attribute explode, a
    * pre-aggregation to DISTINCT (layer, attr, value) rows (map-side
    * combinable — repeats collapse before the shuffle), then a
    * layer-bounded agg where `graft_topk_min` hands the sample as a
    * ≤10-long array. No windows. */
  def qTilestatsAttrs(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.Tables.events(spark, dir)
    e.select(col("event_type").as("layer"),
        expr("stack(2, 'user_id', user_id, 'value_floor', CAST(floor(value) AS BIGINT))")
          .as(Seq("attribute", "val")))
      .groupBy("layer", "attribute", "val")
      .agg(count(lit(1)).as("cnt"))
      .groupBy("layer", "attribute")
      .agg(sum("cnt").as("n"),
        count(lit(1)).as("n_distinct"),
        min("val").as("vmin"),
        max("val").as("vmax"),
        expr("graft_topk_min(val, 10)").as("arr"))
      .withColumn("sample",
        expr("concat_ws(',', transform(arr, x -> CAST(x AS STRING)))"))
      .select("layer", "attribute", "n", "n_distinct", "vmin", "vmax", "sample")
      .orderBy("layer", "attribute")
  }

  val qTilestatsAttrsSql: String =
    """WITH st AS (
        SELECT event_type AS layer, 'user_id' AS attribute, user_id AS val FROM events
        UNION ALL
        SELECT event_type, 'value_floor', CAST(floor(value) AS BIGINT) FROM events),
      v AS (
        SELECT layer, attribute, val, COUNT(*) AS cnt
        FROM st GROUP BY layer, attribute, val),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY layer, attribute ORDER BY val) AS rn
        FROM v)
      SELECT layer, attribute,
        CAST(SUM(cnt) AS BIGINT) AS n,
        COUNT(*) AS n_distinct,
        MIN(val) AS vmin, MAX(val) AS vmax,
        string_agg(CASE WHEN rn <= 10 THEN CAST(val AS VARCHAR) END, ',' ORDER BY val) AS sample
      FROM r GROUP BY layer, attribute ORDER BY layer, attribute"""

  // ---------------------------------------------------------------
  // b48 — COG validation gate
  // ---------------------------------------------------------------

  /** b48 — `q_cog_validate`: the post-conversion validity check the
    * reference treats as a publish gate (processing.py:512-516 raises
    * on `cog_validate` failure). Rules modeled on the public rio-cogeo
    * validation semantics over b11's synthesized catalog:
    *  - ERROR  "not tiled"          — blocksize 0 (striped file);
    *  - ERROR  "missing overviews"  — no overviews though the image
    *    exceeds 512 px (a COG reader would full-scan every zoom);
    *  - ERROR  "insufficient overviews" — levels stop before max dim
    *    decimates to ≤ one block;
    *  - WARN   "non-standard blocksize" — tiled but not 256/512.
    * Every dataset knows its own answer from its own row: map-only,
    * no shuffle — at 100 TB this is one pass over the catalog, the
    * same cost class as b11/b30. */
  def qCogValidate(spark: SparkSession, dir: String): DataFrame = {
    val p = graft.Tables(spark, dir, "part")
    p.select(col("p_partkey"),
        ((col("p_partkey") * 7919L) % 20000L + 256L).as("w"),
        ((col("p_partkey") * 104729L) % 20000L + 256L).as("h"))
      // fault injection keyed off the dataset id: ~1/13 striped,
      // ~1/13 tiled at a non-standard 128, ~1/13 at (valid) 512
      .withColumn("blocksize",
        expr("CASE p_partkey % 13 WHEN 0 THEN 0 WHEN 1 THEN 128 WHEN 2 THEN 512 ELSE 256 END"))
      .withColumn("expected_overviews",
        expr("CAST(length(bin(greatest(w, h) div 256)) AS INT)"))
      // ~1/11 lost their overviews entirely, ~1/11 stopped one short
      .withColumn("overviews",
        expr("CASE p_partkey % 11 WHEN 0 THEN 0 WHEN 1 THEN greatest(expected_overviews - 1, 0) ELSE expected_overviews END"))
      .withColumn("err_not_tiled", expr("blocksize = 0"))
      .withColumn("err_no_overviews",
        expr("overviews = 0 AND greatest(w, h) > 512"))
      .withColumn("err_short_overviews",
        expr("overviews > 0 AND overviews < expected_overviews"))
      .withColumn("warn_blocksize",
        expr("blocksize <> 0 AND blocksize <> 256 AND blocksize <> 512"))
      .withColumn("n_errors",
        expr("CAST(err_not_tiled AS INT) + CAST(err_no_overviews AS INT) + CAST(err_short_overviews AS INT)"))
      .withColumn("n_warnings", expr("CAST(warn_blocksize AS INT)"))
      .withColumn("is_valid", col("n_errors") === 0)
      .withColumn("message",
        expr("""CASE WHEN err_not_tiled THEN 'The file is not tiled'
                WHEN err_no_overviews THEN 'The file does not have overviews'
                WHEN err_short_overviews THEN 'Overview levels are insufficient'
                ELSE '' END"""))
      .select("p_partkey", "blocksize", "overviews", "expected_overviews",
        "n_errors", "n_warnings", "is_valid", "message")
      .orderBy("p_partkey")
  }

  val qCogValidateSql: String =
    """WITH d AS (
        SELECT p_partkey,
          (p_partkey * 7919) % 20000 + 256 AS w,
          (p_partkey * 104729) % 20000 + 256 AS h,
          CASE p_partkey % 13 WHEN 0 THEN 0 WHEN 1 THEN 128 WHEN 2 THEN 512 ELSE 256 END AS blocksize
        FROM part),
      e AS (
        SELECT *, CAST(length(bin(GREATEST(w, h) // 256)) AS INT) AS expected_overviews
        FROM d),
      o AS (
        SELECT *,
          CAST(CASE p_partkey % 11 WHEN 0 THEN 0 WHEN 1 THEN GREATEST(expected_overviews - 1, 0) ELSE expected_overviews END AS INT) AS overviews
        FROM e),
      v AS (
        SELECT *,
          blocksize = 0 AS err_not_tiled,
          overviews = 0 AND GREATEST(w, h) > 512 AS err_no_overviews,
          overviews > 0 AND overviews < expected_overviews AS err_short_overviews,
          blocksize <> 0 AND blocksize <> 256 AND blocksize <> 512 AS warn_blocksize
        FROM o)
      SELECT p_partkey, blocksize, overviews, expected_overviews,
        CAST(err_not_tiled AS INT) + CAST(err_no_overviews AS INT) + CAST(err_short_overviews AS INT) AS n_errors,
        CAST(warn_blocksize AS INT) AS n_warnings,
        (CAST(err_not_tiled AS INT) + CAST(err_no_overviews AS INT) + CAST(err_short_overviews AS INT)) = 0 AS is_valid,
        CASE WHEN err_not_tiled THEN 'The file is not tiled'
             WHEN err_no_overviews THEN 'The file does not have overviews'
             WHEN err_short_overviews THEN 'Overview levels are insufficient'
             ELSE '' END AS message
      FROM v ORDER BY p_partkey"""

  val registry: Seq[Query] = Seq(
    Query("q_tile_drop", qTileDrop, Oracle(qTileDropSql)),
    Query("q_tile_budget", qTileBudget, Oracle(qTileBudgetSql)),
    Query("q_tilestats_attrs", qTilestatsAttrs, Oracle(qTilestatsAttrsSql)),
    Query("q_overview_sample", qOverviewSample, Oracle(qOverviewSampleSql)),
    Query("q_overview_average", qOverviewAverage, Oracle(qOverviewAverageSql)),
    Query("q_cog_validate", qCogValidate, Oracle(qCogValidateSql)))
}
