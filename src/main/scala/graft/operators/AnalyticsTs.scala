package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 C (time-series / product analytics) — c48-c50: the event-stream
  * shapes a progress/telemetry table like the reference's ingest-event
  * log (ingest.py stage events, azlog.py records) needs beyond plain
  * windows: dense-grid forward fill, cohort retention, and transition
  * matrices. Same oracle-compat rules as Analytics.scala: money/gauge
  * doubles quantized to integer cents, at most one final IEEE
  * division, total ORDER BY, no raw timestamps out (integer day
  * indexes instead).
  */
object AnalyticsTs {

  // c48 — gap fill + forward fill (the IoT/finance dense-grid shape):
  // each user's 'view' events carry a gauge reading (`value`); per
  // (user, day) the CLOSING reading is the last event of the day, and
  // missing days between a user's first and last active day are
  // filled with the prior closing reading plus a staleness counter.
  // Plan: one events scan → per-(user, day) closing via row_number
  // (total (ts, event_id) tiebreak, deterministic cross-engine) →
  // per-user [min, max] day span → sequence/explode builds the dense
  // grid MAP-ONLY off the 1-row-per-user span agg. Both grid and
  // closing are repartitioned on user_id alone, so the grid join
  // (user, day) AND the two forward-fill windows (user) ride ONE
  // user-keyed exchange: HashPartitioning(user_id) satisfies the
  // join's ClusteredDistribution(user_id, day) — plan-asserted in
  // PlanAuditSpec. Gauge doubles become integer cents before any agg.
  // At 100 TB: grid size is bounded by users × span-days (output-
  // proportional, not event-proportional), the fill window's frame is
  // running (no whole-partition buffering), and nothing is collected.
  def qGapFill(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"),
        (unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val byDayLast = Window.partitionBy(col("user_id"), col("day"))
      .orderBy(col("ts_ms").desc, col("event_id").desc)
    val closing = e.withColumn("rn", row_number().over(byDayLast))
      .filter(col("rn") === 1)
      .select("user_id", "day", "v_cents")
      .repartition(col("user_id"))
    val grid = e.groupBy("user_id")
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
      .repartition(col("user_id"))
    val fill = Window.partitionBy(col("user_id")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(closing, Seq("user_id", "day"), "left_outer")
      .withColumn("observed", when(col("v_cents").isNotNull, 1).otherwise(0))
      .withColumn("filled_cents", last(col("v_cents"), ignoreNulls = true).over(fill))
      .withColumn("last_obs_day",
        last(when(col("v_cents").isNotNull, col("day")), ignoreNulls = true).over(fill))
      .select(col("user_id"), col("day"), col("filled_cents"), col("observed"),
        (col("day") - col("last_obs_day")).as("days_stale"))
      .orderBy("user_id", "day")
  }

  val qGapFillSql: String =
    """WITH e AS (
         SELECT user_id, epoch_ms(ts) // 86400000 AS day, epoch_ms(ts) AS ts_ms, event_id,
           CAST(round(value * 100) AS BIGINT) AS v_cents
         FROM events WHERE event_type = 'view'
       ), closing AS (
         SELECT user_id, day, v_cents FROM (
           SELECT user_id, day, v_cents,
             row_number() OVER (PARTITION BY user_id, day ORDER BY ts_ms DESC, event_id DESC) AS rn
           FROM e) WHERE rn = 1
       ), span AS (
         SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM e GROUP BY user_id
       ), grid AS (
         SELECT user_id, UNNEST(generate_series(d0, d1)) AS day FROM span
       )
       SELECT g.user_id, g.day,
         last_value(c.v_cents IGNORE NULLS) OVER w AS filled_cents,
         CASE WHEN c.v_cents IS NOT NULL THEN 1 ELSE 0 END AS observed,
         g.day - last_value(CASE WHEN c.v_cents IS NOT NULL THEN g.day END IGNORE NULLS) OVER w AS days_stale
       FROM grid g LEFT JOIN closing c ON g.user_id = c.user_id AND g.day = c.day
       WINDOW w AS (PARTITION BY g.user_id ORDER BY g.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ORDER BY g.user_id, g.day"""

  // c49 — cohort retention matrix: users cohorted by FIRST-EVER event
  // day, a cell (cohort_day, offset) counts distinct cohort members
  // active offset days later, plus the share of the cohort that
  // retains. Plan: first-seen and per-(user, day) activity are two
  // aggs over one scan, both keyed on user_id — the activity agg
  // groups on (user_id, day) and rides a user_id-only repartition, so
  // the cohort attach join shares that same exchange; the final
  // (cohort, offset) agg is the only other shuffle, bounded by
  // span-days². count(distinct) collapses to a plain count because
  // (user, day) rows are already distinct. The retention share is the
  // one IEEE division, on the final bounded matrix.
  // At 100 TB: nothing driver-side, matrix size is days², and the
  // wide activity agg is map-side combined.
  def qRetentionCohorts(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
    val activity = e.groupBy("user_id", "day").agg(count(lit(1)).as("_n"))
      .select("user_id", "day").repartition(col("user_id"))
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      .repartition(col("user_id"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_n"))
    activity.join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("offset_days"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("offset_days"), col("n_active"), col("cohort_n"),
        (col("n_active").cast("double") / col("cohort_n")).as("retention"))
      .orderBy("cohort_day", "offset_days")
  }

  val qRetentionCohortsSql: String =
    """WITH e AS (
         SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events
       ), activity AS (
         SELECT DISTINCT user_id, day FROM e
       ), cohort AS (
         SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id
       ), sizes AS (
         SELECT cohort_day, COUNT(*) AS cohort_n FROM cohort GROUP BY cohort_day
       ), cells AS (
         SELECT c.cohort_day, a.day - c.cohort_day AS offset_days, COUNT(*) AS n_active
         FROM activity a JOIN cohort c USING (user_id)
         GROUP BY 1, 2
       )
       SELECT cohort_day, offset_days, n_active, cohort_n,
         CAST(n_active AS DOUBLE) / cohort_n AS retention
       FROM cells JOIN sizes USING (cohort_day)
       ORDER BY cohort_day, offset_days"""

  // c50 — first-order Markov transition matrix over event types: per
  // user, consecutive events (total (ts, event_id) order) form
  // (from_type, to_type) transitions; the matrix row-normalizes to
  // probabilities. Plan: ONE user-keyed exchange carries the lead()
  // window; the pair agg and per-from totals both collapse to the
  // 5×5 matrix before the single division each row pays. The per-from
  // total re-enters by joining two BOUNDED aggs (|event_types|²),
  // never re-scanning events.
  // At 100 TB: the window is the only event-volume shuffle; the
  // matrix is O(types²) regardless of volume.
  def qNextEventMarkov(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"), col("event_id"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = e
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .filter(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum(col("n")).as("from_n"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("from_n"),
        (col("n").cast("double") / col("from_n")).as("p"))
      .orderBy("from_type", "to_type")
  }

  val qNextEventMarkovSql: String =
    """WITH pairs AS (
         SELECT event_type AS from_type,
           lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS to_type
         FROM events
       ), cnt AS (
         SELECT from_type, to_type, COUNT(*) AS n FROM pairs
         WHERE to_type IS NOT NULL GROUP BY 1, 2
       ), totals AS (
         SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_n FROM cnt GROUP BY 1
       )
       SELECT from_type, to_type, n, from_n, CAST(n AS DOUBLE) / from_n AS p
       FROM cnt JOIN totals USING (from_type)
       ORDER BY from_type, to_type"""

  // c51 — audience overlap across event-type segments via the native
  // KMV sketch (functions/Kmv.scala): per segment, graft_kmv keeps the
  // k smallest distinct 60-bit user hashes (mergeable with NO loss —
  // shuffle volume is k·partitions regardless of user cardinality);
  // sketch ALGEBRA answers what HLL cannot: the union of two sketches
  // is "k smallest of the merge" (itself an exact KMV of the union),
  // and the intersection estimate is the Jaccard fraction of the union
  // sketch both sides contain, times the union estimate. Everything
  // after the 5-row sketch agg is arithmetic on ≤k-long arrays (the
  // pair join is 5×5), so the query is fully ORACLE-GATED: DuckDB
  // brute-forces the same k smallest distinct md5 hashes and must land
  // on identical doubles (sketches smaller than k degrade to EXACT
  // sets — the estimates then equal true counts, which the sf0.01
  // corpus' 150 users exercise; sf0.1's 1500 users exercise genuine
  // estimation).
  def qSegmentOverlap(spark: SparkSession, dir: String): DataFrame = {
    val k = 256
    val e = Tables.events(spark, dir)
      .select(col("event_type"), expr("graft_sid60(CAST(user_id AS STRING))").as("h"))
    val seg = e.groupBy("event_type").agg(expr(s"graft_kmv(h, $k)").as("sk"))
    val a = seg.select(col("event_type").as("type_a"), col("sk").as("ska"))
    val b = seg.select(col("event_type").as("type_b"), col("sk").as("skb"))
    val two60 = "CAST(1152921504606846976 AS DOUBLE)"
    def est(arr: String) =
      s"""CASE WHEN size($arr) < $k THEN CAST(size($arr) AS DOUBLE)
          ELSE ($k - 1) * $two60 / element_at($arr, $k) END"""
    a.join(b, col("type_a") < col("type_b"))
      .withColumn("u", expr(s"slice(array_sort(array_union(ska, skb)), 1, $k)"))
      .withColumn("inter_k",
        expr("size(filter(u, x -> array_contains(ska, x) AND array_contains(skb, x)))"))
      .select(col("type_a"), col("type_b"),
        expr(est("ska")).as("est_a"), expr(est("skb")).as("est_b"),
        expr(est("u")).as("est_union"),
        expr(s"""CASE WHEN size(u) < $k THEN CAST(inter_k AS DOUBLE)
                 ELSE inter_k * (${est("u")}) / $k END""").as("est_inter"))
      .orderBy("type_a", "type_b")
  }

  val qSegmentOverlapSql: String = {
    val est = (arr: String) =>
      s"""CASE WHEN len($arr) < 256 THEN CAST(len($arr) AS DOUBLE)
          ELSE 255 * CAST(1152921504606846976 AS DOUBLE) / $arr[256] END"""
    s"""WITH h AS (
         SELECT DISTINCT event_type,
           CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) AS h
         FROM events),
       r AS (SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM h),
       sk AS (SELECT event_type, list(h ORDER BY h) AS arr
         FROM r WHERE rn <= 256 GROUP BY event_type),
       p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
           a.arr AS ska, b.arr AS skb
         FROM sk a JOIN sk b ON a.event_type < b.event_type),
       uu AS (SELECT type_a, type_b, ska, skb,
           (list_sort(list_distinct(list_concat(ska, skb))))[1:256] AS u FROM p),
       ii AS (SELECT *, len(list_filter(u,
           x -> list_contains(ska, x) AND list_contains(skb, x))) AS inter_k FROM uu)
       SELECT type_a, type_b, ${est("ska")} AS est_a, ${est("skb")} AS est_b,
         ${est("u")} AS est_union,
         CASE WHEN len(u) < 256 THEN CAST(inter_k AS DOUBLE)
              ELSE inter_k * (${est("u")}) / 256 END AS est_inter
       FROM ii ORDER BY type_a, type_b"""
  }

  // c53 — time-weighted average of an irregularly-sampled gauge (the
  // TSDB staple a plain AVG gets wrong: a reading that HELD for an
  // hour must weigh 60× one that held a minute): per user, each
  // 'view' reading holds until the next (c48's step semantics), so
  // TWA = Σ vᵢ·(tᵢ₊₁−tᵢ) / (t_last−t_first). The weights come from
  // ONE lead() over the same user-keyed exchange the final agg rides;
  // numerator/denominator are exact integer sums (cents × ms deltas
  // ≤ 2⁶³), one IEEE division per user at the end; single-sample
  // users degrade to the sample itself (zero span). Map-only before
  // the one exchange — the 100 TB shape.
  def qTimeWeightedAvg(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    e.withColumn("next_ms", lead(col("ms"), 1).over(byUser))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_samples"),
        (max(col("ms")) - min(col("ms"))).as("span_ms"),
        sum(when(col("next_ms").isNotNull,
          col("v_cents") * (col("next_ms") - col("ms"))).otherwise(0L)).as("num"),
        max(when(col("next_ms").isNull, col("v_cents"))).as("last_cents"))
      .select(col("user_id"), col("n_samples"), col("span_ms"),
        when(col("span_ms") === 0, col("last_cents").cast("double") / 100)
          .otherwise(col("num").cast("double") / col("span_ms") / 100).as("twa"))
      .orderBy("user_id")
  }

  val qTimeWeightedAvgSql: String =
    """WITH e AS (
         SELECT user_id, epoch_ms(ts) AS ms, event_id,
           CAST(round(value * 100) AS BIGINT) AS v_cents
         FROM events WHERE event_type = 'view'
       ), w AS (
         SELECT user_id, ms, v_cents,
           lead(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS next_ms
         FROM e
       ), a AS (
         SELECT user_id, COUNT(*) AS n_samples,
           MAX(ms) - MIN(ms) AS span_ms,
           CAST(SUM(CASE WHEN next_ms IS NOT NULL
             THEN v_cents * (next_ms - ms) ELSE 0 END) AS BIGINT) AS num,
           MAX(CASE WHEN next_ms IS NULL THEN v_cents END) AS last_cents
         FROM w GROUP BY user_id
       )
       SELECT user_id, n_samples, span_ms,
         CASE WHEN span_ms = 0 THEN CAST(last_cents AS DOUBLE) / 100
              ELSE CAST(num AS DOUBLE) / span_ms / 100 END AS twa
       FROM a ORDER BY user_id"""

  // c54 — top user journeys: c8's gap sessionization composed into
  // path analysis (the "what do users actually do" product query):
  // sessions cut at 30-min gaps, each session's first 5 event types
  // join into a path string, paths count into a top-20. Plan: the
  // session windows, the per-session rank, AND the session agg all
  // ride ONE user-keyed exchange (session_id is per-user, so
  // HashPartitioning(user) satisfies every downstream clustering);
  // the path agg is the only other shuffle and carries one row per
  // session. The 5-event cap bounds path cardinality — at 100 TB the
  // path table is small regardless of event volume. Per-session
  // ordering is the total (ts, event_id) order, deterministic
  // cross-engine.
  def qSessionPaths(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val sess = e
      .withColumn("new_sess",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > 1800000L, 1).otherwise(0))
      .withColumn("session_id",
        sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("user_id"), col("session_id"))
          .orderBy(col("ts_ms"), col("event_id"))))
      .filter(col("rn") <= 5)
    sess.groupBy("user_id", "session_id")
      .agg(array_join(expr(
        "transform(array_sort(collect_list(struct(rn, event_type))), x -> x.event_type)"),
        ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
      .orderBy(col("n_sessions").desc, col("path"))
      .limit(20)
  }

  val qSessionPathsSql: String =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_ms(ts) AS ms FROM events
       ), flagged AS (
         SELECT *, CASE WHEN ms - LAG(ms, 1) OVER
             (PARTITION BY user_id ORDER BY ms, event_id) > 1800000
           THEN 1 ELSE 0 END AS new_sess
         FROM e
       ), sess AS (
         SELECT *, SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         FROM flagged
       ), ranked AS (
         SELECT *, row_number() OVER (PARTITION BY user_id, session_id
             ORDER BY ms, event_id) AS rn
         FROM sess
       ), paths AS (
         SELECT user_id, session_id,
           string_agg(event_type, '>' ORDER BY rn) AS path
         FROM ranked WHERE rn <= 5 GROUP BY user_id, session_id
       )
       SELECT path, COUNT(*) AS n_sessions
       FROM paths GROUP BY path
       ORDER BY n_sessions DESC, path LIMIT 20"""

  // c56 — per-entity trend: closed-form least squares (slope,
  // intercept, Pearson r) of each user's gauge readings over time —
  // the "which metrics are drifting" query a fleet dashboard runs per
  // asset. All five moments (Σx Σy Σxy Σx² Σy²) are EXACT integer
  // sums: x = seconds since the user's first reading (a window min
  // riding the same user exchange as the agg — centering is also what
  // keeps x² inside 64 bits; raw epoch-ms squares overflow), y =
  // gauge cents. The slope/intercept/r divisions and the one sqrt are
  // IEEE ops on exact integers — deterministic cross-engine. Users
  // with < 2 points or zero time-variance yield NULLs (CASE'd
  // identically in both engines). One user-keyed exchange total;
  // map-side combined moments.
  def qTrend(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("y"))
    val c = e.withColumn("x", expr("(ms - min(ms) OVER (PARTITION BY user_id)) div 1000"))
    val m = c.groupBy("user_id").agg(
      count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("x") * col("x")).as("sxx"),
      sum(col("y") * col("y")).as("syy"))
    m.select(col("user_id"), col("n"),
        (col("n") * col("sxy") - col("sx") * col("sy")).as("cov_n"),
        (col("n") * col("sxx") - col("sx") * col("sx")).as("varx_n"),
        (col("n") * col("syy") - col("sy") * col("sy")).as("vary_n"),
        col("sx"), col("sy"))
      .withColumn("slope_cents_per_s",
        when(col("varx_n") > 0, col("cov_n").cast("double") / col("varx_n")))
      .select(col("user_id"), col("n"), col("slope_cents_per_s"),
        // intercept = ȳ − slope·x̄, in doubles: the all-integer form's
        // sy·varx term tops 10²³ — past Int64 in Spark while DuckDB
        // silently promotes to HUGEINT, a cross-engine trap
        when(col("varx_n") > 0,
          col("sy").cast("double") / col("n")
            - col("slope_cents_per_s") * (col("sx").cast("double") / col("n")))
          .as("intercept_cents"),
        when(col("varx_n") > 0 && col("vary_n") > 0,
          col("cov_n").cast("double")
            / sqrt(col("varx_n").cast("double") * col("vary_n").cast("double"))).as("r"))
      .orderBy("user_id")
  }

  val qTrendSql: String =
    """WITH e AS (
         SELECT user_id, epoch_ms(ts) AS ms,
           CAST(round(value * 100) AS BIGINT) AS y
         FROM events WHERE event_type = 'view'
       ), c AS (
         SELECT user_id, (ms - MIN(ms) OVER (PARTITION BY user_id)) // 1000 AS x, y
         FROM e
       ), m AS (
         SELECT user_id, COUNT(*) AS n,
           CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
           CAST(SUM(x * y) AS BIGINT) AS sxy,
           CAST(SUM(x * x) AS BIGINT) AS sxx,
           CAST(SUM(y * y) AS BIGINT) AS syy
         FROM c GROUP BY user_id
       ), d AS (
         SELECT user_id, n,
           n * sxy - sx * sy AS cov_n,
           n * sxx - sx * sx AS varx_n,
           n * syy - sy * sy AS vary_n, sx, sy
         FROM m
       )
       , s AS (
         SELECT *, CASE WHEN varx_n > 0
           THEN CAST(cov_n AS DOUBLE) / varx_n END AS slope_cents_per_s
         FROM d)
       SELECT user_id, n, slope_cents_per_s,
         CASE WHEN varx_n > 0 THEN CAST(sy AS DOUBLE) / n
           - slope_cents_per_s * (CAST(sx AS DOUBLE) / n) END AS intercept_cents,
         CASE WHEN varx_n > 0 AND vary_n > 0 THEN CAST(cov_n AS DOUBLE)
           / sqrt(CAST(varx_n AS DOUBLE) * CAST(vary_n AS DOUBLE)) END AS r
       FROM s ORDER BY user_id"""

  // c57 — robust per-entity anomaly detection (median + MAD, the
  // outlier rule that mean/stddev z-scores get wrong BECAUSE the
  // outliers they're hunting poison the mean and inflate σ; median/MAD
  // have breakdown point 0.5): per user over the 'view' gauge stream,
  // med = exact lower median of the cents values (rank (n+1) div 2
  // under the total (v_cents, event_id) order), MAD = exact lower
  // median of |v − med|, a reading is anomalous iff |v − med| > 3·MAD
  // — every comparison is INTEGER cents, so the flag set is identical
  // in any engine. Plan: ONE user-keyed exchange carries everything —
  // two rank windows (value order, then deviation order), the two
  // median extractions as full-partition conditional MAXes, and the
  // final per-user agg; no joins, no sort of anything but the user's
  // own rows. At 100 TB per-user cardinality is the partition grain
  // (the c8/c48 contract); a degenerate half-constant user (MAD = 0)
  // flags every nonzero deviation — the conventional MAD-collapse
  // behavior, deterministic here.
  def qAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val wAll = Window.partitionBy("user_id")
    val byV = Window.partitionBy("user_id").orderBy(col("v_cents"), col("event_id"))
    val withMed = e
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rv", row_number().over(byV))
      .withColumn("med_cents",
        max(when(col("rv") === expr("(n + 1) div 2"), col("v_cents"))).over(wAll))
      .withColumn("dev", abs(col("v_cents") - col("med_cents")))
    val byDev = Window.partitionBy("user_id").orderBy(col("dev"), col("event_id"))
    withMed
      .withColumn("rd", row_number().over(byDev))
      .withColumn("mad_cents",
        max(when(col("rd") === expr("(n + 1) div 2"), col("dev"))).over(wAll))
      .groupBy("user_id")
      .agg(max(col("n")).as("n"),
        max(col("med_cents")).as("med_cents"),
        max(col("mad_cents")).as("mad_cents"),
        sum(when(col("dev") > lit(3) * col("mad_cents"), 1L).otherwise(0L)).as("n_anom"),
        max(when(col("dev") > lit(3) * col("mad_cents"), col("dev"))).as("max_anom_dev"))
      .orderBy("user_id")
  }

  val qAnomalySql: String =
    """WITH e AS (
         SELECT user_id, event_id, CAST(round(value * 100) AS BIGINT) AS v_cents
         FROM events WHERE event_type = 'view'
       ), m AS (
         SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v_cents, event_id) AS rv
         FROM e
       ), m2 AS (
         SELECT *, MAX(CASE WHEN rv = (n + 1) // 2 THEN v_cents END)
             OVER (PARTITION BY user_id) AS med_cents
         FROM m
       ), d AS (
         SELECT *, abs(v_cents - med_cents) AS dev,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY abs(v_cents - med_cents), event_id) AS rd
         FROM m2
       ), d2 AS (
         SELECT *, MAX(CASE WHEN rd = (n + 1) // 2 THEN dev END)
             OVER (PARTITION BY user_id) AS mad_cents
         FROM d
       )
       SELECT user_id, MAX(n) AS n, MAX(med_cents) AS med_cents,
         MAX(mad_cents) AS mad_cents,
         CAST(SUM(CASE WHEN dev > 3 * mad_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_anom,
         MAX(CASE WHEN dev > 3 * mad_cents THEN dev END) AS max_anom_dev
       FROM d2 GROUP BY user_id ORDER BY user_id"""

  // c58 — last-touch revenue attribution (the marketing-analytics
  // staple): each purchase credits the user's most recent PRIOR click
  // (strictly before, under the total (ts, event_id) order), but only
  // within a 7-day attribution window — older clicks and click-less
  // purchases credit 'direct'. Channel is a deterministic derivation
  // of the click's JSON props (k % 4 — a11's get_json_object twin on
  // both engines). ONE user-keyed exchange: the two carry-forward
  // windows (last qualifying channel, its timestamp — frames end at
  // 1 PRECEDING so a click never attributes a purchase at its own
  // instant) ride the same partitioning, purchases filter AFTER the
  // carry so the window sees the full event stream, and the final
  // channel rollup is a bounded agg. Revenue stays integer cents.
  // At 100 TB: event-volume work is the one user partition sort —
  // c8/c54's grain; the attribution state per row is two columns, not
  // a join against a click table (the naive click×purchase interval
  // join is quadratic in hot users and loses the within-window
  // LATEST-click rule to ties).
  def qAttribution(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_millis(col("ts")).as("ts_ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
    val channel = when(col("k") % 4 === 0, "organic")
      .when(col("k") % 4 === 1, "email")
      .when(col("k") % 4 === 2, "social")
      .otherwise("ads")
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("click_channel",
        last(when(col("event_type") === "click", channel), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts_ms")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .withColumn("channel",
        when(col("click_channel").isNull, "direct")
          .when(col("ts_ms") - col("click_ts") > 7L * 86400000L, "direct")
          .otherwise(col("click_channel")))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_purchases"), sum(col("v_cents")).as("revenue_cents"))
      .orderBy("channel")
  }

  val qAttributionSql: String =
    """WITH e AS (
         SELECT user_id, event_id, event_type, epoch_ms(ts) AS ts_ms,
           CAST(round(value * 100) AS BIGINT) AS v_cents,
           CAST(json_extract(props, '$.k') AS INT) AS k
         FROM events
       ), c AS (
         SELECT *,
           last_value(CASE WHEN event_type = 'click' THEN
               CASE WHEN k % 4 = 0 THEN 'organic' WHEN k % 4 = 1 THEN 'email'
                    WHEN k % 4 = 2 THEN 'social' ELSE 'ads' END END IGNORE NULLS)
             OVER w AS click_channel,
           last_value(CASE WHEN event_type = 'click' THEN ts_ms END IGNORE NULLS)
             OVER w AS click_ts
         FROM e
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       ), p AS (
         SELECT CASE WHEN click_channel IS NULL THEN 'direct'
                     WHEN ts_ms - click_ts > 604800000 THEN 'direct'
                     ELSE click_channel END AS channel, v_cents
         FROM c WHERE event_type = 'purchase'
       )
       SELECT channel, CAST(COUNT(*) AS BIGINT) AS n_purchases,
         CAST(SUM(v_cents) AS BIGINT) AS revenue_cents
       FROM p GROUP BY channel ORDER BY channel"""

  // c59 — rolling 7-day active users + stickiness (DAU / rolling MAU,
  // the product-analytics health metric): activity collapses to
  // DISTINCT (user, day) first (event volume exits immediately), each
  // activity day then CONTRIBUTES to the 7 windows ending on
  // day..day+6 via a map-only explode, and a second distinct over
  // (user, window-day) counts each user once per window no matter how
  // many active days fall inside it. EXACT rolling distinct — a
  // windowed SUM of daily counts would double-count multi-day users;
  // this is the explode-×7 formulation whose cost is 7× the ACTIVITY
  // table (users × active days), never 7× events. Stickiness = one
  // rounded division per output day; days with rolling coverage but
  // no direct activity emit dau = 0. At extreme user cardinality the
  // same rolling union reads off c51's mergeable KMV sketches
  // (k-smallest-of-merge) instead of the exact distinct — the
  // documented swap, not needed at exactness-feasible scales.
  def qRollingActive(spark: SparkSession, dir: String): DataFrame = {
    val a = Tables.events(spark, dir)
      .select(col("user_id"),
        (unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
      .distinct()
    val maxDay = a.agg(max(col("day")).as("maxd"))
    val windows = a
      .select(col("user_id"), explode(sequence(col("day"), col("day") + 6)).as("wd"))
      .distinct()
      .crossJoin(broadcast(maxDay))
      .filter(col("wd") <= col("maxd"))
    val mau = windows.groupBy("wd").agg(count(lit(1)).as("mau7"))
    val dau = a.groupBy("day").agg(count(lit(1)).as("dau"))
    mau.join(dau, mau("wd") === dau("day"), "left_outer")
      .select(col("wd").as("day"),
        coalesce(col("dau"), lit(0L)).as("dau"), col("mau7"))
      .withColumn("stickiness",
        round(col("dau").cast("double") / col("mau7"), 6))
      .orderBy("day")
  }

  val qRollingActiveSql: String =
    """WITH a AS (
         SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day FROM events
       ), off AS (SELECT unnest(generate_series(0, 6)) AS o),
       w AS (SELECT DISTINCT user_id, day + o AS wd FROM a, off),
       mx AS (SELECT MAX(day) AS maxd FROM a),
       mau AS (SELECT wd, COUNT(*) AS mau7 FROM w, mx WHERE wd <= maxd GROUP BY wd),
       dau AS (SELECT day AS dday, COUNT(*) AS dau FROM a GROUP BY day)
       SELECT wd AS day, CAST(COALESCE(dau, 0) AS BIGINT) AS dau,
         CAST(mau7 AS BIGINT) AS mau7,
         round(CAST(COALESCE(dau, 0) AS DOUBLE) / mau7, 6) AS stickiness
       FROM mau LEFT JOIN dau ON dday = wd ORDER BY day"""

  // c60 — peak concurrency (interval stabbing: "how many sessions were
  // live at once, and when" — capacity planning's first question):
  // c8's gap sessions become [start, end] intervals, each emits +1 at
  // start and −1 at end+1 (d14's coverage-delta trick at the session
  // grain), deltas COLLAPSE per millisecond (one bounded shuffle — the
  // stream shrinks to distinct timestamps), and one ordered prefix sum
  // turns deltas into the live-session level; the global maximum is
  // always attained at a +1 point, so point-sampling is exact for
  // peaks. Output per day: starts, ends, the peak level among the
  // day's delta points and the earliest ms attaining it. The prefix
  // sum is TWO-PHASE: per-day partial sums feed a global window over
  // DAYS (calendar-bounded — 30 rows here), each day's carry-in
  // broadcasts back, and the within-day running sums execute in
  // PARALLEL per-day partitions. Measured reason: the single-task
  // global-window first cut ran 17.2× wall for 100× events (22.3 s at
  // the 60M-row GenTpch point — distinct timestamps grow with volume,
  // so "collapsed" is not "bounded"); the split cuts that point to
  // 16.8 s (8.2× for 100× — the remainder is the honest linear work:
  // the user-keyed sessionize window and the ms-collapse shuffle) and
  // leaves the day-count-sized window as the only serial stage, so no
  // single task's share grows with volume.
  def qConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val sess = e.withColumn("new_sess",
        when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > 1800000L, 1).otherwise(0))
      .withColumn("session_id", sum(col("new_sess"))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_ms")).as("s"), max(col("ts_ms")).as("t"))
    val deltas = sess.select(col("s").as("ms"), lit(1L).as("d"))
      .union(sess.select((col("t") + 1L).as("ms"), lit(-1L).as("d")))
      .groupBy("ms").agg(sum(col("d")).as("d"))
      .withColumn("day", expr("ms div 86400000"))
    // phase 1: per-day totals → carry-in level at each day's start
    // (global window over DAYS only — calendar-bounded)
    val wDays = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carries = deltas.groupBy("day").agg(sum(col("d")).as("day_sum"))
      .withColumn("carry", coalesce(sum(col("day_sum")).over(wDays), lit(0L)))
      .select("day", "carry")
    // phase 2: within-day running sums, parallel across days
    val wInDay = Window.partitionBy(col("day")).orderBy(col("ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.join(broadcast(carries), "day")
      .withColumn("level", col("carry") + sum(col("d")).over(wInDay))
      .withColumn("day_peak", max(col("level")).over(Window.partitionBy(col("day"))))
      .groupBy("day")
      .agg(sum(when(col("d") > 0, col("d")).otherwise(0L)).as("n_starts"),
        sum(when(col("d") < 0, -col("d")).otherwise(0L)).as("n_ends"),
        max(col("level")).as("peak_level"),
        min(when(col("level") === col("day_peak"), col("ms"))).as("peak_ms"))
      .orderBy("day")
  }

  val qConcurrencySql: String =
    """WITH e AS (
         SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
       ), flagged AS (
         SELECT user_id, ts_ms,
           CASE WHEN ts_ms - LAG(ts_ms, 1) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000
                THEN 1 ELSE 0 END AS new_sess,
           event_id
         FROM e
       ), sess AS (
         SELECT user_id,
           SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id,
           ts_ms
         FROM flagged
       ), iv AS (
         SELECT user_id, session_id, MIN(ts_ms) AS s, MAX(ts_ms) AS t
         FROM sess GROUP BY user_id, session_id
       ), deltas AS (
         SELECT ms, CAST(SUM(d) AS BIGINT) AS d FROM (
           SELECT s AS ms, 1 AS d FROM iv
           UNION ALL SELECT t + 1, -1 FROM iv) x
         GROUP BY ms
       ), lv AS (
         SELECT ms, d,
           SUM(d) OVER (ORDER BY ms ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS level,
           ms // 86400000 AS day
         FROM deltas
       ), pk AS (
         SELECT *, MAX(level) OVER (PARTITION BY day) AS day_peak FROM lv
       )
       SELECT day,
         CAST(SUM(CASE WHEN d > 0 THEN d ELSE 0 END) AS BIGINT) AS n_starts,
         CAST(SUM(CASE WHEN d < 0 THEN -d ELSE 0 END) AS BIGINT) AS n_ends,
         CAST(MAX(level) AS BIGINT) AS peak_level,
         MIN(CASE WHEN level = day_peak THEN ms END) AS peak_ms
       FROM pk GROUP BY day ORDER BY day"""

  // c61 — CUSUM drift detection (Page 1954, the SPC change-point
  // test: "did this gauge's level SHIFT, and when" — c57 flags point
  // outliers, c61 flags sustained drifts a 3σ rule never sees). The
  // textbook recursion s_i = max(0, s_{i-1} + (x_i − μ0 − A)) looks
  // sequential, but it has the prefix-min closed form s_i = P_i −
  // min_{j≤i} P_j with P the running sum of (x − μ0 − A) — so the
  // whole statistic is TWO running windows over the same user-keyed
  // exchange that also computes μ0 (the user's exact lower median,
  // c57's rank machinery) — everything integer cents, engine-free.
  // Allowance A = 50¢, alarm threshold h = 20000¢ (the corpus-calibrated
  // mid-distribution cut: per-user max CUSUM medians ≈ 21k at every sf); output per user: med, max CUSUM, points
  // above h, first alarm ms.
  def qCusum(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v_cents"))
    val wAll = Window.partitionBy("user_id")
    val byV = Window.partitionBy("user_id").orderBy(col("v_cents"), col("event_id"))
    val byT = Window.partitionBy("user_id").orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.withColumn("n", count(lit(1)).over(wAll))
      .withColumn("rv", row_number().over(byV))
      .withColumn("med", max(when(col("rv") === expr("(n + 1) div 2"), col("v_cents"))).over(wAll))
      .withColumn("p", sum(col("v_cents") - col("med") - 50L).over(byT))
      .withColumn("s", col("p") - min(least(col("p"), lit(0L))).over(byT))
      .groupBy("user_id")
      .agg(max(col("n")).as("n"),
        max(col("med")).as("med_cents"),
        max(col("s")).as("max_cusum"),
        sum(when(col("s") > 20000L, 1L).otherwise(0L)).as("n_over"),
        min(when(col("s") > 20000L, col("ts_ms"))).as("first_alarm_ms"))
      .orderBy("user_id")
  }

  val qCusumSql: String =
    """WITH e AS (
         SELECT user_id, event_id, epoch_ms(ts) AS ts_ms,
           CAST(round(value * 100) AS BIGINT) AS v_cents
         FROM events WHERE event_type = 'view'
       ), m AS (
         SELECT *, COUNT(*) OVER (PARTITION BY user_id) AS n,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY v_cents, event_id) AS rv
         FROM e
       ), m2 AS (
         SELECT *, MAX(CASE WHEN rv = (n + 1) // 2 THEN v_cents END)
             OVER (PARTITION BY user_id) AS med
         FROM m
       ), pp AS (
         SELECT *, SUM(v_cents - med - 50) OVER w AS p
         FROM m2
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       ), c AS (
         SELECT *, p - MIN(LEAST(p, 0)) OVER w AS s
         FROM pp
         WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
       )
       SELECT user_id, MAX(n) AS n, MAX(med) AS med_cents,
         CAST(MAX(s) AS BIGINT) AS max_cusum,
         CAST(SUM(CASE WHEN s > 20000 THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
         MIN(CASE WHEN s > 20000 THEN ts_ms END) AS first_alarm_ms
       FROM c GROUP BY user_id ORDER BY user_id"""

  /** c66's cohorts: every exposed user (first view) with its variant
    * (user_id % 2) and `conv` = 1 if it purchased within 7 days after
    * that first view, else NULL. Shared by c66, c67 and c71. */
  private def abExposed(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), unix_millis(col("ts")).as("ms"))
    val exposed = e.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ms")).as("fv"))
    val converted = e.filter(col("event_type") === "purchase")
      .join(exposed, "user_id")
      .filter(col("ms") > col("fv") && col("ms") <= col("fv") + 604800000L)
      .select("user_id").distinct()
    exposed.select(col("user_id"), (col("user_id") % 2).as("variant"))
      .join(converted.withColumn("conv", lit(1L)), Seq("user_id"), "left")
  }

  // c66 — A/B conversion test (the experimentation readout every
  // product pipeline ends in): deterministic variant assignment
  // (user_id % 2), exposure = the user's FIRST view, conversion = any
  // purchase within 7 days after it — both EXACT distinct-user
  // counts; the two-proportion z-score is the one IEEE block
  // (divisions + a correctly-rounded sqrt over exact integer inputs —
  // deterministic in both engines, f29's argument), rounded to 6 dp.
  // Plan: one view-filtered user agg (first view), one purchase join
  // back on user_id (the same exchange), a 2-row variant agg, and the
  // z folds from a 1-row broadcast — nothing scales with events past
  // the two keyed shuffles. At 100 TB: the exposed/converted sets
  // never materialize as rows, only counts.
  def qAbTest(spark: SparkSession, dir: String): DataFrame = {
    val stats = abExposed(spark, dir)
      .groupBy("variant")
      .agg(count(lit(1)).as("n_exposed"),
        sum(coalesce(col("conv"), lit(0L))).as("n_converted"))
    val z = stats.agg(
        max(when(col("variant") === 0, col("n_exposed"))).as("n0"),
        max(when(col("variant") === 0, col("n_converted"))).as("c0"),
        max(when(col("variant") === 1, col("n_exposed"))).as("n1"),
        max(when(col("variant") === 1, col("n_converted"))).as("c1"))
      .select(round(expr(
        """(CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1) /
           sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
                (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
                (1.0 / n0 + 1.0 / n1))"""), 6).as("z"))
    stats
      .withColumn("cr_micro", expr("n_converted * 1000000 div n_exposed"))
      .crossJoin(broadcast(z))
      .select("variant", "n_exposed", "n_converted", "cr_micro", "z")
      .orderBy("variant")
  }

  val qAbTestSql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      exposed AS (
        SELECT user_id, MIN(ms) AS fv FROM e WHERE event_type = 'view'
        GROUP BY user_id),
      conv AS (
        SELECT DISTINCT e.user_id FROM e JOIN exposed x USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ms > x.fv
          AND e.ms <= x.fv + 604800000),
      stats AS (
        SELECT x.user_id % 2 AS variant, COUNT(*) AS n_exposed,
          CAST(SUM(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
            AS n_converted
        FROM exposed x LEFT JOIN conv c ON c.user_id = x.user_id
        GROUP BY 1),
      zrow AS (
        SELECT round(
          (CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1) /
          sqrt((CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
               (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1)) *
               (1.0 / n0 + 1.0 / n1)), 6) AS z
        FROM (SELECT
          MAX(CASE WHEN variant = 0 THEN n_exposed END) AS n0,
          MAX(CASE WHEN variant = 0 THEN n_converted END) AS c0,
          MAX(CASE WHEN variant = 1 THEN n_exposed END) AS n1,
          MAX(CASE WHEN variant = 1 THEN n_converted END) AS c1
        FROM stats) w)
      SELECT variant, n_exposed, n_converted,
        CAST(n_converted * 1000000 // n_exposed AS BIGINT) AS cr_micro, z
      FROM stats CROSS JOIN zrow ORDER BY variant"""

  // c67 — Poisson-bootstrap CI for the A/B conversion delta (the
  // scale-canonical bootstrap: resampling n users B times is an n×B
  // blow-up nobody runs at 100 TB — instead each user independently
  // gets a Poisson(1) multiplicity per replicate, which is exactly
  // what "sample n of n with replacement" converges to as n grows,
  // and it needs ONE pass). Determinism: the multiplicity is the
  // inverse-CDF bucket of a 60-bit md5 ticket (graft_sid60 on
  // 'bs:<user>:<rep>'), thresholds = floor(Poisson(1) CDF · 2^60)
  // hardcoded identically in both engines, truncated at w=8
  // (CDF ≈ 1 - 1e-5; the truncation is part of the spec'd estimator,
  // identical both sides). Replicate rates stay in exact integers
  // (micro-unit floor division), so the CI bounds are order
  // statistics of 64 exact longs — no IEEE anywhere.
  // Plan: the per-user (variant, conv) table is c66's two keyed
  // shuffles; the ×64 replicate explode is MAP-SIDE and collapses in
  // the same stage's partial agg to ≤128 (b, variant) groups per
  // partition, so the bootstrap's exchange carries ~128 rows per
  // partition REGARDLESS of user count — that is the whole point of
  // the Poisson form. The 64-row order-statistics window is a single
  // partition of 64 rows. At 100 TB: one extra map pass over exposed
  // users, constant-size everything after.
  def qBootstrapPoisson(spark: SparkSession, dir: String): DataFrame = {
    val reps = 64
    // floor(CDF_Poisson(1)(k) * 2^60), k = 0..7
    val thresholds = Seq(
      424136118829305329L, 848272237658610659L, 1060340297073263324L,
      1131029650211480879L, 1148701988496035267L, 1152236456152946145L,
      1152825534095764625L, 1152909688087595836L)
    val users = abExposed(spark, dir)
      .select(col("user_id"), col("variant"),
        coalesce(col("conv"), lit(0L)).as("conv"))
    val tArr = thresholds.mkString("array(", ", ", ")")
    val repStats = users
      .select(col("user_id"), col("variant"), col("conv"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("b"))
      .withColumn("w", expr(
        s"""size(filter($tArr, t -> t <=
           graft_sid60(concat('bs:', CAST(user_id AS STRING), ':', CAST(b AS STRING)))))"""))
      .groupBy("b", "variant")
      .agg(sum(col("w")).as("sw"), sum(expr("w * conv")).as("swc"))
    val deltas = repStats.groupBy("b")
      .agg(max(when(col("variant") === 0, col("sw"))).as("sw0"),
        max(when(col("variant") === 0, col("swc"))).as("swc0"),
        max(when(col("variant") === 1, col("sw"))).as("sw1"),
        max(when(col("variant") === 1, col("swc"))).as("swc1"))
      .select(col("b"), expr(
        """CASE WHEN sw0 IS NULL OR sw0 = 0 THEN 0 ELSE swc0 * 1000000 div sw0 END -
           CASE WHEN sw1 IS NULL OR sw1 = 0 THEN 0 ELSE swc1 * 1000000 div sw1 END""")
        .as("delta_micro"))
    val point = users.groupBy("variant")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      .agg(max(when(col("variant") === 0, col("n"))).as("n0"),
        max(when(col("variant") === 0, col("c"))).as("c0"),
        max(when(col("variant") === 1, col("n"))).as("n1"),
        max(when(col("variant") === 1, col("c"))).as("c1"))
      .select(expr("c0 * 1000000 div n0 - c1 * 1000000 div n1")
        .as("delta_point_micro"))
    deltas
      .withColumn("rk", row_number().over(
        Window.orderBy(col("delta_micro"), col("b"))))
      .agg(count(lit(1)).as("n_reps"),
        max(when(col("rk") === 2, col("delta_micro"))).as("ci_lo_micro"),
        max(when(col("rk") === 32, col("delta_micro"))).as("ci_med_micro"),
        max(when(col("rk") === 63, col("delta_micro"))).as("ci_hi_micro"))
      .crossJoin(broadcast(point))
      .select("n_reps", "delta_point_micro", "ci_lo_micro", "ci_med_micro",
        "ci_hi_micro")
  }

  val qBootstrapPoissonSql: String = {
    val tList = Seq(
      "424136118829305329", "848272237658610659", "1060340297073263324",
      "1131029650211480879", "1148701988496035267", "1152236456152946145",
      "1152825534095764625", "1152909688087595836").mkString("[", ", ", "]")
    s"""WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      exposed AS (
        SELECT user_id, MIN(ms) AS fv FROM e WHERE event_type = 'view'
        GROUP BY user_id),
      conv AS (
        SELECT DISTINCT e.user_id FROM e JOIN exposed x USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ms > x.fv
          AND e.ms <= x.fv + 604800000),
      users AS (
        SELECT x.user_id, x.user_id % 2 AS variant,
          CASE WHEN c.user_id IS NULL THEN 0 ELSE 1 END AS conv
        FROM exposed x LEFT JOIN conv c ON c.user_id = x.user_id),
      rep AS (
        SELECT u.variant, u.conv, r.b,
          len(list_filter($tList, t -> t <=
            CAST('0x' || substr(md5('bs:' || CAST(u.user_id AS VARCHAR)
              || ':' || CAST(r.b AS VARCHAR)), 1, 15) AS BIGINT))) AS w
        FROM users u CROSS JOIN (SELECT unnest(range(0, 64)) AS b) r),
      rs AS (
        SELECT b, variant, SUM(w) AS sw, SUM(w * conv) AS swc
        FROM rep GROUP BY b, variant),
      d AS (
        SELECT b,
          CAST(COALESCE(MAX(CASE WHEN variant = 0 THEN swc END) * 1000000
              // NULLIF(MAX(CASE WHEN variant = 0 THEN sw END), 0), 0)
            - COALESCE(MAX(CASE WHEN variant = 1 THEN swc END) * 1000000
              // NULLIF(MAX(CASE WHEN variant = 1 THEN sw END), 0), 0)
            AS BIGINT) AS delta_micro
        FROM rs GROUP BY b),
      r2 AS (
        SELECT delta_micro,
          row_number() OVER (ORDER BY delta_micro, b) AS rk FROM d),
      pt AS (
        SELECT CAST(MAX(CASE WHEN variant = 0 THEN c END) * 1000000
              // MAX(CASE WHEN variant = 0 THEN n END)
            - MAX(CASE WHEN variant = 1 THEN c END) * 1000000
              // MAX(CASE WHEN variant = 1 THEN n END) AS BIGINT)
          AS delta_point_micro
        FROM (SELECT variant, COUNT(*) AS n, SUM(conv) AS c
              FROM users GROUP BY variant) s)
      SELECT CAST(COUNT(*) AS BIGINT) AS n_reps, delta_point_micro,
        CAST(MAX(CASE WHEN rk = 2 THEN delta_micro END) AS BIGINT) AS ci_lo_micro,
        CAST(MAX(CASE WHEN rk = 32 THEN delta_micro END) AS BIGINT) AS ci_med_micro,
        CAST(MAX(CASE WHEN rk = 63 THEN delta_micro END) AS BIGINT) AS ci_hi_micro
      FROM r2 CROSS JOIN pt GROUP BY delta_point_micro"""
  }

  // c70 — Spearman rank correlation between per-user engagement
  // (view count) and spend (purchase cents): the robust "are these
  // two metrics related" readout (Pearson on RANKS — monotone-
  // invariant, outlier-immune; c56's per-entity Pearson is its
  // parametric sibling). Ties use midranks; to stay integer the
  // doubled midrank 2·mid = min(rank) + max(rank) over the tied value
  // group is always integral (f35's trick), and the doubling cancels
  // in ρ. All five moments are exact decimal(38,0) sums (HUGEINT on
  // the oracle side — n·Σrs ≈ 4n⁴ stays under 10³⁸ for n < 2·10⁹
  // users); ρ is the single IEEE block (two sqrts + one division over
  // exact integers, identical expression shape both engines, c66's
  // argument), rounded 6 dp. Plan: ONE user-keyed agg folds events to
  // a row per user; both global ranks ride [[TwoPhase]]'s bucketed
  // split (x buckets = the view-count value itself — distribution-
  // bounded; y buckets = 2¹⁶-cent spend slices), so the user aggregate
  // ranks in parallel partitions — no single-task pass at any user
  // cardinality. The midrank min/max windows stay PARTITIONED (by the
  // tied value). Zero-variance sides → NULL.
  def qSpearman(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val perUser = e.groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("y"))
    val rankedX = TwoPhase.globalRowNumber(perUser, col("x"),
      Seq(col("x"), col("user_id")), "rx")
    // y (lifetime spend) has no structural domain bound — ride the
    // distribution-free range variant (carry-in bounded by the range
    // count for ANY whale distribution) instead of value-width slices
    val ranked = TwoPhase.globalRowNumberByRange(rankedX,
        Seq(col("y"), col("user_id")), "ry")
      .withColumn("mrx", min(col("rx")).over(Window.partitionBy("x"))
        + max(col("rx")).over(Window.partitionBy("x")))
      .withColumn("mry", min(col("ry")).over(Window.partitionBy("y"))
        + max(col("ry")).over(Window.partitionBy("y")))
    ranked.agg(
        count(lit(1)).as("n_users"),
        sum(expr("CAST(mrx AS DECIMAL(38,0))")).as("sr"),
        sum(expr("CAST(mry AS DECIMAL(38,0))")).as("ss"),
        sum(expr("CAST(mrx AS DECIMAL(38,0)) * mrx")).as("srr"),
        sum(expr("CAST(mry AS DECIMAL(38,0)) * mry")).as("sss"),
        sum(expr("CAST(mrx AS DECIMAL(38,0)) * mry")).as("srs"))
      .select(col("n_users"), round(expr(
        """CAST(CAST(n_users AS DECIMAL(38,0)) * srs - sr * ss AS DOUBLE) /
           (sqrt(CAST(CAST(n_users AS DECIMAL(38,0)) * srr - sr * sr AS DOUBLE)) *
            sqrt(CAST(CAST(n_users AS DECIMAL(38,0)) * sss - ss * ss AS DOUBLE)))"""), 6)
        .as("rho"))
  }

  val qSpearmanSql: String =
    """WITH e AS (
        SELECT user_id, event_type, CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      u AS (
        SELECT user_id,
          SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS x,
          SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS y
        FROM e GROUP BY user_id),
      r AS (
        SELECT user_id, x, y,
          row_number() OVER (ORDER BY x, user_id) AS rx,
          row_number() OVER (ORDER BY y, user_id) AS ry
        FROM u),
      mr AS (
        SELECT *,
          MIN(rx) OVER (PARTITION BY x) + MAX(rx) OVER (PARTITION BY x) AS mrx,
          MIN(ry) OVER (PARTITION BY y) + MAX(ry) OVER (PARTITION BY y) AS mry
        FROM r),
      s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
          SUM(CAST(mrx AS HUGEINT)) AS sr, SUM(CAST(mry AS HUGEINT)) AS ss,
          SUM(CAST(mrx AS HUGEINT) * mrx) AS srr,
          SUM(CAST(mry AS HUGEINT) * mry) AS sss,
          SUM(CAST(mrx AS HUGEINT) * mry) AS srs
        FROM mr)
      SELECT n_users, round(
        CAST(CAST(n_users AS HUGEINT) * srs - sr * ss AS DOUBLE) /
        (sqrt(CAST(CAST(n_users AS HUGEINT) * srr - sr * sr AS DOUBLE)) *
         sqrt(CAST(CAST(n_users AS HUGEINT) * sss - ss * ss AS DOUBLE))), 6)
        AS rho
      FROM s"""

  // c71 — chi-squared test of independence on c66's 2×2 experiment
  // table (variant × converted): the categorical companion to c66's
  // z (for 2×2 they're the same test — χ² = z² on pooled variance —
  // but χ² generalizes to k×m and ships as the standard readout).
  // The 2×2 closed form χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) never
  // forms fractional expected counts, so the WHOLE statistic is exact
  // integer arithmetic in decimal(38,0)/HUGEINT (counts ≤ 10⁶ keep
  // N·(ad−bc)²·10⁶ under 10³⁸), reported in micro-units by floor
  // division — no IEEE anywhere, unlike c66's z block. Plan: c66's
  // two keyed shuffles fold to one 4-count row; the statistic is
  // driver-free scalar math on it.
  def qChi2(spark: SparkSession, dir: String): DataFrame = {
    abExposed(spark, dir)
      .agg(
        sum(when(col("variant") === 0 && col("conv").isNotNull, 1L).otherwise(0L)).as("a"),
        sum(when(col("variant") === 0 && col("conv").isNull, 1L).otherwise(0L)).as("b"),
        sum(when(col("variant") === 1 && col("conv").isNotNull, 1L).otherwise(0L)).as("c"),
        sum(when(col("variant") === 1 && col("conv").isNull, 1L).otherwise(0L)).as("d"))
      .select(col("a"), col("b"), col("c"), col("d"), expr(
        """CAST((CAST(a + b + c + d AS DECIMAL(38,0))
             * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
             * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
             * 1000000)
           div NULLIF(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d), 0)
           AS BIGINT)""").as("chi2_micro"))
  }

  val qChi2Sql: String =
    """WITH e AS (SELECT user_id, event_type, epoch_ms(ts) AS ms FROM events),
      exposed AS (
        SELECT user_id, MIN(ms) AS fv FROM e WHERE event_type = 'view'
        GROUP BY user_id),
      conv AS (
        SELECT DISTINCT e.user_id FROM e JOIN exposed x USING (user_id)
        WHERE e.event_type = 'purchase' AND e.ms > x.fv
          AND e.ms <= x.fv + 604800000),
      cells AS (
        SELECT
          SUM(CASE WHEN x.user_id % 2 = 0 AND c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS a,
          SUM(CASE WHEN x.user_id % 2 = 0 AND c.user_id IS NULL THEN 1 ELSE 0 END) AS b,
          SUM(CASE WHEN x.user_id % 2 = 1 AND c.user_id IS NOT NULL THEN 1 ELSE 0 END) AS c,
          SUM(CASE WHEN x.user_id % 2 = 1 AND c.user_id IS NULL THEN 1 ELSE 0 END) AS d
        FROM exposed x LEFT JOIN conv c ON c.user_id = x.user_id)
      SELECT CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
        CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
        CAST((CAST(a + b + c + d AS HUGEINT)
            * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
            * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
            * 1000000)
          // NULLIF(CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d), 0)
          AS BIGINT) AS chi2_micro
      FROM cells"""

  /** The DENSE daily purchase series (day, x = cents): missing days
    * are real zeros — skipping them would splice non-adjacent days
    * together (c48's grid argument). One scan → per-day agg (bounded
    * by span) → dense grid off the 1-row span agg. Shared by c72 and
    * c78. */
  private def dailyPurchases(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select((unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val daily = e.groupBy("day").agg(sum(col("cents")).as("x"))
    val grid = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("x"), lit(0L)).as("x"))
  }

  // c72 — autocorrelation function of the daily revenue series at
  // lags 1..7 (the seasonality probe run before any forecast is
  // trusted — a weekly cycle shows as an ACF spike at lag 7). The
  // series is the DENSE daily purchase total (missing days are real
  // zeros — skipping them would splice non-adjacent days together,
  // c48's grid argument). Exactness: with d_t = n·x_t − S (deviations
  // scaled by n so the mean never becomes fractional),
  // acf_k = Σ d_t·d_{t+k} · 10⁶ div Σ d_t² — all decimal(38,0)
  // products (n·x up to 10¹⁵ cents-days squares to 10³⁰; safe under
  // 10³⁸ to ~300k days), floor division, no IEEE. Plan: one scan →
  // per-day agg (bounded by span) → dense grid off the 1-row span agg
  // → 7 lead() columns + the unpivot over ONE day-ordered window whose
  // input is one row per DAY — bounded by calendar span, never rows
  // (c68's boundedness argument).
  def qAcf(spark: SparkSession, dir: String): DataFrame = {
    val series = dailyPurchases(spark, dir)
    val tot = series.agg(count(lit(1)).as("n"), sum(col("x")).as("s"))
    val w = Window.orderBy("day")
    val dev = series.crossJoin(broadcast(tot))
      .withColumn("d", expr("CAST(n AS DECIMAL(38,0)) * x - s"))
    val withLeads = (1 to 7).foldLeft(dev)((df, k) =>
      df.withColumn(s"lead_d$k", lead(col("d"), k).over(w)))
    val prods = (1 to 7).foldLeft(withLeads)((df, k) =>
      df.withColumn(s"p$k", col("d") * col(s"lead_d$k")))
    val denom = prods.agg(sum(expr("d * d")).as("dd"))
    prods.select(explode(expr(
        "map(1, p1, 2, p2, 3, p3, 4, p4, 5, p5, 6, p6, 7, p7)"))
        .as(Seq("lag", "p")))
      .groupBy("lag").agg(sum(col("p")).as("num"))
      .crossJoin(broadcast(denom))
      .select(col("lag").cast("int").as("lag"),
        expr("CAST((num * 1000000) div dd AS BIGINT)").as("acf_micro"))
      .orderBy("lag")
  }

  val qAcfSql: String =
    """WITH e AS (
        SELECT epoch_ms(ts) // 86400000 AS day,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      daily AS (SELECT day, SUM(cents) AS x FROM e GROUP BY day),
      grid AS (
        SELECT unnest(range(MIN(day), MAX(day) + 1)) AS day FROM daily),
      series AS (
        SELECT g.day, COALESCE(d.x, 0) AS x
        FROM grid g LEFT JOIN daily d ON d.day = g.day),
      t AS (SELECT COUNT(*) AS n, SUM(x) AS s FROM series),
      dev AS (
        SELECT day, CAST(n AS HUGEINT) * x - s AS d
        FROM series CROSS JOIN t),
      led AS (
        SELECT d,
          lead(d, 1) OVER w AS l1, lead(d, 2) OVER w AS l2,
          lead(d, 3) OVER w AS l3, lead(d, 4) OVER w AS l4,
          lead(d, 5) OVER w AS l5, lead(d, 6) OVER w AS l6,
          lead(d, 7) OVER w AS l7
        FROM dev WINDOW w AS (ORDER BY day)),
      dd AS (SELECT SUM(d * d) AS dd FROM led),
      up AS (
        SELECT lag, p FROM led
        CROSS JOIN LATERAL (VALUES
          (1, d * l1), (2, d * l2), (3, d * l3), (4, d * l4),
          (5, d * l5), (6, d * l6), (7, d * l7)) AS v(lag, p))
      SELECT CAST(lag AS INTEGER) AS lag,
        CAST((SUM(p) * 1000000) // MAX(dd.dd) AS BIGINT) AS acf_micro
      FROM up CROSS JOIN dd GROUP BY lag ORDER BY lag"""

  // c76 — behavioral-mix entropy per user segment (Shannon H of the
  // event-type distribution — the "is this cohort's behavior diverse
  // or monocultural" readout; near-zero H flags bot-like segments, a
  // drop vs yesterday is a mix-shift alarm c68's KS would need a
  // numeric gauge for). Exactness: H = ln N − (Σ c·ln c)/N, with
  // EVERY ln quantized to integer micro-nats SEPARATELY (round(ln·1e6)
  // of an exact small integer — f31's engine-free argument), so
  // h_micro = lnN_micro − Σ c·lnc_micro div N is pure integer math;
  // also emitted normalized by the ln of the type count (0..1-ish
  // evenness) and the segment's modal type (deterministic min-on-ties).
  // Plan: ONE (segment, event_type) agg over one scan — map-side
  // combined, event volume exits immediately — then a segment-level
  // fold over the BOUNDED (≤ 8·|types|) mix table; no windows over raw
  // rows, no joins.
  def qEntropy(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(expr("user_id % 8").as("segment"), col("event_type"))
    val mix = e.groupBy("segment", "event_type").agg(count(lit(1)).as("c"))
      .withColumn("cmax", max(col("c")).over(Window.partitionBy("segment")))
    mix.groupBy("segment")
      .agg(
        sum(col("c")).as("n"),
        count(lit(1)).as("n_types"),
        sum(expr("c * CAST(round(ln(c) * 1e6) AS BIGINT)")).as("clnc"),
        min(when(col("c") === col("cmax"), col("event_type"))).as("modal_type"))
      .select(col("segment"), col("n"), col("n_types"), col("modal_type"),
        expr("CAST(round(ln(n) * 1e6) AS BIGINT) - clnc div n").as("h_micro"),
        expr("""CASE WHEN n_types = 1 THEN CAST(0 AS BIGINT) ELSE
                (CAST(round(ln(n) * 1e6) AS BIGINT) - clnc div n) * 1000000
                  div CAST(round(ln(n_types) * 1e6) AS BIGINT) END""")
          .as("evenness_micro"))
      .orderBy("segment")
  }

  val qEntropySql: String =
    """WITH e AS (
        SELECT user_id % 8 AS segment, event_type FROM events),
      mix AS (
        SELECT segment, event_type, COUNT(*) AS c
        FROM e GROUP BY segment, event_type),
      m2 AS (
        SELECT *, MAX(c) OVER (PARTITION BY segment) AS cmax FROM mix),
      s AS (
        SELECT segment,
          CAST(SUM(c) AS BIGINT) AS n,
          CAST(COUNT(*) AS BIGINT) AS n_types,
          CAST(SUM(c * CAST(round(ln(c) * 1e6) AS BIGINT)) AS BIGINT) AS clnc,
          MIN(CASE WHEN c = cmax THEN event_type END) AS modal_type
        FROM m2 GROUP BY segment)
      SELECT segment, n, n_types, modal_type,
        CAST(round(ln(n) * 1e6) AS BIGINT) - clnc // n AS h_micro,
        CASE WHEN n_types = 1 THEN CAST(0 AS BIGINT) ELSE
          (CAST(round(ln(n) * 1e6) AS BIGINT) - clnc // n) * 1000000
            // CAST(round(ln(n_types) * 1e6) AS BIGINT) END AS evenness_micro
      FROM s ORDER BY segment"""

  // c78 — EWMA forecast backtest on the daily revenue series (the
  // baseline every fancier forecast must beat, and the c61/c68 drift
  // monitors' natural expectation input): α = 1/2 DELIBERATELY — the
  // recursion s_t = (x_t + s_{t-1})/2 makes every weight a power of
  // two, so the 16-term truncated form f_t = Σ_{j=0..15}
  // x_{t-1-j}·2^(15-j) div 2^16 is EXACT integer arithmetic (weights
  // sum to 1 − 2⁻¹⁶; the truncation is part of the spec'd estimator,
  // f29's α=1/2 argument — a general α drags IEEE pow through the
  // gate). Series = the DENSE daily grid (missing days are real
  // zeros, c48/c72's argument); daily totals ≤ 10¹³ cents keep
  // x·2¹⁵ far inside int64. Plan: one scan → per-day agg (bounded by
  // span) → dense grid off the 1-row span agg → 16 lag() columns over
  // ONE day-ordered window whose input is one row per DAY — bounded
  // by calendar span, never rows (c72's boundedness); emitted only
  // for days with a full 16-day history, abs error alongside for the
  // backtest readout.
  def qEwma(spark: SparkSession, dir: String): DataFrame = {
    val series = dailyPurchases(spark, dir)
    val w = Window.orderBy("day")
    val withLags = (1 to 16).foldLeft(series)((df, j) =>
      df.withColumn(s"l$j", lag(col("x"), j).over(w)))
    val num = (1 to 16).map(j => s"l$j * ${1L << (16 - j)}").mkString(" + ")
    withLags.filter(col("l16").isNotNull)
      .withColumn("forecast", expr(s"($num) div 65536"))
      .select(col("day"), col("x").as("x_cents"),
        col("forecast").as("forecast_cents"),
        abs(col("x") - col("forecast")).as("abs_err_cents"))
      .orderBy("day")
  }

  val qEwmaSql: String = {
    val lags = (1 to 16).map(j => s"lag(x, $j) OVER (ORDER BY day) AS l$j").mkString(", ")
    val num = (1 to 16).map(j => s"l$j * ${1L << (16 - j)}").mkString(" + ")
    s"""WITH e AS (
        SELECT CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      daily AS (SELECT day, CAST(SUM(cents) AS BIGINT) AS x FROM e GROUP BY day),
      span AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
      grid AS (SELECT unnest(generate_series(d0, d1)) AS day FROM span),
      series AS (
        SELECT g.day, COALESCE(daily.x, 0) AS x
        FROM grid g LEFT JOIN daily ON daily.day = g.day),
      lagged AS (SELECT day, x, $lags FROM series)
      SELECT day, x AS x_cents,
        ($num) // 65536 AS forecast_cents,
        abs(x - (($num) // 65536)) AS abs_err_cents
      FROM lagged WHERE l16 IS NOT NULL ORDER BY day"""
  }

  // c79 — cohort LTV curves (the revenue half of c55's retention
  // matrix — "how much has the day-d cohort spent by age a", the
  // payback-period readout every acquisition budget is set against):
  // cohort = first-seen day (any event — c55's definition verbatim),
  // revenue = purchase cents at age = day − cohort_day, and the CURVE
  // is the running cumulative: ltv(a) = Σ_{a'≤a} rev(a') per cohort,
  // emitted per observed (cohort, age) cell with per-user
  // normalization in micro-cents. Plan: ONE user-keyed exchange
  // carries both the cohort min and the revenue fold (AQE reuses it),
  // the cumsum window rides the BOUNDED (cohort × age) matrix —
  // days², never rows (c55's boundedness argument); integer cents
  // and floor division throughout.
  def qCohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        col("event_type"), expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
      .repartition(col("user_id"))
    val sizes = cohort.groupBy("cohort_day").agg(count(lit(1)).as("cohort_n"))
    val rev = e.filter(col("event_type") === "purchase")
      .repartition(col("user_id"))
      .join(cohort, "user_id")
      .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("age_days"))
      .agg(sum(col("cents")).as("rev_cents"))
    val cum = Window.partitionBy("cohort_day").orderBy("age_days")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("ltv_cents", sum(col("rev_cents")).over(cum))
      .join(sizes, "cohort_day")
      .select(col("cohort_day"), col("age_days"), col("rev_cents"),
        col("ltv_cents"),
        expr("ltv_cents * 1000000 div cohort_n").as("ltv_per_user_micro"))
      .orderBy("cohort_day", "age_days")
  }

  val qCohortLtvSql: String =
    """WITH e AS (
        SELECT user_id, epoch_ms(ts) // 86400000 AS day, event_type,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      cohort AS (
        SELECT user_id, MIN(day) AS cohort_day FROM e GROUP BY user_id),
      sizes AS (
        SELECT cohort_day, CAST(COUNT(*) AS BIGINT) AS cohort_n
        FROM cohort GROUP BY cohort_day),
      rev AS (
        SELECT c.cohort_day, e.day - c.cohort_day AS age_days,
          CAST(SUM(e.cents) AS BIGINT) AS rev_cents
        FROM e JOIN cohort c ON c.user_id = e.user_id
        WHERE e.event_type = 'purchase'
        GROUP BY 1, 2),
      cum AS (
        SELECT *, CAST(SUM(rev_cents) OVER (PARTITION BY cohort_day
          ORDER BY age_days ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ltv_cents
        FROM rev)
      SELECT cohort_day, age_days, rev_cents, ltv_cents,
        ltv_cents * 1000000 // cohort_n AS ltv_per_user_micro
      FROM cum JOIN sizes USING (cohort_day)
      ORDER BY cohort_day, age_days"""

  // c80 — RFM segmentation (recency / frequency / monetary — the
  // classic customer-base cut every CRM ships; c79 prices cohorts by
  // AGE, c80 segments the live base by BEHAVIOR): per purchasing
  // user, R = days since last purchase (vs the corpus max day — a
  // fixed "today"), F = purchase count, M = total cents; each scored
  // into quintiles by ntile(5) under a TOTAL order (metric, user_id —
  // ties deterministic both engines; R ascending so quintile 1 = most
  // recent, F/M descending so 1 = best, the marketing convention);
  // output = the segment rollup (≤125 rows) with per-segment size
  // and value mass. Plan: ONE user-keyed agg folds purchases; each
  // quintile is [[TwoPhase]]'s bucketed global rank (R/F buckets =
  // the day-count/purchase-count value itself — distribution-bounded;
  // M = 2¹⁶-cent slices, NEGATED so the bucket stays monotone along
  // the descending order) + the closed-form ntile rule, so the user
  // aggregate ranks in parallel partitions at any user cardinality;
  // the rollup is bounded.
  def qRfm(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L).cast("long").as("day"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val perUser = e.groupBy("user_id")
      .agg(max(col("day")).as("last_day"), count(lit(1)).as("f"),
        sum(col("cents")).as("m"))
    val today = e.agg(max(col("day")).as("today"))
    // eager memo of the user-grain (R, F, M) fold: the three chained
    // TwoPhase legs each reference their input 2-3×, and without the
    // checkpoint the multiplicative re-derivation read `events` 44
    // times in the executed plan — at scale that is 44 scans of the
    // raw table to rank a users-sized aggregate. Materialized, the
    // legs read the bounded user table and events is scanned exactly
    // twice (fold + today), at checkpoint build.
    val base = perUser.crossJoin(broadcast(today))
      .withColumn("r", col("today") - col("last_day"))
      .localCheckpoint()
    val rankedR = TwoPhase.globalRowNumber(base, col("r"),
      Seq(col("r"), col("user_id")), "rrk", total = Some("nu"))
    val rankedF = TwoPhase.globalRowNumber(rankedR, -col("f"),
      Seq(col("f").desc, col("user_id")), "frk")
    val rankedM = TwoPhase.globalRowNumber(rankedF, -expr("m div 65536"),
      Seq(col("m").desc, col("user_id")), "mrk")
    val scored = rankedM
      .withColumn("rq", expr(TwoPhase.ntileFromRank("rrk", "nu", 5)))
      .withColumn("fq", expr(TwoPhase.ntileFromRank("frk", "nu", 5)))
      .withColumn("mq", expr(TwoPhase.ntileFromRank("mrk", "nu", 5)))
    scored.groupBy("rq", "fq", "mq")
      .agg(count(lit(1)).as("n_users"), sum(col("m")).as("cents"))
      .orderBy("rq", "fq", "mq")
  }

  val qRfmSql: String =
    """WITH e AS (
        SELECT user_id, epoch_ms(ts) // 86400000 AS day,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events WHERE event_type = 'purchase'),
      u AS (
        SELECT user_id, MAX(day) AS last_day,
          CAST(COUNT(*) AS BIGINT) AS f, CAST(SUM(cents) AS BIGINT) AS m
        FROM e GROUP BY user_id),
      t AS (SELECT MAX(day) AS today FROM e),
      s AS (
        SELECT user_id, today - last_day AS r, f, m FROM u CROSS JOIN t),
      q AS (
        SELECT user_id, m,
          CAST(ntile(5) OVER (ORDER BY r, user_id) AS INTEGER) AS rq,
          CAST(ntile(5) OVER (ORDER BY f DESC, user_id) AS INTEGER) AS fq,
          CAST(ntile(5) OVER (ORDER BY m DESC, user_id) AS INTEGER) AS mq
        FROM s)
      SELECT rq, fq, mq, CAST(COUNT(*) AS BIGINT) AS n_users,
        CAST(SUM(m) AS BIGINT) AS cents
      FROM q GROUP BY rq, fq, mq ORDER BY rq, fq, mq"""

  // c82 — the ONE-ROW KPI dashboard (the C-family capstone next to
  // b28/b29/d17/g11: the numbers a product review actually opens
  // with, composed from the family's own proven shapes): view/
  // purchase user counts and user-level conversion (c66's distinct-
  // user grain), total revenue / AOV / ARPU in integer cents and
  // micro-units (floor division), and the EXACT median purchase
  // value via c11/c68's bounded value-histogram prune — the cumsum
  // window reads one row per DISTINCT CENT VALUE, never per
  // purchase. Plan: ONE events scan fans into the user agg (views/
  // purchases per user → 1-row fold) and the value histogram
  // (bounded agg → single-partition cumsum over the value domain);
  // the final row is a broadcast join of three 1-row/bounded
  // tables. Every number is deterministic integer arithmetic.
  def qKpiDashboard(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val perUser = e.groupBy("user_id")
      .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("nv"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("np"),
        sum(when(col("event_type") === "purchase", col("cents"))
          .otherwise(0L)).as("rev"))
    val kpi = perUser.agg(
      count(lit(1)).as("n_users"),
      sum(expr("CASE WHEN nv > 0 THEN 1 ELSE 0 END")).as("view_users"),
      sum(expr("CASE WHEN np > 0 THEN 1 ELSE 0 END")).as("purchase_users"),
      sum(col("np")).as("n_purchases"),
      sum(col("rev")).as("rev_cents"))
    // exact median purchase value off the bounded value histogram
    val hist = e.filter(col("event_type") === "purchase")
      .groupBy("cents").agg(count(lit(1)).as("c"))
    val wv = Window.orderBy("cents")
    val med = hist
      .withColumn("cum", sum(col("c")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("c")).over(
        wv.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .filter(col("cum") * 2 >= col("n"))
      .agg(min(col("cents")).as("median_purchase_cents"))
    kpi.crossJoin(broadcast(med))
      // NULLIF guards: a corpus with zero viewers / zero purchases
      // must yield NULL KPIs on BOTH engines (DuckDB's // raises on
      // zero, Spark's div returns NULL — align on NULL).
      .select(col("n_users"), col("view_users"), col("purchase_users"),
        expr("purchase_users * 1000000 div NULLIF(view_users, 0)").as("conversion_micro"),
        col("n_purchases"), col("rev_cents"),
        expr("rev_cents div NULLIF(n_purchases, 0)").as("aov_cents"),
        expr("rev_cents * 1000000 div NULLIF(n_users, 0)").as("arpu_micro"),
        col("median_purchase_cents"))
  }

  val qKpiDashboardSql: String =
    """WITH e AS (
        SELECT user_id, event_type,
          CAST(round(value * 100) AS BIGINT) AS cents
        FROM events),
      u AS (
        SELECT user_id,
          SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
          SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS np,
          SUM(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END) AS rev
        FROM e GROUP BY user_id),
      kpi AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
          CAST(SUM(CASE WHEN nv > 0 THEN 1 ELSE 0 END) AS BIGINT) AS view_users,
          CAST(SUM(CASE WHEN np > 0 THEN 1 ELSE 0 END) AS BIGINT) AS purchase_users,
          CAST(SUM(np) AS BIGINT) AS n_purchases,
          CAST(SUM(rev) AS BIGINT) AS rev_cents
        FROM u),
      hist AS (
        SELECT cents, COUNT(*) AS c FROM e
        WHERE event_type = 'purchase' GROUP BY cents),
      med AS (
        SELECT CAST(MIN(cents) AS BIGINT) AS median_purchase_cents FROM (
          SELECT cents,
            SUM(c) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) AS cum,
            SUM(c) OVER () AS n
          FROM hist) WHERE cum * 2 >= n)
      SELECT n_users, view_users, purchase_users,
        purchase_users * 1000000 // NULLIF(view_users, 0) AS conversion_micro,
        n_purchases, rev_cents,
        rev_cents // NULLIF(n_purchases, 0) AS aov_cents,
        rev_cents * 1000000 // NULLIF(n_users, 0) AS arpu_micro,
        median_purchase_cents
      FROM kpi CROSS JOIN med"""

  // ------------------------------------------------------------------
  // c85 — DAU/WAU stickiness
  // ------------------------------------------------------------------

  /** c85 — `q_stickiness`: the DAU/WAU stickiness ratio (the classic
    * product-analytics engagement readout — what share of the weekly
    * actives shows up on a given day). The hard part at scale is the
    * DISTINCT-over-sliding-window: WAU(d) = distinct users active in
    * [d−6, d], which no window function computes without re-counting.
    * Shape: ONE distinct (user, day) pre-agg shrinks the stream to
    * user-days, then each user-day EXPLODES into the ≤7 window days it
    * covers (bounded 7× blowup of the DEDUPED stream, never raw
    * events) and a second distinct agg per cover-day yields exact WAU
    * — two bounded shuffles, no window, no per-day rescan. DAU rides
    * the same pre-agg. Calendar-truncated at the corpus edge (1-row
    * broadcast max day), identically in both engines. */
  def qStickiness(spark: SparkSession, dir: String): DataFrame = {
    val ud = graft.Tables.events(spark, dir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
      // two consumers (DAU + the cover explode): one materialization
      .localCheckpoint(false)
    val cal = ud.agg(max("day").as("d1"))
    val wau = ud.crossJoin(broadcast(cal))
      .select(col("user_id"), explode(expr("sequence(day, least(day + 6, d1))")).as("day"))
      .distinct()
      .groupBy("day").agg(count(lit(1)).as("wau"))
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    dau.join(wau, "day")
      .select(col("day"), col("dau"), col("wau"),
        expr("dau * 1000000 div wau").as("stickiness_ppm"))
      .orderBy("day")
  }

  val qStickinessSql: String =
    """WITH ud AS (
        SELECT DISTINCT user_id, CAST(epoch_ms(ts) // 86400000 AS BIGINT) AS day
        FROM events),
      cal AS (SELECT max(day) AS d1 FROM ud),
      cover AS (
        SELECT DISTINCT user_id, day + o AS day
        FROM ud, unnest(generate_series(0, 6)) AS t(o), cal
        WHERE day + o <= cal.d1),
      wau AS (SELECT day, count(*) AS wau FROM cover GROUP BY 1),
      dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1)
      SELECT d.day AS day, d.dau, w.wau,
        CAST(d.dau * 1000000 // w.wau AS BIGINT) AS stickiness_ppm
      FROM dau d JOIN wau w ON d.day = w.day
      ORDER BY d.day"""

  /** c87 — `q_survival`: the Kaplan–Meier survival table with RIGHT
    * CENSORING (the retention estimator c49's cohort grid
    * approximates and every churn analysis actually needs: a user
    * still active at the corpus edge is CENSORED, not churned —
    * counting them as deaths biases retention down, the classic KM
    * correction): per user, lifetime t = last − first active day;
    * censored iff last day = the corpus max day (the deterministic
    * "now", a28's discipline). Per DEATH time t: at-risk count
    * n_risk(t) = Σ_{t'≥t}(deaths + censored) — a reverse cumulative
    * sum, no per-user window — deaths, censored leaving at t, and the
    * cumulative hazard Σ ln(n) − ln(n−d) in exact micro-nats (f31's
    * engine-free quantization of lns of EXACT INTEGERS; −cum_hazard =
    * ln S(t), so the table IS the KM curve without a cross-engine
    * float product). The all-deaths tail (n = d ⇒ S = 0, hazard ∞)
    * carries the GREATEST(n−d, 1) continuity clamp + a survival_zero
    * flag, stated identically both engines. Plan: one user-grain
    * fold, a ≤31-row day-grain table (the corpus spans 30 days;
    * production lifetimes are similarly DOMAIN-bounded), three
    * bounded global windows — scan-rate at any user cardinality. */
  def qSurvival(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), (unix_millis(col("ts")) / 86400000L).cast("long").as("day"))
    val today = e.agg(max("day").as("today"))
    val users = e.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
      .crossJoin(broadcast(today))
      .select((col("d1") - col("d0")).as("t"), (col("d1") === col("today")).as("cens"))
    val byT = users.groupBy("t")
      .agg(sum(when(col("cens"), 0L).otherwise(1L)).as("deaths"),
        sum(when(col("cens"), 1L).otherwise(0L)).as("censored"))
    val wRisk = Window.orderBy("t")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val wCum = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byT
      .withColumn("n_risk", sum(col("deaths") + col("censored")).over(wRisk))
      .withColumn("haz", when(col("deaths") === 0L, 0L).otherwise(expr(
        """CAST(round(ln(CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
           - CAST(round(ln(CAST(GREATEST(n_risk - deaths, 1) AS DOUBLE)) * 1e6) AS BIGINT)""")))
      .withColumn("cum_hazard_micro", sum("haz").over(wCum))
      .filter(col("deaths") > 0)
      .select(col("t"), col("n_risk"), col("deaths"), col("censored"),
        col("cum_hazard_micro"),
        (col("n_risk") === col("deaths")).as("survival_zero"))
      .orderBy("t")
  }

  val qSurvivalSql: String =
    """WITH e AS (
        SELECT user_id, epoch_ms(ts) // 86400000 AS day FROM events),
      t0 AS (SELECT MAX(day) AS today FROM e),
      u AS (
        SELECT u2.d1 - u2.d0 AS t, u2.d1 = t0.today AS cens
        FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
              FROM e GROUP BY user_id) u2, t0),
      b AS (
        SELECT t,
          CAST(SUM(CASE WHEN cens THEN 0 ELSE 1 END) AS BIGINT) AS deaths,
          CAST(SUM(CASE WHEN cens THEN 1 ELSE 0 END) AS BIGINT) AS censored
        FROM u GROUP BY t),
      r AS (
        SELECT *, CAST(SUM(deaths + censored) OVER (ORDER BY t
          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk
        FROM b),
      h AS (
        SELECT *, CASE WHEN deaths = 0 THEN 0
          ELSE CAST(round(ln(CAST(n_risk AS DOUBLE)) * 1e6) AS BIGINT)
             - CAST(round(ln(CAST(GREATEST(n_risk - deaths, 1) AS DOUBLE)) * 1e6) AS BIGINT)
          END AS haz
        FROM r)
      SELECT t, n_risk, deaths, censored,
        CAST(SUM(haz) OVER (ORDER BY t ROWS UNBOUNDED PRECEDING) AS BIGINT)
          AS cum_hazard_micro,
        (n_risk = deaths) AS survival_zero
      FROM h WHERE deaths > 0 ORDER BY t"""

  val registry: Seq[Query] = Seq(
    Query("q_survival", qSurvival, Oracle(qSurvivalSql)),
    Query("q_stickiness", qStickiness, Oracle(qStickinessSql)),
    Query("q_kpi_dashboard", qKpiDashboard, Oracle(qKpiDashboardSql)),
    Query("q_rfm", qRfm, Oracle(qRfmSql)),
    Query("q_cohort_ltv", qCohortLtv, Oracle(qCohortLtvSql)),
    Query("q_ewma", qEwma, Oracle(qEwmaSql)),
    Query("q_entropy", qEntropy, Oracle(qEntropySql)),
    Query("q_spearman", qSpearman, Oracle(qSpearmanSql)),
    Query("q_chi2", qChi2, Oracle(qChi2Sql)),
    Query("q_acf", qAcf, Oracle(qAcfSql)),
    Query("q_bootstrap_poisson", qBootstrapPoisson, Oracle(qBootstrapPoissonSql)),
    Query("q_ab_test", qAbTest, Oracle(qAbTestSql)),
    Query("q_cusum", qCusum, Oracle(qCusumSql)),
    Query("q_concurrency", qConcurrency, Oracle(qConcurrencySql)),
    Query("q_rolling_active", qRollingActive, Oracle(qRollingActiveSql)),
    Query("q_attribution", qAttribution, Oracle(qAttributionSql)),
    Query("q_anomaly", qAnomaly, Oracle(qAnomalySql)),
    Query("q_trend", qTrend, Oracle(qTrendSql)),
    Query("q_session_paths", qSessionPaths, Oracle(qSessionPathsSql)),
    Query("q_time_weighted_avg", qTimeWeightedAvg, Oracle(qTimeWeightedAvgSql)),
    Query("q_segment_overlap", qSegmentOverlap, Oracle(qSegmentOverlapSql)),
    Query("q_gap_fill", qGapFill, Oracle(qGapFillSql)),
    Query("q_retention_cohorts", qRetentionCohorts, Oracle(qRetentionCohortsSql)),
    Query("q_next_event_markov", qNextEventMarkov, Oracle(qNextEventMarkovSql)))
}
