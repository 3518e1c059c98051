package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, RowsOnly, Tables}

/** §2 cross-family audit & eval operators (c62-c64, f32, d18): the
  * pre-flight and post-hoc checks a 100 TB pipeline runs against its
  * own tables — referential-integrity audit, join-key skew audit,
  * column profiling — plus the lang-id quality harness (f32, the f1
  * twin of e10's ANN recall harness) and degree-oriented triangle
  * counting over the behavioral co-occurrence graph (d18).
  *
  * ref capability: the reference trusts its inputs (ingest.py assumes
  * every queue message resolves; processing.py assumes layer metadata
  * is consistent) — at reference scale a broken FK surfaces as one
  * failed ingest. At 100 TB these audits ARE the failure surface, so
  * the engine ships them as first-class bounded-output queries.
  *
  * Oracle-compat rules as Analytics.scala: integer micro-unit shares
  * (floor division both engines), no raw timestamps out, total ORDER
  * BY, identical aliases both sides.
  */
object OpsAudit {

  // ---- c62: referential-integrity audit ------------------------------

  /** One FK edge's stats in ONE pass over the child: left join against
    * the deduped parent key set (broadcast when the parent is a dim;
    * the lineitem→orders edge shuffles and AQE handles it), count
    * matches and misses in the same agg — the child is never scanned
    * twice and the output is one row. */
  private def fkEdge(name: String, child: DataFrame, key: String,
      parent: DataFrame, pk: String, bcast: Boolean): DataFrame = {
    val p0 = parent.select(col(pk).as("_k")).distinct()
      .withColumn("_hit", lit(1))
    val p = if (bcast) broadcast(p0) else p0
    child.select(col(key).as("_k"))
      .join(p, Seq("_k"), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col("_hit").isNull, 1L).otherwise(0L)).as("n_orphan"))
      .select(lit(name).as("fk"), col("n_child"), col("n_orphan"),
        expr("n_orphan * 1000000 div n_child").as("orphan_micro"))
  }

  /** c62 — referential-integrity audit: every FK edge of the star
    * schema (plus the deliberately-dirty events.user_id→customer edge
    * — synthetic user ids start at 0, customer keys at 1), one row per
    * edge: child rows, orphan rows, orphan share in micro-units.
    * Plan: each edge is one child scan + one left join against the
    * DISTINCT parent keys — dims broadcast, the one fact-to-fact edge
    * (lineitem→orders) shuffles on the key it would join on anyway,
    * so the audit measures exactly the joins the workload runs. Output
    * is |edges| rows regardless of volume. At 100 TB: no edge ever
    * materializes orphan ROWS (counts only), nothing driver-side. */
  def qFkAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val c = Tables(spark, dir, "customer")
    val s = Tables(spark, dir, "supplier")
    val p = Tables(spark, dir, "part")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    val e = Tables.events(spark, dir)
    Seq(
      fkEdge("customer.c_nationkey->nation", c, "c_nationkey", n, "n_nationkey", bcast = true),
      fkEdge("events.user_id->customer", e, "user_id", c, "c_custkey", bcast = true),
      fkEdge("lineitem.l_orderkey->orders", li, "l_orderkey", o, "o_orderkey", bcast = false),
      fkEdge("lineitem.l_partkey->part", li, "l_partkey", p, "p_partkey", bcast = true),
      fkEdge("lineitem.l_suppkey->supplier", li, "l_suppkey", s, "s_suppkey", bcast = true),
      fkEdge("nation.n_regionkey->region", n, "n_regionkey", r, "r_regionkey", bcast = true),
      fkEdge("orders.o_custkey->customer", o, "o_custkey", c, "c_custkey", bcast = true)
    ).reduce(_.unionAll(_)).orderBy("fk")
  }

  val qFkAuditSql: String = {
    def edge(name: String, child: String, key: String, parent: String, pk: String) =
      s"""SELECT '$name' AS fk, COUNT(*) AS n_child,
         CAST(SUM(CASE WHEN p._k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan,
         CAST(SUM(CASE WHEN p._k IS NULL THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT) AS orphan_micro
         FROM $child LEFT JOIN (SELECT DISTINCT $pk AS _k FROM $parent) p ON $key = p._k"""
    Seq(
      edge("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edge("events.user_id->customer", "events", "user_id", "customer", "c_custkey"),
      edge("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edge("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edge("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edge("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
      edge("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey")
    ).mkString("", " UNION ALL ", " ORDER BY fk")
  }

  // ---- c63: join-key skew audit --------------------------------------

  /** One audited key's skew stats: per-key counts (one map-side-combined
    * groupBy — the same exchange the real join would pay), then the
    * stats fold to one row. The heavy-key predicate is cross-multiplied
    * integer math (cnt·n_keys > 4·n_rows ⇔ cnt > 4·avg), the top key is
    * the deterministic min key among max-count holders — a second pass
    * over the POST-AGG counts (|distinct keys| rows, not raw volume). */
  private def skewKey(name: String, df: DataFrame, key: String): DataFrame = {
    // per-key counts materialized once (localCheckpoint) — the stats
    // fold and the second heavy/top pass both read POST-AGG volume
    // (|distinct keys| rows), never re-scanning the raw table
    val counts = df.select(col(key).cast("long").as("k"))
      .groupBy("k").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val stats = counts.agg(sum(col("cnt")).as("n_rows"),
      count(lit(1)).as("n_keys"), max(col("cnt")).as("max_per_key"))
    val folded = counts.crossJoin(broadcast(stats))
      .agg(max(col("n_rows")).as("n_rows"), max(col("n_keys")).as("n_keys"),
        max(col("max_per_key")).as("max_per_key"),
        sum(when(col("cnt") * col("n_keys") > col("n_rows") * 4, 1L)
          .otherwise(0L)).as("heavy_keys"),
        min(when(col("cnt") === col("max_per_key"), col("k"))).as("top_key"))
    folded.select(lit(name).as("key_name"), col("n_rows"), col("n_keys"),
      col("max_per_key"), col("top_key"), col("heavy_keys"),
      expr("max_per_key * 1000000 div n_rows").as("top_micro"))
  }

  /** c63 — join-key SKEW audit (the pre-flight c10's salted join and
    * AQE's skew split depend on): for each candidate shuffle key, the
    * row count, distinct keys, the heaviest key and its share, and how
    * many keys exceed 4× the mean — the number that decides between a
    * plain shuffle join, AQE skew handling, and explicit salting.
    * Plan: one groupBy per key (map-side combined, the exact exchange
    * the real join pays), stats fold over post-agg volume only. At
    * 100 TB the audit costs one aggregation per key and outputs one
    * row per key. */
  def qSkewAudit(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables(spark, dir, "lineitem")
    val o = Tables(spark, dir, "orders")
    val e = Tables.events(spark, dir)
    Seq(
      skewKey("events.user_id", e, "user_id"),
      skewKey("lineitem.l_orderkey", li, "l_orderkey"),
      skewKey("lineitem.l_partkey", li, "l_partkey"),
      skewKey("lineitem.l_suppkey", li, "l_suppkey"),
      skewKey("orders.o_custkey", o, "o_custkey")
    ).reduce(_.unionAll(_)).orderBy("key_name")
  }

  val qSkewAuditSql: String = {
    def key(name: String, table: String, k: String) =
      s"""SELECT '$name' AS key_name, n_rows, n_keys, max_per_key,
         (SELECT MIN(k) FROM counts_$k WHERE cnt = s.max_per_key) AS top_key,
         (SELECT COUNT(*) FROM counts_$k WHERE cnt * s.n_keys > s.n_rows * 4) AS heavy_keys,
         CAST(max_per_key * 1000000 // n_rows AS BIGINT) AS top_micro
         FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
               MAX(cnt) AS max_per_key FROM counts_$k) s"""
    val ctes = Seq(
      ("user_id", "events", "user_id"),
      ("l_orderkey", "lineitem", "l_orderkey"),
      ("l_partkey", "lineitem", "l_partkey"),
      ("l_suppkey", "lineitem", "l_suppkey"),
      ("o_custkey", "orders", "o_custkey")
    ).map { case (n, t, c) =>
      s"counts_$n AS (SELECT CAST($c AS BIGINT) AS k, COUNT(*) AS cnt FROM $t GROUP BY 1)"
    }.mkString("WITH ", ", ", " ")
    ctes + Seq(
      key("events.user_id", "events", "user_id"),
      key("lineitem.l_orderkey", "lineitem", "l_orderkey"),
      key("lineitem.l_partkey", "lineitem", "l_partkey"),
      key("lineitem.l_suppkey", "lineitem", "l_suppkey"),
      key("orders.o_custkey", "orders", "o_custkey")
    ).mkString("", " UNION ALL ", " ORDER BY key_name")
  }

  // ---- c65: audit-driven adaptive salting ----------------------------

  /** Adaptively salted equi-join: per-key salt factors DERIVED from the
    * measured counts (c63's exchange), entirely in-plan. A key gets
    * factor ⌈cnt/T⌉ (capped 64) only if cnt > T = total/targetChunks —
    * by pigeonhole at most targetChunks keys qualify, so the factor
    * table always broadcasts. Light keys pay NOTHING (factor 1, no
    * extra dim rows); heavy keys split into ~T-row chunks. Contrast
    * c10's uniform salting, which replicates EVERY dim row nSalt
    * times to protect against a hot key that may not exist.
    * `saltOf` must be a deterministic per-row column (row identity —
    * it only spreads rows, never changes the join result). */
  private[graft] def saltedAutoJoin(fact: DataFrame, key: String, saltOf:
      org.apache.spark.sql.Column, dim: DataFrame, targetChunks: Int): DataFrame = {
    val counts = fact.groupBy(key).agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    val tot = counts.agg(sum(col("cnt")).as("tot"))
    val factors = counts.crossJoin(broadcast(tot))
      .filter(col("cnt") * targetChunks > col("tot"))
      .select(col(key),
        expr(s"least(cnt * $targetChunks div tot + 1, 64L)").as("factor"))
    val f = fact.join(broadcast(factors), Seq(key), "left")
      .withColumn("_salt", pmod(saltOf, coalesce(col("factor"), lit(1L))))
      .drop("factor")
    val d = dim.join(broadcast(factors), Seq(key), "left")
      .withColumn("_salt", explode(sequence(lit(0L),
        coalesce(col("factor"), lit(1L)) - 1)))
      .drop("factor")
    f.join(d, Seq(key, "_salt")).drop("_salt")
  }

  /** c65 — the skew audit CLOSING ITS LOOP (c63 measures, c65 acts):
    * the same events⋈weights join c10 protects with uniform 8×
    * salting, salted ADAPTIVELY from measured per-key counts — heavy
    * keys (> total/32) split into bounded chunks, light keys pay no
    * replication at all, and the factor table is provably ≤ 32 rows
    * (pigeonhole), so it always broadcasts. Same result as the plain
    * join — salting is pure architecture — so the oracle is the plain
    * join; SkewJoinSpec plants a 200k-copy hot key and proves ONLY it
    * gets a factor > 1, with the result byte-equal to the unsalted
    * join. At 100 TB this is what an auto-tuning join wrapper does
    * with exactly the c63 statistics. */
  def qSaltedAuto(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(col("event_id"), col("event_type"))
    val dim = Tables.events(spark, dir).select(col("event_type")).distinct()
      .withColumn("weight",
        when(col("event_type") === "purchase", 10)
          .when(col("event_type") === "error", 5).otherwise(1))
    saltedAutoJoin(e, "event_type", col("event_id"), dim, targetChunks = 32)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("weight")).as("weighted"))
      .orderBy("event_type")
  }

  val qSaltedAutoSql: String =
    """WITH dim AS (
         SELECT DISTINCT event_type,
           CASE WHEN event_type = 'purchase' THEN 10
                WHEN event_type = 'error' THEN 5 ELSE 1 END AS weight
         FROM events)
       SELECT e.event_type, COUNT(*) AS n, CAST(SUM(d.weight) AS BIGINT) AS weighted
       FROM events e JOIN dim d ON e.event_type = d.event_type
       GROUP BY e.event_type ORDER BY e.event_type"""

  // ---- c64: column profile -------------------------------------------

  /** c64 — column profiling of `orders` (the nightly data-quality
    * sweep): per column, row count, nulls, EXACT distinct count, and
    * lo/hi rendered through per-type deterministic formats (bigint →
    * digits, varchar → identity, timestamp → epoch-ms digits, money →
    * decimal(18,2)) so
    * both engines produce byte-identical strings. Plan: ONE aggregate
    * over one scan carries every measure — Spark plans the 6
    * count-distincts as one Expand (6× the rows through ONE exchange,
    * map-side partials intact), then `stack` unpivots the single
    * result row to 6 output rows. At 100 TB: one pass, no per-column
    * rescans; swap countDistinct for approx_count_distinct when ±2%
    * suffices and Expand drops out entirely. */
  def qProfile(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    // r16 optimization: min/max over STRING columns carry immutable agg
    // buffers, and ONE such pair used to demote the ENTIRE profile
    // aggregate to SortAggregate — the measured cost was a full sort of
    // the Expand's 7× row blow-up (1.05M rows, 1.5 s sortTime / 168 MB
    // peak at sf0.1) plus sort-based partial/final aggs. Splitting the
    // four string min/maxes into their own GLOBAL aggregate (grouping-
    // free ⇒ no sort inserted, one cheap two-column pass) leaves every
    // buffer in the main aggregate mutable, so the count-distinct
    // Expand path plans as HashAggregate end to end; the two 1-row
    // results recombine with a broadcast cross join. Same output, same
    // oracle — plan diff: 8 SortAggregate + 2 full-width Sort → 6
    // HashAggregate + 2 narrow SortAggregate (plans/r16/q_profile_*).
    val agg = o.agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("nn_orderkey"),
      countDistinct(col("o_orderkey")).as("nd_orderkey"),
      min(col("o_orderkey")).cast("string").as("lo_orderkey"),
      max(col("o_orderkey")).cast("string").as("hi_orderkey"),
      count(col("o_custkey")).as("nn_custkey"),
      countDistinct(col("o_custkey")).as("nd_custkey"),
      min(col("o_custkey")).cast("string").as("lo_custkey"),
      max(col("o_custkey")).cast("string").as("hi_custkey"),
      count(col("o_orderstatus")).as("nn_status"),
      countDistinct(col("o_orderstatus")).as("nd_status"),
      count(col("o_totalprice")).as("nn_price"),
      countDistinct(col("o_totalprice")).as("nd_price"),
      min(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("lo_price"),
      max(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("hi_price"),
      count(col("o_orderdate")).as("nn_date"),
      countDistinct(col("o_orderdate")).as("nd_date"),
      unix_millis(min(col("o_orderdate")).cast("timestamp")).cast("string").as("lo_date"),
      unix_millis(max(col("o_orderdate")).cast("timestamp")).cast("string").as("hi_date"),
      count(col("o_orderpriority")).as("nn_prio"),
      countDistinct(col("o_orderpriority")).as("nd_prio"))
    val strBounds = o.agg(
      min(col("o_orderstatus")).as("lo_status"),
      max(col("o_orderstatus")).as("hi_status"),
      min(col("o_orderpriority")).as("lo_prio"),
      max(col("o_orderpriority")).as("hi_prio"))
    agg.crossJoin(broadcast(strBounds)).select(expr(
      """stack(6,
        'o_custkey',      n - nn_custkey,  nd_custkey,  lo_custkey,  hi_custkey,
        'o_orderdate',    n - nn_date,     nd_date,     lo_date,     hi_date,
        'o_orderkey',     n - nn_orderkey, nd_orderkey, lo_orderkey, hi_orderkey,
        'o_orderpriority',n - nn_prio,     nd_prio,     lo_prio,     hi_prio,
        'o_orderstatus',  n - nn_status,   nd_status,   lo_status,   hi_status,
        'o_totalprice',   n - nn_price,    nd_price,    lo_price,    hi_price)
        AS (col_name, n_null, n_distinct, lo, hi)"""),
      col("n").as("n_rows"))
      .select("col_name", "n_rows", "n_null", "n_distinct", "lo", "hi")
      .orderBy("col_name")
  }

  /** c64b — the documented 100 TB swap of c64, DEMONSTRATED: the same
    * 6-column profile with `approx_count_distinct` (HLL++, rsd 0.05)
    * in place of the exact distincts. The plan difference is the
    * point: c64's exact form runs the 6 count-distincts through one
    * Expand — 6× the rows through the exchange; here the HLL sketches
    * fold as ordinary partial aggregates, Expand DROPS OUT, and the
    * exchange carries 6 sketch buffers per partition instead of 6×
    * rows (benched beside c64 — the Expand tax made visible).
    * Rows-only by design (sketch estimates have no DuckDB twin);
    * the error-bound spec gates each nd within 10% of c64's exact. */
  def qProfileApprox(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val agg = o.agg(
      count(lit(1)).as("n"),
      count(col("o_orderkey")).as("nn_orderkey"),
      approx_count_distinct(col("o_orderkey")).as("nd_orderkey"),
      min(col("o_orderkey")).cast("string").as("lo_orderkey"),
      max(col("o_orderkey")).cast("string").as("hi_orderkey"),
      count(col("o_custkey")).as("nn_custkey"),
      approx_count_distinct(col("o_custkey")).as("nd_custkey"),
      min(col("o_custkey")).cast("string").as("lo_custkey"),
      max(col("o_custkey")).cast("string").as("hi_custkey"),
      count(col("o_orderstatus")).as("nn_status"),
      approx_count_distinct(col("o_orderstatus")).as("nd_status"),
      min(col("o_orderstatus")).as("lo_status"),
      max(col("o_orderstatus")).as("hi_status"),
      count(col("o_totalprice")).as("nn_price"),
      approx_count_distinct(col("o_totalprice")).as("nd_price"),
      min(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("lo_price"),
      max(col("o_totalprice").cast("decimal(18,2)")).cast("string").as("hi_price"),
      count(col("o_orderdate")).as("nn_date"),
      approx_count_distinct(col("o_orderdate")).as("nd_date"),
      unix_millis(min(col("o_orderdate")).cast("timestamp")).cast("string").as("lo_date"),
      unix_millis(max(col("o_orderdate")).cast("timestamp")).cast("string").as("hi_date"),
      count(col("o_orderpriority")).as("nn_prio"),
      approx_count_distinct(col("o_orderpriority")).as("nd_prio"),
      min(col("o_orderpriority")).as("lo_prio"),
      max(col("o_orderpriority")).as("hi_prio"))
    agg.select(expr(
      """stack(6,
        'o_custkey',      n - nn_custkey,  nd_custkey,  lo_custkey,  hi_custkey,
        'o_orderdate',    n - nn_date,     nd_date,     lo_date,     hi_date,
        'o_orderkey',     n - nn_orderkey, nd_orderkey, lo_orderkey, hi_orderkey,
        'o_orderpriority',n - nn_prio,     nd_prio,     lo_prio,     hi_prio,
        'o_orderstatus',  n - nn_status,   nd_status,   lo_status,   hi_status,
        'o_totalprice',   n - nn_price,    nd_price,    lo_price,    hi_price)
        AS (col_name, n_null, n_distinct, lo, hi)"""),
      col("n").as("n_rows"))
      .select("col_name", "n_rows", "n_null", "n_distinct", "lo", "hi")
      .orderBy("col_name")
  }

  val qProfileSql: String = {
    def row(name: String, c: String, lo: String, hi: String) =
      s"""SELECT '$name' AS col_name, COUNT(*) AS n_rows,
         COUNT(*) - COUNT($c) AS n_null,
         COUNT(DISTINCT $c) AS n_distinct, $lo AS lo, $hi AS hi FROM orders"""
    Seq(
      row("o_custkey", "o_custkey",
        "CAST(MIN(o_custkey) AS VARCHAR)", "CAST(MAX(o_custkey) AS VARCHAR)"),
      row("o_orderdate", "o_orderdate",
        "CAST(epoch_ms(MIN(o_orderdate)) AS VARCHAR)",
        "CAST(epoch_ms(MAX(o_orderdate)) AS VARCHAR)"),
      row("o_orderkey", "o_orderkey",
        "CAST(MIN(o_orderkey) AS VARCHAR)", "CAST(MAX(o_orderkey) AS VARCHAR)"),
      row("o_orderpriority", "o_orderpriority",
        "MIN(o_orderpriority)", "MAX(o_orderpriority)"),
      row("o_orderstatus", "o_orderstatus",
        "MIN(o_orderstatus)", "MAX(o_orderstatus)"),
      row("o_totalprice", "o_totalprice",
        "CAST(CAST(MIN(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)",
        "CAST(CAST(MAX(o_totalprice) AS DECIMAL(18,2)) AS VARCHAR)")
    ).mkString("", " UNION ALL ", " ORDER BY col_name")
  }

  // ---- f32: lang-id eval harness --------------------------------------

  /** f32 — lang-id EVAL harness (f1's quality, quantified — the f-twin
    * of e10's recall@5 and d9's dedup recall): per language,
    * true/predicted counts, true positives, and precision / recall /
    * F1 in integer micro-units (floor division; F1 from the micro
    * P and R, 0-guarded — exact in both engines, no IEEE division
    * anywhere). Plan: f1's per-doc scoring is one map pass; the
    * confusion matrix is ONE bounded agg (|langs|² rows) and every
    * derived metric folds from the matrix, never re-scanning
    * documents. The label-side left join keeps a language the
    * classifier never predicts (n_pred = 0, precision 0). */
  def qLangIdEval(spark: SparkSession, dir: String): DataFrame = {
    val conf = TextOps.qLangId(spark, dir)
      .groupBy("lang", "guess").agg(count(lit(1)).as("n"))
    val tru = conf.groupBy("lang").agg(sum(col("n")).as("n_true"))
    val prd = conf.groupBy(col("guess").as("lang")).agg(sum(col("n")).as("n_pred"))
    val tp = conf.filter(col("lang") === col("guess"))
      .select(col("lang"), col("n").as("tp"))
    tru.join(prd, Seq("lang"), "left").join(tp, Seq("lang"), "left")
      .select(col("lang"), col("n_true"),
        coalesce(col("n_pred"), lit(0L)).as("n_pred"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("prec_micro",
        expr("CASE WHEN n_pred = 0 THEN 0 ELSE tp * 1000000 div n_pred END"))
      .withColumn("rec_micro",
        expr("CASE WHEN n_true = 0 THEN 0 ELSE tp * 1000000 div n_true END"))
      .withColumn("f1_micro",
        expr("""CASE WHEN prec_micro + rec_micro = 0 THEN 0
                ELSE 2 * prec_micro * rec_micro div (prec_micro + rec_micro) END"""))
      .orderBy("lang")
  }

  val qLangIdEvalSql: String = {
    val base = TextOps.qLangIdSql
    val inner = base.substring(0, base.lastIndexOf("ORDER BY doc_id"))
    s"""WITH scored AS ($inner),
       conf AS (SELECT lang, guess, COUNT(*) AS n FROM scored GROUP BY 1, 2),
       tru AS (SELECT lang, CAST(SUM(n) AS BIGINT) AS n_true FROM conf GROUP BY 1),
       prd AS (SELECT guess AS lang, CAST(SUM(n) AS BIGINT) AS n_pred FROM conf GROUP BY 1),
       tp AS (SELECT lang, n AS tp FROM conf WHERE lang = guess),
       m AS (
         SELECT t.lang, t.n_true, COALESCE(p.n_pred, 0) AS n_pred,
           COALESCE(tp.tp, 0) AS tp
         FROM tru t LEFT JOIN prd p USING (lang) LEFT JOIN tp USING (lang)),
       mm AS (
         SELECT lang, n_true, n_pred, tp,
           CAST(CASE WHEN n_pred = 0 THEN 0 ELSE tp * 1000000 // n_pred END AS BIGINT) AS prec_micro,
           CAST(CASE WHEN n_true = 0 THEN 0 ELSE tp * 1000000 // n_true END AS BIGINT) AS rec_micro
         FROM m)
       SELECT lang, n_true, n_pred, tp, prec_micro, rec_micro,
         CAST(CASE WHEN prec_micro + rec_micro = 0 THEN 0
              ELSE 2 * prec_micro * rec_micro // (prec_micro + rec_micro) END AS BIGINT) AS f1_micro
       FROM mm ORDER BY lang"""
  }

  // ---- d18: degree-oriented triangle counting --------------------------

  /** The co-click graph: an undirected edge joins two users who clicked
    * the same item (props.k) in the same ISO week. Group membership is
    * df-CAPPED (the d4 discipline): only the 20 smallest user ids per
    * (k, week) group generate pairs, so a viral item contributes ≤C²
    * candidate rows instead of members² — the cap is deterministic and
    * mirrored in the oracle. */
  private def coClickEdges(spark: SparkSession, dir: String): DataFrame = {
    val m = Tables.events(spark, dir)
      .filter(col("event_type") === "click")
      .select(get_json_object(col("props"), "$.k").cast("int").as("k"),
        (unix_millis(col("ts")) / lit(604800000L)).cast("long").as("week"),
        col("user_id"))
      .distinct()
    val capped = m.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .partitionBy("k", "week").orderBy("user_id")))
      .filter(col("rn") <= 20).drop("rn")
    capped.as("a").join(capped.as("b"),
        col("a.k") === col("b.k") && col("a.week") === col("b.week") &&
          col("a.user_id") < col("b.user_id"))
      .select(col("a.user_id").as("u"), col("b.user_id").as("v"))
      .distinct()
  }

  private val coClickEdgesSql: String =
    """m AS (
        SELECT DISTINCT CAST(json_extract(props, '$.k') AS INT) AS k,
          epoch_ms(ts) // 604800000 AS week, user_id
        FROM events WHERE event_type = 'click'),
      capped AS (
        SELECT k, week, user_id FROM (
          SELECT k, week, user_id,
            ROW_NUMBER() OVER (PARTITION BY k, week ORDER BY user_id) AS rn
          FROM m) WHERE rn <= 20),
      edges AS (
        SELECT DISTINCT a.user_id AS u, b.user_id AS v
        FROM capped a JOIN capped b
          ON a.k = b.k AND a.week = b.week AND a.user_id < b.user_id)"""

  /** d18 — TRIANGLE counting on the co-click graph, degree-oriented
    * (the standard O(m^1.5)-work scalable formulation): every edge is
    * directed from its lower-(degree, id) endpoint to the higher, so
    * each triangle is enumerated EXACTLY once as two out-edges of its
    * minimum vertex plus the closing edge — wedge volume is Σ
    * out-deg², which the orientation provably minimizes to O(m^1.5),
    * versus Σ deg² for the naive wedge join that a hub vertex blows
    * up quadratically. Output: per-user triangle participation (the
    * local clustering numerator — community density of the behavior
    * graph). Plan: membership cap → one pair join → degree agg → two
    * bounded self-joins on oriented edges; every stage is keyed, no
    * driver loops. The oracle enumerates the same triangles naively
    * (u<v<w), proving the orientation loses nothing. */
  def qTriangles(spark: SparkSession, dir: String): DataFrame = {
    val edges = coClickEdges(spark, dir).localCheckpoint(false)
    val deg = edges.select(col("u").as("node")).unionAll(edges.select(col("v").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // total order: (deg, id) packed into one long — ids are bounded by
    // the synthetic user space (< 2^40), degrees by |V|, so the pack
    // never collides; ties impossible because ids differ
    val ord = deg.select(col("node"), (col("deg") * lit(1099511627776L) + col("node")).as("ord"))
    val oriented = edges
      .join(ord.withColumnRenamed("node", "u").withColumnRenamed("ord", "ord_u"), "u")
      .join(ord.withColumnRenamed("node", "v").withColumnRenamed("ord", "ord_v"), "v")
      .select(
        when(col("ord_u") < col("ord_v"), col("u")).otherwise(col("v")).as("src"),
        when(col("ord_u") < col("ord_v"), col("v")).otherwise(col("u")).as("dst"),
        greatest(col("ord_u"), col("ord_v")).as("ord_dst"))
      // materialized once: the wedge self-join and the closing join
      // both read it — without this the degree-join chain re-executes
      // three times (once per side)
      .localCheckpoint(false)
    val wedges = oriented.as("x").join(oriented.as("y"),
        col("x.src") === col("y.src") && col("x.ord_dst") < col("y.ord_dst"))
      .select(col("x.src").as("a"), col("x.dst").as("b"), col("y.dst").as("c"))
    val tri = wedges.join(oriented.select(col("src").as("b"), col("dst").as("c")),
      Seq("b", "c"))
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("user_id"))
      .groupBy("user_id").agg(count(lit(1)).as("n_tri"))
      .orderBy("user_id")
  }

  val qTrianglesSql: String =
    s"""WITH $coClickEdgesSql,
      tri AS (
        SELECT ab.u AS a, ab.v AS b, ac.v AS c
        FROM edges ab JOIN edges ac ON ab.u = ac.u AND ab.v < ac.v
        JOIN edges bc ON bc.u = ab.v AND bc.v = ac.v)
      SELECT user_id, COUNT(*) AS n_tri FROM (
        SELECT a AS user_id FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
      GROUP BY user_id ORDER BY user_id"""

  // ---- c68: distribution-drift audit (exact two-sample KS) -----------

  /** c68 — exact two-sample Kolmogorov–Smirnov distance between the
    * first and second half of the event-time range (the canonical
    * "did this metric's distribution drift?" audit; the halves stand
    * in for yesterday-vs-today). Everything is integer-exact: the
    * gauge is quantized to cents (the c49 convention), the split
    * boundary is `(min_ms + max_ms) div 2`, and the KS statistic is
    * computed as max |cumA·nB − cumB·nA| over the VALUE HISTOGRAM —
    * never over raw rows — with the cross products widened to
    * decimal(38,0) (HUGEINT on the oracle side) so no count magnitude
    * can overflow. Reported in micro-units via floor division; the
    * arg-max value (min such value on ties) comes from the same pass.
    * Plan: one scan → distributed (value → cntA, cntB) histogram agg
    * → ordered cumsum window over the HISTOGRAM. The window is a
    * single sorted partition, but its input is one row per DISTINCT
    * quantized value — bounded by the gauge's dynamic range (cents),
    * not by row count — the same boundedness argument as c11's
    * histogram median. At 100 TB the per-value agg carries the volume;
    * the window sees thousands of rows.
    */
  def qKsDrift(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .filter(col("event_type") === "view")
      .select(unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
    val mid = e.agg(min(col("ms")).as("lo"), max(col("ms")).as("hi"))
      .select(expr("(lo + hi) div 2").as("mid"))
    val hist = e.crossJoin(broadcast(mid))
      .groupBy("v")
      .agg(sum(when(col("ms") <= col("mid"), 1L).otherwise(0L)).as("ca"),
        sum(when(col("ms") > col("mid"), 1L).otherwise(0L)).as("cb"))
    val totals = hist.agg(sum(col("ca")).as("n_a"), sum(col("cb")).as("n_b"))
    val wCum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    hist
      .withColumn("cuma", sum(col("ca")).over(wCum))
      .withColumn("cumb", sum(col("cb")).over(wCum))
      .crossJoin(broadcast(totals))
      .withColumn("dev", expr(
        "abs(CAST(cuma AS DECIMAL(38,0)) * n_b - CAST(cumb AS DECIMAL(38,0)) * n_a)"))
      .withColumn("dmax", max(col("dev")).over(wAll))
      .filter(col("dev") === col("dmax"))
      .groupBy("n_a", "n_b")
      .agg(min(col("v")).as("v_at"), max(col("dev")).as("d"))
      .select(col("n_a"), col("n_b"), col("v_at"),
        expr("CAST((d * 1000000) div (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)")
          .as("ks_micro"))
  }

  val qKsDriftSql: String =
    """WITH e AS (
        SELECT epoch_ms(ts) AS ms, CAST(round(value * 100) AS BIGINT) AS v
        FROM events WHERE event_type = 'view'),
      m AS (SELECT (MIN(ms) + MAX(ms)) // 2 AS mid FROM e),
      hist AS (
        SELECT v,
          SUM(CASE WHEN ms <= mid THEN 1 ELSE 0 END) AS ca,
          SUM(CASE WHEN ms > mid THEN 1 ELSE 0 END) AS cb
        FROM e CROSS JOIN m GROUP BY v),
      t AS (SELECT CAST(SUM(ca) AS BIGINT) AS n_a,
                   CAST(SUM(cb) AS BIGINT) AS n_b FROM hist),
      c AS (
        SELECT v,
          SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
        FROM hist
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
      dv AS (
        SELECT v, abs(CAST(cuma AS HUGEINT) * n_b - CAST(cumb AS HUGEINT) * n_a) AS dev,
          n_a, n_b
        FROM c CROSS JOIN t),
      mx AS (SELECT MAX(dev) AS dmax FROM dv)
      SELECT n_a, n_b, MIN(v) AS v_at,
        CAST((MAX(dev) * 1000000) // (CAST(n_a AS HUGEINT) * n_b) AS BIGINT) AS ks_micro
      FROM dv CROSS JOIN mx WHERE dev = dmax GROUP BY n_a, n_b"""

  // ---- c73: equi-depth histogram (the ANALYZE-statistics primitive) --

  /** c73 — exact equi-depth histogram of `o_totalprice` (8 buckets):
    * boundary_i = the smallest price whose cumulative row count
    * reaches ⌈i·n/8⌉ — the optimizer statistic every engine's ANALYZE
    * collects, and the one a naive global sort computes with a single
    * O(n log n) task. Here it's c11's histogram-median prune
    * generalized to B simultaneous targets: one scan builds a 1024-cell
    * COARSE fixed-width histogram (bounded rows, map-side combined),
    * the bounded cumsum locates which coarse cell each target rank
    * falls in, and only those ≤8 cells' raw values are re-scanned
    * (broadcast semi-join on the cell id) and ranked WITHIN the cell —
    * the per-cell refine windows partition by target, so nothing
    * global touches raw rows. Exactness: global rank of v = cum(cells
    * below) + rank within cell, because equal values always share a
    * cell. All integer cents; targets are ⌈i·n/8⌉ by integer ceiling
    * division. At 100 TB: 2 scans + a ≤1024-row single-partition
    * window + per-cell bounded refines; a hot single-value cell has
    * ONE distinct value, so its refine is 1 row — skew-proof by
    * construction. Oracle: the genuinely different direct form (global
    * per-value cumsum, min v with cum ≥ target).
    */
  def qEquidepth(spark: SparkSession, dir: String): DataFrame = {
    val nb = 1024L
    val vals = Tables(spark, dir, "orders")
      .select(expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("v"))
    val stats = vals.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
      count(lit(1)).as("n"))
      .select(col("lo"), col("n"),
        greatest(lit(1L), expr(s"(hi - lo) div $nb + 1")).as("width"))
    val coarse = vals.crossJoin(broadcast(stats))
      .groupBy(expr("(v - lo) div width").as("cell"))
      .agg(count(lit(1)).as("cnt"))
    val wCum = Window.orderBy("cell")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = coarse.withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("prev", col("cum") - col("cnt"))
    val targets = stats
      .select(col("lo"), col("width"), col("n"),
        explode(expr("sequence(1, 8)")).as("i"))
      .select(col("lo"), col("width"), col("i"),
        expr("(i * n + 7) div 8").as("target"))
    val located = targets.join(broadcast(cum),
        col("prev") < col("target") && col("cum") >= col("target"))
      .select(col("i"), col("target"), col("cell"),
        (col("target") - col("prev")).as("need"),
        col("lo"), col("width"))
    val wFine = Window.partitionBy("i").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vals.join(broadcast(located),
        expr("(v - lo) div width") === col("cell"))
      .groupBy("i", "target", "need", "v")
      .agg(count(lit(1)).as("c"))
      .withColumn("fcum", sum(col("c")).over(wFine))
      .filter(col("fcum") >= col("need"))
      .groupBy("i", "target")
      .agg(min(col("v")).as("boundary_cents"))
      .select(col("i").cast("int").as("quantile"), col("target").as("target_rank"),
        col("boundary_cents"))
      .orderBy("quantile")
  }

  val qEquidepthSql: String =
    """WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      t AS (SELECT COUNT(*) AS n FROM v),
      h AS (SELECT v, COUNT(*) AS c FROM v GROUP BY v),
      cu AS (
        SELECT v, SUM(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS cum FROM h),
      tt AS (
        SELECT i, (i * n + 7) // 8 AS target
        FROM (SELECT unnest(range(1, 9)) AS i) q CROSS JOIN t)
      SELECT CAST(i AS INTEGER) AS quantile,
        CAST(target AS BIGINT) AS target_rank,
        MIN(cu.v) AS boundary_cents
      FROM tt JOIN cu ON cu.cum >= tt.target
      GROUP BY i, target ORDER BY quantile"""

  // ------------------------------------------------------------------
  // c84 — Benford first-digit ledger audit
  // ------------------------------------------------------------------

  /** Benford's-law expected first-digit shares, log10(1 + 1/d) in
    * parts-per-million — LITERALS, so no engine evaluates log10 at
    * query time (the same discipline as b54's squared-tan constants). */
  private val benfordPpm: Seq[(Int, Long)] = Seq(
    1 -> 301030L, 2 -> 176091L, 3 -> 124939L, 4 -> 96910L, 5 -> 79181L,
    6 -> 66947L, 7 -> 57992L, 8 -> 51153L, 9 -> 45757L)

  /** c84 — `q_benford`: the classic forensic-accounting screen over the
    * order ledger (Benford 1938; the standard public fraud/synthetic-
    * data audit): the first significant digit of every order total vs
    * the log-law expectation, with a per-digit χ² term (floored to integer units).
    * First digit is integer/string algebra off floor(price·100) (both
    * engines share IEEE multiply + floor — never a float-to-int CAST,
    * whose rounding mode differs across engines). χ² rides ppm-scaled
    * integers; the term is reassociated as X·(total div 10⁶) +
    * X·(total mod 10⁶) div 10⁶ (identical value — the quotient part
    * is exact because X·q·10⁶ is a multiple of 10⁶), so the largest
    * intermediate is X·(total div 10⁶) with X ≤ 10¹²/45757 ≈ 2.2·10⁷:
    * overflow-safe to ~4·10¹⁷ rows, where the naive (X·total) div 10⁶
    * form wrapped silently in Spark (and raised in DuckDB) near
    * ~4·10¹¹ rows.
    * One scan, one 9-bucket agg (map-side combinable), bounded output.
    * The driver's synthetic ledger is uniform-ish, NOT Benford — the
    * audit's point is that the deviation column exposes exactly that. */
  def qBenford(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val obs = o.filter(col("o_totalprice") > 0)
      .select(expr(
        "CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val expected = spark.createDataFrame(benfordPpm.map { case (d, p) => (d.toLong, p) })
      .toDF("digit", "exp_ppm")
    val total = obs.agg(sum("n").as("total"))
    // 9-row expectation table broadcast against the 9-row observation;
    // the crossJoin side is the 1-row grand total (bounded by design)
    expected.join(broadcast(obs), Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("obs_ppm", expr("n * 1000000 div total"))
      .withColumn("chi2_term", expr(
        """((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) div exp_ppm) * (total div 1000000)
           + ((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) div exp_ppm) * (total % 1000000) div 1000000"""))
      .select("digit", "n", "exp_ppm", "obs_ppm", "chi2_term")
      .orderBy("digit")
  }

  val qBenfordSql: String = {
    val vals = benfordPpm.map { case (d, p) => s"($d, $p)" }.mkString(", ")
    s"""WITH d AS (
        SELECT CAST(substr(CAST(CAST(floor(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit
        FROM orders WHERE o_totalprice > 0),
      t AS (SELECT count(*) AS total FROM d),
      obs AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
      exp AS (SELECT CAST(digit AS BIGINT) AS digit, CAST(exp_ppm AS BIGINT) AS exp_ppm
              FROM (VALUES $vals) AS v(digit, exp_ppm)),
      j AS (
        SELECT e.digit, coalesce(o.n, 0) AS n, e.exp_ppm,
          coalesce(o.n, 0) * 1000000 // t.total AS obs_ppm, t.total AS total
        FROM exp e LEFT JOIN obs o ON e.digit = o.digit CROSS JOIN t)
      SELECT digit, n, exp_ppm, obs_ppm,
        ((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // exp_ppm) * (total // 1000000)
          + ((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm) // exp_ppm) * (total % 1000000) // 1000000 AS chi2_term
      FROM j ORDER BY digit"""
  }

  val registry: Seq[Query] = Seq(
    Query("q_benford", qBenford, Oracle(qBenfordSql)),
    Query("q_equidepth", qEquidepth, Oracle(qEquidepthSql)),
    Query("q_ks_drift", qKsDrift, Oracle(qKsDriftSql)),
    Query("q_salted_auto", qSaltedAuto, Oracle(qSaltedAutoSql)),
    Query("q_fk_audit", qFkAudit, Oracle(qFkAuditSql)),
    Query("q_skew_audit", qSkewAudit, Oracle(qSkewAuditSql)),
    Query("q_profile", qProfile, Oracle(qProfileSql)),
    // sketch estimates: the spec gates each within ±10% of q_profile
    Query("q_profile_approx", qProfileApprox, RowsOnly("OperatorsSpec")),
    Query("q_lang_id_eval", qLangIdEval, Oracle(qLangIdEvalSql)),
    Query("q_triangles", qTriangles, Oracle(qTrianglesSql)))
}
