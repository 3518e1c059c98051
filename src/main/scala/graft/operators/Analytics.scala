package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, RowsOnly, Tables}

/** §2 C — relational substrate (joins/aggs/windows the reference's
  * queue + progress-state flow relies on), TPC-H-shaped.
  *
  * Oracle-compat rules used throughout the codebase:
  *  - money-ish sums go through DECIMAL (exact, order-insensitive,
  *    map-side-combinable) and are cast to DOUBLE only at the end;
  *  - averages are computed as double(sum_dec)/double(count) — one
  *    deterministic IEEE division instead of engine-specific AVG;
  *  - timestamps never leave a query raw: epoch millis (BIGINT) or
  *    DATE only, to dodge ns/us parquet round-trips;
  *  - every result has a total ORDER BY for deterministic dumps.
  */
object Analytics {

  /** exact decimal sum of a double expression, emitted as double */
  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  // c1 — pricing summary: groupBy agg with map-side partials.
  // ref capability: per-layer/band statistics roll-ups (gdal.Info style).
  def q1Agg(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
    l.filter(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("sum_disc_price"),
        dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax"))).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1)).cast("double")).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1)).cast("double")).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1)).cast("double")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  val q1AggSql: String =
    """SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(18,6))) AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
       COUNT(*) AS count_order
       FROM lineitem
       WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
       GROUP BY l_returnflag, l_linestatus
       ORDER BY l_returnflag, l_linestatus"""

  // c2 — shipping-priority top-k: 3-way join, sort-limit.
  def q3Topk(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val o = Tables(spark, dir, "orders").filter(col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem").filter(col("l_shipdate") > lit("1998-01-01 00:00:00").cast("timestamp"))
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate").cast("date").as("o_orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey"))
      .limit(10)
      .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
  }

  val q3TopkSql: String =
    """SELECT l_orderkey,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
       CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority
       FROM customer, orders, lineitem
       WHERE c_mktsegment = 'BUILDING' AND c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
         AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
       ORDER BY revenue DESC, l_orderkey LIMIT 10"""

  // c3 — snowflake join with broadcast dims (region/nation/supplier are
  // tiny at any SF ⇒ explicit broadcast keeps the fact tables shuffle-free
  // on the dim side even at 100 TB).
  def q5Join(spark: SparkSession, dir: String): DataFrame = {
    val r = Tables(spark, dir, "region").filter(col("r_name") === "ASIA")
    val n = Tables(spark, dir, "nation")
    val c = Tables(spark, dir, "customer")
    val s = Tables(spark, dir, "supplier")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(c, col("o_custkey") === col("c_custkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  val q5JoinSql: String =
    """SELECT n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM customer, orders, lineitem, supplier, nation, region
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
         AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
         AND r_name = 'ASIA'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY n_name ORDER BY revenue DESC, n_name"""

  // c4 — window rank: top-3 customers by balance per nation.
  def qWindowRank(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    c.select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"),
        row_number().over(w).as("rnk"))
      .filter(col("rnk") <= 3)
      .orderBy(col("c_nationkey"), col("rnk"))
  }

  val qWindowRankSql: String =
    """SELECT c_custkey, c_nationkey, c_acctbal, CAST(rnk AS INT) AS rnk FROM (
         SELECT c_custkey, c_nationkey, c_acctbal,
                ROW_NUMBER() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey) AS rnk
         FROM customer) t
       WHERE rnk <= 3 ORDER BY c_nationkey, rnk"""

  // c5 — rollup hierarchy: region → nation customer stats.
  def qRollup(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("customers"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  val qRollupSql: String =
    """SELECT r_name, n_name, COUNT(*) AS customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
       FROM customer, nation, region
       WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
       GROUP BY ROLLUP(r_name, n_name)
       ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST"""

  // c5b — CUBE over two independent dims (all grouping sets).
  def qCube(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region")
    c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .cube(col("r_name"), col("c_mktsegment"))
      .agg(count(lit(1)).as("customers"), dsum(col("c_acctbal")).as("total_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("c_mktsegment").asc_nulls_first)
  }

  val qCubeSql: String =
    """SELECT r_name, c_mktsegment, COUNT(*) AS customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
       FROM customer, nation, region
       WHERE c_nationkey = n_nationkey AND n_regionkey = r_regionkey
       GROUP BY CUBE(r_name, c_mktsegment)
       ORDER BY r_name ASC NULLS FIRST, c_mktsegment ASC NULLS FIRST"""

  // c5c — explicit GROUPING SETS: arbitrary set lists are strictly
  // more general than rollup/cube (here: (flag,status), (flag), ()
  // but NOT (status)); Catalyst expands them into one Expand node —
  // a single scan + single agg shuffle regardless of the set count.
  // The grouping flag is expressed as IS NULL arithmetic so both
  // engines agree without relying on grouping_id() numbering.
  def qGroupingSets(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem").createOrReplaceTempView("graft_li_gs")
    spark.sql(
      """SELECT l_returnflag, l_linestatus,
           (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
            + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS gset,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM graft_li_gs
         GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
         ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""")
  }

  val qGroupingSetsSql: String =
    """SELECT l_returnflag, l_linestatus,
         (CASE WHEN l_returnflag IS NULL THEN 2 ELSE 0 END
          + CASE WHEN l_linestatus IS NULL THEN 1 ELSE 0 END) AS gset,
         COUNT(*) AS n,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
       FROM lineitem
       GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
       ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"""

  // c15 — correlated scalar subqueries: orders priced above their own
  // customer's average. Catalyst decorrelates both subqueries into
  // aggregated joins (DecorrelateInnerQuery) — no per-row re-execution
  // at any scale. "Above average" is expressed multiplication-only
  // (p·count > sum over DECIMAL) so both engines compare exact values
  // — an AVG division would put borderline rows at float mercy.
  def qScalarSubq(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "orders").createOrReplaceTempView("graft_orders_corr")
    spark.sql(
      """WITH o AS (
           SELECT o_custkey, o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p
           FROM graft_orders_corr)
         SELECT o_orderpriority, COUNT(*) AS n_above
         FROM o
         WHERE p * (SELECT COUNT(*) FROM o o2 WHERE o2.o_custkey = o.o_custkey)
             > (SELECT SUM(p) FROM o o2 WHERE o2.o_custkey = o.o_custkey)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  val qScalarSubqSql: String =
    """WITH o AS (
         SELECT o_custkey, o_orderpriority, CAST(o_totalprice AS DECIMAL(18,2)) AS p
         FROM orders)
       SELECT o_orderpriority, COUNT(*) AS n_above
       FROM o
       WHERE p * (SELECT COUNT(*) FROM o o2 WHERE o2.o_custkey = o.o_custkey)
           > (SELECT SUM(p) FROM o o2 WHERE o2.o_custkey = o.o_custkey)
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // c16 — interval/range join via bucketing: events (points in time)
  // matched to maintenance windows (intervals). A naive range join is
  // O(n·m) BroadcastNestedLoop; blocking both sides on hour buckets
  // (windows explode into the buckets they span) turns it into an
  // equi-join + cheap residual verify — the 1-D twin of the b16
  // tile-blocked spatial join. The oracle is the naive BETWEEN join.
  // Scale note: the bucket key space is O(time span / bucket width) —
  // pick the width so distinct buckets ≫ cores (finer than an hour
  // for dense corpora); AQE's skew-join split (SkewJoinSpec) is the
  // backstop for residual hot buckets.
  def qRangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir).select(unix_millis(col("ts")).as("ms"))
    val s = Tables(spark, dir, "supplier")
    // corpus start hour: one-row agg, broadcast (like the median stats)
    val bounds = e.agg(expr("(min(ms) div 3600000) * 3600000").as("t0"))
    val w = s.select(col("s_suppkey").as("w_id"))
      .crossJoin(broadcast(bounds)) // 1-row side → BroadcastNestedLoop, not a cartesian
      .select(col("w_id"),
        (col("t0") + (col("w_id") * 37 % 700) * 3600000L).as("start_ms"))
      .withColumn("end_ms", col("start_ms") + (col("w_id") % 6 + 1) * 3600000L)
    val eb = e.withColumn("bucket", expr("ms div 3600000"))
    val wb = w.withColumn("bucket",
      explode(expr("sequence(start_ms div 3600000, (end_ms - 1) div 3600000)")))
    eb.join(wb, Seq("bucket"))
      .filter(col("ms") >= col("start_ms") && col("ms") < col("end_ms"))
      .groupBy("w_id", "start_ms", "end_ms")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("w_id")
  }

  val qRangeJoinSql: String =
    """WITH e AS (SELECT epoch_ms(ts) AS ms FROM events),
      b AS (SELECT (MIN(ms) // 3600000) * 3600000 AS t0 FROM e),
      w AS (SELECT s_suppkey AS w_id,
          t0 + (s_suppkey * 37 % 700) * 3600000 AS start_ms,
          t0 + (s_suppkey * 37 % 700) * 3600000 + (s_suppkey % 6 + 1) * 3600000 AS end_ms
        FROM supplier, b)
      SELECT w_id, start_ms, end_ms, COUNT(*) AS n_events
      FROM w JOIN e ON e.ms >= w.start_ms AND e.ms < w.end_ms
      GROUP BY 1, 2, 3 ORDER BY w_id"""

  // c18 — rolling 7-day revenue via a RANGE window frame: the frame is
  // value-based (calendar days), so gap days genuinely widen it —
  // a ROWS frame would be wrong on sparse dates. Scale shape: the
  // window runs over the DAILY AGGREGATE (bounded by calendar length
  // no matter the input size), never over raw orders; revenue stays
  // DECIMAL through the rolling sum so the float cast happens once at
  // the end (order-insensitive, engine-exact).
  def qRollingRevenue(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    val daily = o
      .select(datediff(to_date(col("o_orderdate")), lit("1992-01-01")).as("day_i"),
        col("o_totalprice"))
      .groupBy("day_i")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev_dec"),
        count(lit(1)).as("n_orders"))
    val w = Window.orderBy("day_i").rangeBetween(-6, 0)
    daily
      .withColumn("rolling7_dec", sum(col("rev_dec")).over(w))
      .select(col("day_i"), col("n_orders"),
        col("rev_dec").cast("double").as("revenue"),
        col("rolling7_dec").cast("double").as("rolling7"))
      .orderBy("day_i")
  }

  val qRollingRevenueSql: String =
    """WITH daily AS (
        SELECT CAST(datediff('day', DATE '1992-01-01', CAST(o_orderdate AS DATE)) AS INT) AS day_i,
          SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS rev_dec,
          COUNT(*) AS n_orders
        FROM orders GROUP BY 1)
      SELECT day_i, n_orders,
        CAST(rev_dec AS DOUBLE) AS revenue,
        CAST(SUM(rev_dec) OVER (ORDER BY day_i RANGE BETWEEN 6 PRECEDING AND CURRENT ROW) AS DOUBLE) AS rolling7
      FROM daily ORDER BY day_i"""

  // c19 — pivot: per-user-bucket event counts pivoted into one column
  // per event type (the wide activity-matrix shape dashboards and
  // feature stores want). Explicit value list ⇒ deterministic schema
  // and a single agg pass (Catalyst plans pivot-with-values as one
  // aggregate, no second values-discovery job). Oracle mirrors with
  // conditional aggregation.
  def qPivot(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    val types = Seq("click", "view", "signup", "purchase", "error")
    e.select((col("user_id") % 100).as("user_bucket"), col("event_type"))
      .groupBy("user_bucket")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L, types)
      .orderBy("user_bucket")
  }

  val qPivotSql: String = {
    val cols = Seq("click", "view", "signup", "purchase", "error").map { t =>
      s"CAST(SUM(CASE WHEN event_type = '$t' THEN 1 ELSE 0 END) AS BIGINT) AS $t"
    }.mkString(",\n        ")
    s"""SELECT user_id % 100 AS user_bucket,
        $cols
      FROM events GROUP BY 1 ORDER BY user_bucket"""
  }

  // c20 — snapshot set difference: incremental corpus maintenance is
  // EXCEPT/INTERSECT over content keys (what's new today, what
  // persisted). exceptAll/intersectAll plan as hash anti/semi
  // aggregations — one shuffle each on the compare key, no sort.
  def qSnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables(spark, dir, "documents")
    // content key = md5 of normalized text, as in d1
    def keys(f: DataFrame => DataFrame) =
      f(d).select(md5(expr(graft.functions.TextFns.normSpark)).as("content_key"))
    val prev = keys(_.filter(col("doc_id") % 10 < 7))
    val cur = keys(_.filter(col("doc_id") % 10 >= 2))
    val added = cur.exceptAll(prev).groupBy().agg(count(lit(1)).as("n"))
      .select(lit("added").as("change"), col("n"))
    val kept = cur.intersectAll(prev).groupBy().agg(count(lit(1)).as("n"))
      .select(lit("kept").as("change"), col("n"))
    val removed = prev.exceptAll(cur).groupBy().agg(count(lit(1)).as("n"))
      .select(lit("removed").as("change"), col("n"))
    added.unionAll(kept).unionAll(removed).orderBy("change")
  }

  val qSnapshotDiffSql: String = {
    val norm = graft.functions.TextFns.normDuck
    s"""WITH prev AS (
        SELECT md5($norm) AS content_key FROM documents WHERE doc_id % 10 < 7),
      cur AS (
        SELECT md5($norm) AS content_key FROM documents WHERE doc_id % 10 >= 2)
      SELECT 'added' AS change, COUNT(*) AS n FROM (SELECT * FROM cur EXCEPT ALL SELECT * FROM prev) a
      UNION ALL
      SELECT 'kept', COUNT(*) FROM (SELECT * FROM cur INTERSECT ALL SELECT * FROM prev) k
      UNION ALL
      SELECT 'removed', COUNT(*) FROM (SELECT * FROM prev EXCEPT ALL SELECT * FROM cur) r
      ORDER BY change"""
  }

  // c6 — exists / not-exists: customers with vs without orders.
  def qSemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders").select("o_custkey")
    val withO = c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("with_orders").as("k"), col("n"))
    val withoutO = c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("without_orders").as("k"), col("n"))
    withO.unionAll(withoutO).orderBy("k")
  }

  val qSemiAntiSql: String =
    """SELECT k, n FROM (
         SELECT 'with_orders' AS k, COUNT(*) AS n FROM customer
           WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
         UNION ALL
         SELECT 'without_orders' AS k, COUNT(*) AS n FROM customer
           WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
       ) t ORDER BY k"""

  // c7 — tumbling 1h window agg over the event stream (batch analog of
  // the streaming ingest monitor; ref: pub/sub progress messages).
  def qEventsWindow(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.select(
        ((unix_millis(col("ts")) / 3600000L).cast("long") * 3600000L).as("window_start_ms"),
        col("event_type"), col("value"))
      .groupBy("window_start_ms", "event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total_value"))
      .orderBy("window_start_ms", "event_type")
  }

  val qEventsWindowSql: String =
    """SELECT (epoch_ms(ts) // 3600000) * 3600000 AS window_start_ms, event_type,
       COUNT(*) AS n, CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  // c8 — gap-based sessionization (30 min) per user: lag + running sum.
  def qSessionize(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ts_ms"))
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val flagged = e.withColumn("new_sess",
      when(col("ts_ms") - lag(col("ts_ms"), 1).over(byUser) > 1800000L, 1)
        .otherwise(0))
    val sess = flagged.withColumn("session_id",
      sum(col("new_sess")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sess.groupBy("user_id", "session_id")
      .agg(count(lit(1)).as("n_events"),
        (max(col("ts_ms")) - min(col("ts_ms"))).as("duration_ms"))
      .orderBy("user_id", "session_id")
  }

  val qSessionizeSql: String =
    """WITH e AS (
         SELECT user_id, event_id, epoch_ms(ts) AS ts_ms FROM events
       ), flagged AS (
         SELECT user_id, event_id, ts_ms,
           CASE WHEN ts_ms - LAG(ts_ms, 1) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) > 1800000
                THEN 1 ELSE 0 END AS new_sess
         FROM e
       ), sess AS (
         SELECT user_id, ts_ms,
           CAST(SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM flagged
       )
       SELECT user_id, session_id, COUNT(*) AS n_events,
              MAX(ts_ms) - MIN(ts_ms) AS duration_ms
       FROM sess GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  // c13 — order-priority check (TPC-H q4 shape): EXISTS-driven agg.
  def q4Priority(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1996-07-01 00:00:00").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
      .select("l_orderkey")
    o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))
      .orderBy("o_orderpriority")
  }

  val q4PrioritySql: String =
    """SELECT o_orderpriority, COUNT(*) AS order_count
       FROM orders
       WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
         AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // c14 — promotion revenue share (TPC-H q14 shape): conditional agg
  // over a fact⋈dim join; one double division at the end.
  def q14Promo(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-02-01 00:00:00").cast("timestamp"))
    val p = Tables(spark, dir, "part")
    l.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        (lit(100.0) * sum(when(col("p_type") === "PROMO",
            (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double")
          / sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")).cast("double"))
          .as("promo_revenue_pct"))
  }

  val q14PromoSql: String =
    """SELECT 100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
             THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
             ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
         / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
         AS promo_revenue_pct
       FROM lineitem, part
       WHERE l_partkey = p_partkey
         AND l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-02-01 00:00:00'"""

  // c9 — returned-items revenue per customer (TPC-H q10 shape):
  // fact-fact join + broadcast dim + topk.
  def q10Returns(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1997-01-01 00:00:00").cast("timestamp"))
    val l = Tables(spark, dir, "lineitem").filter(col("l_returnflag") === "R")
    val n = Tables(spark, dir, "nation")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  val q10ReturnsSql: String =
    """SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM customer, orders, lineitem, nation
       WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_returnflag = 'R' AND c_nationkey = n_nationkey
       GROUP BY c_custkey, c_name, n_name
       ORDER BY revenue DESC, c_custkey LIMIT 20"""

  // c10 — skew-safe salted join: the fact side carries a salt, the
  // (small, but imagine-skewed) dim side is exploded across all salts,
  // so one hot key spreads over 8 partitions instead of one straggler
  // task. The oracle is the UNsalted equivalent — results must agree
  // exactly, proving salting is semantics-preserving.
  def qSaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    val nSalt = 8
    val e = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), (col("event_id") % nSalt).as("salt"))
    val dim = Tables.events(spark, dir).select(col("event_type")).distinct()
      .withColumn("weight",
        when(col("event_type") === "purchase", 10).when(col("event_type") === "error", 5).otherwise(1))
      .withColumn("salt", explode(sequence(lit(0), lit(nSalt - 1))))
    e.join(dim, Seq("event_type", "salt"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("weight")).as("weighted"))
      .orderBy("event_type")
  }

  val qSaltedJoinSql: String =
    """WITH dim AS (
         SELECT DISTINCT event_type,
           CASE WHEN event_type = 'purchase' THEN 10
                WHEN event_type = 'error' THEN 5 ELSE 1 END AS weight
         FROM events)
       SELECT e.event_type, COUNT(*) AS n, CAST(SUM(d.weight) AS BIGINT) AS weighted
       FROM events e JOIN dim d ON e.event_type = d.event_type
       GROUP BY e.event_type ORDER BY e.event_type"""

  // c11 — exact per-group median via distributed selection (engine-
  // neutral, unlike percentile_approx sketches which can never
  // hash-match an oracle): average of the middle one/two order
  // statistics. Scale shape: a naive row_number window partitioned on
  // o_orderpriority (5 keys) would sort the ENTIRE table on 5
  // reducers — a straggler by construction. Instead: (0) tiny
  // per-group stats agg → median ranks k1/k2; (1) histogram counts
  // over 1024 value buckets (uniform (group,bucket) shuffle keys);
  // cumulative ranks over the ≤ groups×1024-row histogram locate the
  // target bucket(s); (2) only those buckets' rows (≈ n/1024 per
  // group) are sorted, per bucket, to pull the k1/k2 elements. The
  // oracle stays the plain rank-arithmetic SQL.
  def qMedian(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val stats = o.groupBy("o_orderpriority")
      .agg(min("o_totalprice").as("vmin"), max("o_totalprice").as("vmax"),
        count(lit(1)).as("cnt"))
      .withColumn("k1", expr("(cnt + 1) div 2"))
      .withColumn("k2", expr("(cnt + 2) div 2"))
    // bucket id is a pure map over the fact table (stats broadcast)
    val bucketed = o.join(broadcast(stats), "o_orderpriority")
      .withColumn("b", least(lit(1023),
        floor((col("o_totalprice") - col("vmin")) * 1024.0 /
          (col("vmax") - col("vmin") + lit(1e-9))).cast("int")))
    val hist = bucketed.groupBy(col("o_orderpriority"), col("b"))
      .agg(count(lit(1)).as("c"))
    // windowing over the HISTOGRAM only — bounded rows regardless of
    // input scale, so the 5-key partition is harmless here
    val wc = Window.partitionBy("o_orderpriority").orderBy("b")
    val cum = hist.withColumn("hi", sum("c").over(wc))
      .withColumn("lo", col("hi") - col("c"))
    val targets = cum.join(stats.select("o_orderpriority", "k1", "k2"), "o_orderpriority")
      .filter((col("k1") > col("lo") && col("k1") <= col("hi")) ||
        (col("k2") > col("lo") && col("k2") <= col("hi")))
      .select(col("o_orderpriority"), col("b"), col("lo"))
    val wsel = Window.partitionBy(col("o_orderpriority"), col("b"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    bucketed.join(broadcast(targets), Seq("o_orderpriority", "b"))
      .withColumn("rn", row_number().over(wsel).cast("long") + col("lo"))
      .filter(col("rn") === col("k1") || col("rn") === col("k2"))
      .groupBy("o_orderpriority")
      .agg((sum(col("o_totalprice").cast("decimal(18,6)")).cast("double") / count(lit(1)).cast("double"))
        .as("median_price"), max("cnt").as("n"))
      .orderBy("o_orderpriority")
  }

  val qMedianSql: String =
    """WITH r AS (
         SELECT o_orderpriority, o_totalprice,
           ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
           COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
         FROM orders)
       SELECT o_orderpriority,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS median_price,
         MAX(cnt) AS n
       FROM r WHERE rn = (cnt + 1) // 2 OR rn = (cnt + 2) // 2
       GROUP BY o_orderpriority ORDER BY o_orderpriority"""

  // c12 — HyperLogLog++ approximate distinct users per event type:
  // the 100 TB path for cardinality (fixed-size sketch, one pass,
  // mergeable across partitions). No oracle — sketch values are
  // engine-specific; AnalyticsSpec bounds the error vs exact instead,
  // and the exact count rides along for the driver's rows check.
  def qApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
    e.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
        countDistinct(col("user_id")).as("exact_users"))
      .orderBy("event_type")
  }

  // c17 — approx-percentile sketch: the 100 TB path for quantiles
  // (fixed-size mergeable sketch, one pass) — the scale alternative to
  // the exact-selection c11 median. No oracle (sketch values are
  // engine-specific); AnalyticsSpec bounds the error vs the exact
  // median instead, and the exact rides along for the rows check.
  def qApproxQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
    o.groupBy(col("o_orderpriority"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).as("p50_approx"),
        percentile_approx(col("o_totalprice"), lit(0.95), lit(10000)).as("p95_approx"),
        count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** c21 — as-of (backward) join: for every purchase event, the
    * latest order of the same customer at-or-before the event day —
    * the time-series join Spark has no native operator for (and the
    * shape every point-in-time feature lookup / SCD-2 read needs).
    *
    * Spark-first formulation: UNION both sides tagged, one window per
    * key ordered by (time, tag), and a last(ignoreNulls) carry-forward
    * of the order columns; event rows then hold their as-of match.
    * ONE shuffle on the join key, state = one running row per key —
    * no per-pair range explosion, no BroadcastNestedLoopJoin (which is
    * what a naive t_left >= t_right join plans), and at 100 TB the
    * window is a plain hash-partitioned sort within partitions. The
    * right side is first reduced to one order per (key, day) — argmax
    * orderkey via struct max — because as-of over duplicate timestamps
    * is otherwise nondeterministic (the oracle's ASOF JOIN has the
    * same requirement). Oracle: DuckDB's native ASOF JOIN. */
  def qAsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = asofEvents(spark, dir)
    val od = latestPerDay(asofOrders(spark, dir, "k", "t"))
    val tagged = od
      .select(col("k"), col("t"), lit(0).as("tag"),
        col("o_orderkey"), col("o_totalprice"),
        lit(null).cast("long").as("event_id"))
      .unionByName(ev.select(col("k"), col("t"), lit(1).as("tag"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"),
        col("event_id")))
    carryForward(tagged, Window.partitionBy("k"))
  }

  /** c21's probe side: purchase events as (k = user_id + 1, t = epoch
    * day, event_id). Shared by c21/c22/c24/c25. */
  private[graft] def asofEvents(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir).filter(col("event_type") === "purchase")
      .select((col("user_id") + 1).as("k"),
        expr("unix_millis(ts) div 86400000").as("t"), col("event_id"))

  /** c21's build side: orders as (`k` = customer, `t` = epoch day,
    * o_orderkey, o_totalprice). o_orderdate is TIMESTAMP_NTZ in the
    * parquet; day-granularity epoch days via DATE (TZ-free on both
    * engines). */
  private[graft] def asofOrders(spark: SparkSession, dir: String, k: String, t: String): DataFrame =
    Tables(spark, dir, "orders").select(col("o_custkey").as(k),
      unix_date(to_date(col("o_orderdate"))).cast("long").as(t),
      col("o_orderkey"), col("o_totalprice"))

  /** One order per (k, t) — argmax orderkey via struct max: as-of over
    * duplicate timestamps is otherwise nondeterministic. */
  private def latestPerDay(od: DataFrame): DataFrame =
    od.groupBy("k", "t")
      .agg(max(struct(col("o_orderkey"), col("o_totalprice"))).as("s"))
      .select(col("k"), col("t"),
        col("s.o_orderkey").as("o_orderkey"), col("s.o_totalprice").as("o_totalprice"))

  /** The window formulation's tail (c21, c24): over the tagged union
    * (orders tag 0, events tag 1), carry the latest order forward in
    * each `partition` ordered by (t, tag), and keep the matched event
    * rows. */
  private def carryForward(tagged: DataFrame, partition: WindowSpec): DataFrame = {
    val w = partition.orderBy(col("t"), col("tag"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("o_key", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("o_day", last(when(col("tag") === 0, col("t")), ignoreNulls = true).over(w))
      .withColumn("o_price", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("tag") === 1 && col("o_key").isNotNull)
      .select(col("event_id"), col("k"), col("t").as("event_day"),
        col("o_day").as("order_day"), col("o_key").as("o_orderkey"),
        col("o_price").as("o_totalprice"))
      .orderBy("event_id")
  }

  val qAsofJoinSql: String =
    """WITH ev AS (
        SELECT user_id + 1 AS k, epoch_ms(ts) // 86400000 AS t, event_id
        FROM events WHERE event_type = 'purchase'),
      o1 AS (
        SELECT o_custkey AS k,
          CAST(date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS t,
          o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
          ROW_NUMBER() OVER (PARTITION BY o_custkey, CAST(o_orderdate AS DATE)
            ORDER BY o_orderkey DESC) AS rn
        FROM orders),
      od AS (SELECT k, t, o_orderkey, o_totalprice FROM o1 WHERE rn = 1)
      SELECT event_id, ev.k, ev.t AS event_day, od.t AS order_day,
        od.o_orderkey, od.o_totalprice
      FROM ev ASOF JOIN od ON ev.k = od.k AND ev.t >= od.t
      ORDER BY event_id"""

  /** c24 — SKEW-RESILIENT as-of join: the salting story c21/c22 lack.
    * Both window (c21) and zipper (c22) formulations cluster a key's
    * whole history into ONE task — a hot key (one user with millions
    * of events) becomes an unsplittable straggler at 100 TB. This
    * variant salts the time axis instead of the key: rows group by
    * (key, time-bucket), so a hot key's timeline splits across
    * #buckets parallel tasks, and correctness across bucket
    * boundaries is restored by a per-bucket CARRY-IN row — the latest
    * order at-or-before the bucket start — computed with two window
    * passes over the PER-BUCKET summary table (one row per active
    * (key, bucket): thousands of rows where the raw data has
    * billions, so the unsalted window there is free). Bucket width =
    * the salt granularity: smaller buckets = more parallelism + more
    * carry rows. Semantics and oracle are exactly c21's. */
  def qAsofSalted(spark: SparkSession, dir: String): DataFrame = {
    // precondition: t >= 0 (`div` truncates toward zero, so negative
    // epoch days — pre-1970 timestamps — would fold days -15..15 into
    // one bucket and break the carry-in "t < bucket start" invariant;
    // the TPC-H-era testdata and any post-1970 feed satisfy this)
    val bucketDays = 16L
    val ev = asofEvents(spark, dir).withColumn("bkt", expr(s"t div $bucketDays"))
    // same per-(key, day) determinism dedup as c21
    val od = latestPerDay(asofOrders(spark, dir, "k", "t"))
      .withColumn("bkt", expr(s"t div $bucketDays"))
    // latest order per active (key, bucket) — the ONLY data the
    // cross-bucket pass touches
    val lastInBkt = od.groupBy("k", "bkt")
      .agg(max(struct(col("t"), col("o_orderkey"), col("o_totalprice"))).as("s"))
    // carry-in for every bucket either side touches: running last
    // order over the bucket sequence, shifted one bucket forward
    val bkts = ev.select("k", "bkt").union(od.select("k", "bkt")).distinct()
    val wb = Window.partitionBy("k").orderBy("bkt")
    val carry = bkts.join(lastInBkt, Seq("k", "bkt"), "left")
      .withColumn("run", last(col("s"), ignoreNulls = true)
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cin", lag(col("run"), 1).over(wb))
      .filter(col("cin").isNotNull)
      .select(col("k"), col("bkt"), col("cin.t").as("t"),
        col("cin.o_orderkey").as("o_orderkey"),
        col("cin.o_totalprice").as("o_totalprice"))
    // carry rows sort before every in-bucket row by construction
    // (their t < bucket start); the big pass groups by (k, bkt)
    val tagged = od.select(col("k"), col("bkt"), col("t"), lit(0).as("tag"),
        col("o_orderkey"), col("o_totalprice"), lit(null).cast("long").as("event_id"))
      .unionByName(carry.select(col("k"), col("bkt"), col("t"), lit(0).as("tag"),
        col("o_orderkey"), col("o_totalprice"), lit(null).cast("long").as("event_id")))
      .unionByName(ev.select(col("k"), col("bkt"), col("t"), lit(1).as("tag"),
        lit(null).cast("long").as("o_orderkey"),
        lit(null).cast("double").as("o_totalprice"), col("event_id")))
    carryForward(tagged, Window.partitionBy("k", "bkt"))
  }

  /** c26 — large-volume orders (TPC-H q18 shape): the agg-filter-
    * then-rejoin pattern. One aggregation over the fact finds order
    * keys whose total quantity clears a threshold (shuffle on
    * l_orderkey with map-side partials); the surviving key set is
    * ORDERS-OF-MAGNITUDE smaller than the fact, so both rejoin edges
    * (orders for the header, lineitem re-agg for the display sum)
    * hang off that small set, and the final top-100 is a sort-limit
    * over the filtered join — never over the fact. Quantity sums go
    * through decimal (dsum) so HAVING and display agree exactly with
    * the oracle regardless of partitioning. */
  def q18BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_name")
    val o = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val l = Tables(spark, dir, "lineitem").select("l_orderkey", "l_quantity")
    val big = l.groupBy("l_orderkey").agg(dsum(col("l_quantity")).as("sum_qty"))
      .filter(col("sum_qty") > 150.0)
    o.join(big, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(c), col("c_custkey") === col("o_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"), col("sum_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  val q18BigOrdersSql: String =
    """WITH big AS (
         SELECT l_orderkey,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
         FROM lineitem GROUP BY l_orderkey
         HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) > 150.0)
       SELECT c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice, sum_qty
       FROM big JOIN orders ON o_orderkey = l_orderkey
         JOIN customer ON c_custkey = o_custkey
       ORDER BY o_totalprice DESC, o_orderkey LIMIT 100"""

  /** c27 — waiting-supplier stragglers (TPC-H q21 shape, adapted to
    * this schema's columns: lateness = shipped > 90 days after the
    * order date, straggler = latest l_shipdate in the order): for
    * each late line of a finished order, EXISTS another supplier in
    * the same order AND NOT EXISTS another supplier who shipped
    * later — the double-correlated semi+anti pattern on the SAME
    * fact, the hardest decorrelation shape in the TPC-H suite. Plan:
    * both the semi and the anti side are the lineitem projection
    * re-read and joined on l_orderkey (co-partitioned shuffles, no
    * broadcast of the fact); the supplier name attaches by broadcast
    * at the end, after the per-supplier count has already collapsed
    * the volume. */
  def q21Waiting(spark: SparkSession, dir: String): DataFrame = {
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_name")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val l = Tables(spark, dir, "lineitem")
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val l1 = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .filter(col("l_shipdate") > date_add(col("o_orderdate"), 90))
      .select("l_orderkey", "l_suppkey", "l_shipdate")
    val l2 = l.select(col("l_orderkey").as("k2"), col("l_suppkey").as("sk2"))
    val l3 = l.select(col("l_orderkey").as("k3"), col("l_suppkey").as("sk3"),
      col("l_shipdate").as("sd3"))
    l1.join(l2, col("l_orderkey") === col("k2") && col("l_suppkey") =!= col("sk2"), "left_semi")
      .join(l3, col("l_orderkey") === col("k3") && col("l_suppkey") =!= col("sk3") &&
        col("sd3") > col("l_shipdate"), "left_anti")
      .groupBy("l_suppkey")
      .agg(count(lit(1)).as("numwait"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  val q21WaitingSql: String =
    """WITH l1 AS (
         SELECT l_orderkey, l_suppkey, l_shipdate
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderstatus = 'F' AND l_shipdate > o_orderdate + INTERVAL 90 DAY)
       SELECT s_suppkey, s_name, CAST(COUNT(*) AS BIGINT) AS numwait
       FROM l1 JOIN supplier ON s_suppkey = l1.l_suppkey
       WHERE EXISTS (
           SELECT 1 FROM lineitem l2
           WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey)
         AND NOT EXISTS (
           SELECT 1 FROM lineitem l3
           WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
             AND l3.l_shipdate > l1.l_shipdate)
       GROUP BY s_suppkey, s_name
       ORDER BY numwait DESC, s_name LIMIT 20"""

  // c28 — top revenue supplier (TPC-H q15 shape): revenue view (one
  // agg over the filtered fact), global max of the view (one row,
  // broadcast), equality join back to the view, dim attach. Distinct
  // plan: "scalar agg over an agg view" — two aggregations and a
  // 1-row broadcast join, no window over the whole view, one scan of
  // the fact. The view is bounded by supplier cardinality, so the
  // max + rejoin cost is independent of fact size; the revenue
  // comparison happens on the exact decimal sums (cast to double only
  // in the output) so max-equality cannot drift.
  def q15TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1996-04-01 00:00:00").cast("timestamp"))
    val rev = l.groupBy("l_suppkey")
      .agg(sum((col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)"))
        .as("total_rev"))
    val top = rev.agg(max(col("total_rev")).as("max_rev"))
    val s = Tables(spark, dir, "supplier")
    rev.join(broadcast(top), col("total_rev") === col("max_rev"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_revenue"))
      .orderBy("s_suppkey")
  }

  val q15TopSupplierSql: String =
    """WITH rev AS (
         SELECT l_suppkey,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_rev
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
           AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
         GROUP BY l_suppkey)
       SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
       FROM rev JOIN supplier ON l_suppkey = s_suppkey
       WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
       ORDER BY s_suppkey"""

  // c29 — dormant high-balance customers (TPC-H q22 shape): a global
  // scalar threshold (positive-balance average over the nation
  // subset) gates the fact, then an ANTI join on a filtered orders
  // subset finds customers with money but no urgent orders. The
  // threshold compare cross-multiplies (bal * n_pos > sum_pos, the
  // c15 trick) so no division touches the predicate — exact decimals
  // end to end, and the 1-row threshold broadcasts. The anti side
  // filters BEFORE the join, so the semi-join state is the urgent
  // subset, not the whole orders table.
  def q22NoOrders(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer")
      .filter(col("c_nationkey") % 2 === 1)
      .select(col("c_custkey"), col("c_nationkey"),
        col("c_acctbal").cast("decimal(18,2)").as("bal"))
    val thr = c.filter(col("bal") > 0)
      .agg(count(lit(1)).as("n_pos"), sum(col("bal")).as("sum_pos"))
    val urgent = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") === "1-URGENT")
      .select("o_custkey")
    c.crossJoin(broadcast(thr))
      .filter(col("bal") * col("n_pos") > col("sum_pos"))
      .join(urgent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"),
        sum(col("bal")).cast("double").as("totacctbal"))
      .orderBy("c_nationkey")
  }

  val q22NoOrdersSql: String =
    """WITH c AS (SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,2)) AS bal
         FROM customer WHERE c_nationkey % 2 = 1),
       thr AS (SELECT COUNT(*) AS n_pos, SUM(bal) AS sum_pos FROM c WHERE bal > 0)
       SELECT c_nationkey, COUNT(*) AS numcust, CAST(SUM(bal) AS DOUBLE) AS totacctbal
       FROM c, thr
       WHERE bal * n_pos > sum_pos
         AND NOT EXISTS (SELECT 1 FROM orders o
                         WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
       GROUP BY c_nationkey ORDER BY c_nationkey"""

  val registry: Seq[Query] = Seq(
    Query("q22_no_orders", q22NoOrders, Oracle(q22NoOrdersSql)),
    Query("q15_top_supplier", q15TopSupplier, Oracle(q15TopSupplierSql)),
    Query("q18_big_orders", q18BigOrders, Oracle(q18BigOrdersSql)),
    Query("q21_waiting", q21Waiting, Oracle(q21WaitingSql)),
    Query("q_asof_join", qAsofJoin, Oracle(qAsofJoinSql)),
    // identical result contract to c21 ⇒ identical oracle
    Query("q_asof_salted", qAsofSalted, Oracle(qAsofJoinSql)),
    Query("q_approx_quantiles", qApproxQuantiles, RowsOnly("OperatorsSpec")),
    Query("q_approx_distinct", qApproxDistinct, RowsOnly("OperatorsSpec")),
    Query("q_median", qMedian, Oracle(qMedianSql)),
    Query("q10_returns", q10Returns, Oracle(q10ReturnsSql)),
    Query("q4_priority", q4Priority, Oracle(q4PrioritySql)),
    Query("q14_promo", q14Promo, Oracle(q14PromoSql)),
    Query("q_salted_join", qSaltedJoin, Oracle(qSaltedJoinSql)),
    Query("q1_agg", q1Agg, Oracle(q1AggSql)),
    Query("q3_topk", q3Topk, Oracle(q3TopkSql)),
    Query("q5_join", q5Join, Oracle(q5JoinSql)),
    Query("q_window_rank", qWindowRank, Oracle(qWindowRankSql)),
    Query("q_rollup", qRollup, Oracle(qRollupSql)),
    Query("q_cube", qCube, Oracle(qCubeSql)),
    Query("q_grouping_sets", qGroupingSets, Oracle(qGroupingSetsSql)),
    Query("q_scalar_subq", qScalarSubq, Oracle(qScalarSubqSql)),
    Query("q_range_join", qRangeJoin, Oracle(qRangeJoinSql)),
    Query("q_rolling_revenue", qRollingRevenue, Oracle(qRollingRevenueSql)),
    Query("q_pivot", qPivot, Oracle(qPivotSql)),
    Query("q_snapshot_diff", qSnapshotDiff, Oracle(qSnapshotDiffSql)),
    Query("q_semi_anti", qSemiAnti, Oracle(qSemiAntiSql)),
    Query("q_events_window", qEventsWindow, Oracle(qEventsWindowSql)),
    Query("q_sessionize", qSessionize, Oracle(qSessionizeSql)))
}
