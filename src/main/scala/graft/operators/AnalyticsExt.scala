package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Oracle, Query, Tables}

/** §2 C (continued) — the remaining classic TPC-H shapes (c30-c37),
  * adapted to the driver schema (no partsupp table, no
  * shipmode/receiptdate columns — filters re-target the columns the
  * data has; the PLAN shape each query exists to exercise is
  * unchanged). Same oracle-compat rules as Analytics.scala: exact
  * decimals for money, one final IEEE division at most, total ORDER
  * BY, no raw timestamps out.
  *
  * ref capability: these complete the relational substrate
  * (UNDP-Data/geohub-data-pipeline's joins/state queries are simple;
  * C exists so the engine is a general analytics substrate at 100 TB).
  */
object AnalyticsExt {

  private def dsum(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")

  // c30 — small-quantity-order revenue (TPC-H q17 shape): a fact
  // correlated with ITS OWN per-group aggregate. Distinct plan: the
  // filtered fact is scanned once into a per-part agg (map-side
  // partials), then joined back to itself on partkey — AQE reuses the
  // partkey shuffle on both sides, and the broadcast part filter
  // prunes BEFORE either. The 0.2*avg predicate is cross-multiplied
  // (qty*5*cnt < sum — exact decimals, no division in the predicate);
  // the single division happens once, on the final 1-row result.
  // At 100 TB: per-part agg is bounded by |part|, both join inputs
  // hash-partition on l_partkey, nothing driver-side.
  def q17SmallQty(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_brand") === "Brand#23" && col("p_type") === "SMALL")
      .select("p_partkey")
    val lp = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
    val st = lp.groupBy("l_partkey")
      .agg(sum(col("l_quantity").cast("decimal(18,6)")).as("sum_qty"),
        count(lit(1)).as("cnt"))
    lp.join(st, "l_partkey")
      .filter(col("l_quantity").cast("decimal(18,6)") * 5 * col("cnt") < col("sum_qty"))
      .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
  }

  val q17SmallQtySql: String =
    """WITH lp AS (SELECT l_partkey, l_quantity, l_extendedprice
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_brand = 'Brand#23' AND p_type = 'SMALL'),
       st AS (SELECT l_partkey, SUM(CAST(l_quantity AS DECIMAL(18,6))) AS sum_qty, COUNT(*) AS cnt
         FROM lp GROUP BY l_partkey)
       SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0 AS avg_yearly
       FROM lp JOIN st USING (l_partkey)
       WHERE CAST(l_quantity AS DECIMAL(18,6)) * 5 * cnt < sum_qty"""

  // c31 — customer order-count distribution (TPC-H q13 shape): LEFT
  // OUTER join so no-order customers survive as c_count = 0, then a
  // second aggregation over the first's output. Distinct capability:
  // outer-join null semantics under COUNT(col) + double aggregation.
  // The join predicate carries the non-key filter (priority <>
  // URGENT) INSIDE the outer join — pushing it below would turn
  // "customer with only urgent orders" into a lost row instead of 0.
  // At 100 TB: shuffle on custkey (both sides), second agg is over
  // |distinct counts| ≈ tiny.
  def q13CustDist(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables(spark, dir, "customer").select("c_custkey")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .select("o_custkey", "o_orderkey")
    c.join(o, col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  val q13CustDistSql: String =
    """SELECT c_count, COUNT(*) AS custdist FROM (
         SELECT c_custkey, COUNT(o_orderkey) AS c_count
         FROM customer LEFT OUTER JOIN orders
           ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
         GROUP BY c_custkey)
       GROUP BY c_count ORDER BY custdist DESC, c_count DESC"""

  // c32 — bilateral trade volume (TPC-H q7 shape): the SAME dimension
  // joined twice in two roles (supplier's nation, customer's nation)
  // with a directional pair predicate. Distinct capability: dim
  // self-aliasing — two independent broadcasts of nation, and the
  // OR-of-pairs filter evaluated across both aliases post-join.
  // At 100 TB: nation/supplier broadcast, the only shuffles are the
  // two fact joins (orderkey, custkey) and the final tiny agg.
  def q7Volume(spark: SparkSession, dir: String): DataFrame = {
    val sn = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val cn = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
    val l = Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_custkey")
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    l.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .filter((col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("int").as("l_year"))
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }

  val q7VolumeSql: String =
    """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
       CAST(YEAR(l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM lineitem, orders, customer, supplier, nation sn, nation cn
       WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey AND l_suppkey = s_suppkey
         AND s_nationkey = sn.n_nationkey AND c_nationkey = cn.n_nationkey
         AND ((sn.n_name = 'NATION_3' AND cn.n_name = 'NATION_7')
           OR (sn.n_name = 'NATION_7' AND cn.n_name = 'NATION_3'))
         AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"""

  // c33 — market share (TPC-H q8 shape): numerator-as-conditional-agg
  // over the SAME grouped rows as the denominator — one pass, one
  // shuffle, the share = (CASE-sum)/(sum) with both sides exact
  // decimals and exactly one IEEE division per output row. Distinct
  // capability: conditional aggregation keyed by a dim attribute
  // (supplier nation) that is NOT in the GROUP BY.
  // At 100 TB: every dim broadcasts; the two fact joins are the only
  // shuffles; numerator adds zero extra passes.
  def q8MktShare(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").filter(col("p_type") === "PROMO").select("p_partkey")
    val o = Tables(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("o_orderdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select("o_orderkey", "o_custkey", "o_orderdate")
    val c = Tables(spark, dir, "customer").select("c_custkey", "c_nationkey")
    val cn = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("cn_key"), col("n_regionkey"))
    val r = Tables(spark, dir, "region").filter(col("r_name") === "ASIA").select("r_regionkey")
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val sn = Tables(spark, dir, "nation")
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
    val vol = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)")
    Tables(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(broadcast(cn), col("c_nationkey") === col("cn_key"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(sn), col("s_nationkey") === col("sn_key"))
      .groupBy(year(col("o_orderdate")).cast("int").as("o_year"))
      .agg((sum(when(col("supp_nation") === "NATION_3", vol)
          .otherwise(lit(0).cast("decimal(18,6)"))).cast("double") /
        sum(vol).cast("double")).as("mkt_share"))
      .orderBy("o_year")
  }

  val q8MktShareSql: String =
    """SELECT CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
           THEN CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
           ELSE CAST(0 AS DECIMAL(18,6)) END) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS mkt_share
       FROM lineitem, part, orders, customer, nation cn, region, supplier, nation sn
       WHERE l_partkey = p_partkey AND l_orderkey = o_orderkey AND o_custkey = c_custkey
         AND c_nationkey = cn.n_nationkey AND cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
         AND l_suppkey = s_suppkey AND s_nationkey = sn.n_nationkey
         AND p_type = 'PROMO'
         AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY 1 ORDER BY 1"""

  // c34 — disjunctive-predicate join (TPC-H q19 shape): the join
  // condition is an OR of conjunctions mixing BOTH sides' columns —
  // Catalyst keeps the equi-key (partkey) as the hash join key,
  // derives the part-only disjunction (brand/size) as a pushable
  // scan filter on the broadcast side, and evaluates the mixed
  // residual post-join. Distinct capability: predicate decomposition
  // of OR-of-ANDs (the case where naive pushdown is impossible but
  // per-side weakening is).
  def q19Disjunctive(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").select("p_partkey", "p_brand", "p_size")
    val l = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val cond = col("l_partkey") === col("p_partkey") && (
      (col("p_brand") === "Brand#12" && col("p_size").between(1, 15) && col("l_quantity").between(1, 11)) ||
      (col("p_brand") === "Brand#23" && col("p_size").between(1, 25) && col("l_quantity").between(10, 20)) ||
      (col("p_brand") === "Brand#5" && col("p_size").between(1, 35) && col("l_quantity").between(20, 30)))
    l.join(broadcast(p), cond)
      .agg(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
  }

  val q19DisjunctiveSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM lineitem, part
       WHERE p_partkey = l_partkey AND (
         (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 11)
         OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25 AND l_quantity BETWEEN 10 AND 20)
         OR (p_brand = 'Brand#5' AND p_size BETWEEN 1 AND 35 AND l_quantity BETWEEN 20 AND 30))"""

  // c35 — min-cost supplier per part (TPC-H q2 shape): the argmin
  // pattern — per-group MIN computed once, then an equality re-join
  // on (group, min-value) recovers the full argmin rows, ties
  // included, with DISTINCT collapsing multi-lineitem ties. The
  // min-compare happens on exact decimals so "equals the min" cannot
  // drift. Distinct capability: correlated-min decorrelated into
  // agg + rejoin (what Catalyst does to q2's subquery), bounded
  // output via TakeOrderedAndProject.
  // At 100 TB: candidate set pre-pruned by broadcast dims (size,
  // region), both agg and rejoin shuffle on partkey, output top-100.
  def q2MinCost(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part").filter(col("p_size") === 15).select("p_partkey")
    val s = Tables(spark, dir, "supplier")
    val n = Tables(spark, dir, "nation")
    val r = Tables(spark, dir, "region").filter(col("r_name") === "EUROPE")
    val cand = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("l_partkey"), col("l_suppkey"),
        col("l_extendedprice").cast("decimal(18,6)").as("cost"),
        col("s_name"), col("n_name"), col("s_acctbal"))
    val mn = cand.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("cost")).as("min_cost"))
    cand.join(mn, col("l_partkey") === col("m_partkey") && col("cost") === col("min_cost"))
      .select(col("l_partkey").as("p_partkey"), col("min_cost").cast("double").as("min_cost"),
        col("l_suppkey").as("s_suppkey"), col("s_name"), col("n_name"), col("s_acctbal"))
      .distinct()
      .orderBy(col("s_acctbal").desc, col("p_partkey"), col("s_suppkey"))
      .limit(100)
  }

  val q2MinCostSql: String =
    """WITH cand AS (
         SELECT l_partkey, l_suppkey, CAST(l_extendedprice AS DECIMAL(18,6)) AS cost,
                s_name, n_name, s_acctbal
         FROM lineitem JOIN part ON p_partkey = l_partkey
           JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON s_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey
         WHERE p_size = 15 AND r_name = 'EUROPE'),
       mn AS (SELECT l_partkey AS m_partkey, MIN(cost) AS min_cost FROM cand GROUP BY l_partkey)
       SELECT DISTINCT l_partkey AS p_partkey, CAST(min_cost AS DOUBLE) AS min_cost,
              l_suppkey AS s_suppkey, s_name, n_name, s_acctbal
       FROM cand JOIN mn ON l_partkey = m_partkey AND cost = min_cost
       ORDER BY s_acctbal DESC, p_partkey, s_suppkey LIMIT 100"""

  // c36 — ranking-window suite: NTILE / PERCENT_RANK / CUME_DIST /
  // LAG in one window. All four are deterministic here because the
  // ORDER BY is a total order (acctbal desc, custkey): percent_rank
  // = (rank-1)/(n-1) and cume_dist = peers/n are single IEEE
  // divisions of integers — identical across engines. Distinct
  // capability: the ranking-family window functions beyond c4's
  // rank(), incl. LAG's null-on-first-row semantics.
  // At 100 TB: one shuffle on the partition key, no driver state.
  def qWindowSuite(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("c_nationkey"))
      .orderBy(col("c_acctbal").desc, col("c_custkey"))
    Tables(spark, dir, "customer")
      .select(col("c_custkey"), col("c_nationkey"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        lag(col("c_acctbal"), 1).over(w).as("prev_bal"))
      .orderBy("c_nationkey", "c_custkey")
  }

  val qWindowSuiteSql: String =
    """SELECT c_custkey, c_nationkey,
       NTILE(4) OVER w AS quartile,
       PERCENT_RANK() OVER w AS pr,
       CUME_DIST() OVER w AS cd,
       LAG(c_acctbal) OVER w AS prev_bal
       FROM customer
       WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey)
       ORDER BY c_nationkey, c_custkey"""

  // c37 — multi-distinct aggregation: three COUNT(DISTINCT ...) over
  // DIFFERENT key sets plus plain aggs in ONE groupBy — Catalyst
  // plans this with a single Expand (one row per distinct-group per
  // input row) and a two-phase agg, NOT three separate scans.
  // Distinct capability: the Expand-based multi-distinct strategy,
  // incl. a composite (partkey, suppkey) distinct tuple.
  // At 100 TB: one scan; Expand multiplies rows 4x into the shuffle,
  // the partial agg collapses them before the exchange.
  def qMultiDistinct(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(countDistinct(col("l_partkey")).as("nd_parts"),
        countDistinct(col("l_suppkey")).as("nd_supps"),
        countDistinct(col("l_partkey"), col("l_suppkey")).as("nd_pairs"),
        count(lit(1)).as("n"),
        dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  val qMultiDistinctSql: String =
    """SELECT l_returnflag,
       COUNT(DISTINCT l_partkey) AS nd_parts,
       COUNT(DISTINCT l_suppkey) AS nd_supps,
       COUNT(DISTINCT (l_partkey, l_suppkey)) AS nd_pairs,
       COUNT(*) AS n,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_qty
       FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""

  // c38 — forecast-revenue change (TPC-H q6): the degenerate-but-
  // load-bearing shape — NO join, NO groupBy key, just a four-way
  // conjunctive filter and one global sum. Its whole point is scan
  // efficiency: every predicate is scan-pushable (PushedFilters
  // carries shipdate range + discount range + quantity bound,
  // plan-asserted), the projection reads exactly two data columns,
  // and the agg is a map-side partial + 1-row final — zero shuffle
  // of data rows. At 100 TB this is the query that proves the
  // engine reads only what the parquet row-group stats can't
  // exclude.
  def q6Forecast(spark: SparkSession, dir: String): DataFrame = {
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"))
  }

  val q6ForecastSql: String =
    """SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       FROM lineitem
       WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
         AND l_discount >= 0.05 AND l_discount <= 0.07 AND l_quantity < 24"""

  // c39 — product-type profit (TPC-H q9 shape): the widest join tree
  // in the suite — fact joins FOUR dims plus a second fact (orders),
  // with a non-sargable LIKE filter on the part name deciding the
  // candidate set. No partsupp table, so supply cost is modeled as
  // p_retailprice·quantity (the PLAN — like-filtered broadcast prune
  // first, then dim broadcasts, then the one orderkey shuffle join —
  // is q9's). Profit = exact-decimal revenue minus exact-decimal
  // cost per row, summed per (nation, year). At 100 TB: part/
  // supplier/nation broadcast, lineitem⋈orders is the only exchange,
  // output bounded by |nation|·|years|.
  def q9Profit(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .filter(col("p_name").like("%gear%"))
      .select("p_partkey", "p_retailprice")
    val s = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
    val n = Tables(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name").as("nation"))
    val o = Tables(spark, dir, "orders").select("o_orderkey", "o_orderdate")
    val amount = (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(18,6)") -
      (col("p_retailprice") * col("l_quantity")).cast("decimal(18,6)")
    Tables(spark, dir, "lineitem")
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("nation"), year(col("o_orderdate")).cast("int").as("o_year"))
      .agg(sum(amount).cast("double").as("sum_profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  val q9ProfitSql: String =
    """SELECT n_name AS nation, CAST(YEAR(o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))
              - CAST(p_retailprice * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sum_profit
       FROM lineitem, part, supplier, nation, orders
       WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
         AND n_nationkey = s_nationkey AND o_orderkey = l_orderkey
         AND p_name LIKE '%gear%'
       GROUP BY 1, 2 ORDER BY 1, 2 DESC"""

  // c40 — priority shipping split (TPC-H q12 shape): fact⋈fact join
  // followed by TWO complementary conditional integer counts in one
  // agg — the "CASE WHEN ... THEN 1 ELSE 0" pair over a joined
  // attribute (order priority) grouped by a fact attribute
  // (linestatus, standing in for the schema's missing shipmode).
  // Distinct capability vs c14/c33: the conditional agg is on the
  // JOINED side's attribute while grouping on the FACT side's, and
  // both branches are integer counts (no decimal path at all).
  // At 100 TB: one orderkey shuffle, date filter pushed to the fact
  // scan, output = |linestatus| rows.
  def q12Priority(spark: SparkSession, dir: String): DataFrame = {
    val high = col("o_orderpriority") === "1-URGENT" || col("o_orderpriority") === "2-HIGH"
    Tables(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp"))
      .select("l_orderkey", "l_linestatus")
      .join(Tables(spark, dir, "orders").select("o_orderkey", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_linestatus")
      .agg(sum(when(high, 1L).otherwise(0L)).as("high_line_count"),
        sum(when(high, 0L).otherwise(1L)).as("low_line_count"))
      .orderBy("l_linestatus")
  }

  val q12PrioritySql: String =
    """SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
       FROM lineitem JOIN orders ON o_orderkey = l_orderkey
       WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
         AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
       GROUP BY 1 ORDER BY 1"""

  // c41 — important stock share (TPC-H q11 shape): a grouped value
  // agg filtered by a FRACTION OF ITS OWN GLOBAL TOTAL — the
  // agg-then-scalar-threshold shape. The per-part value agg is
  // computed once; the global total is a second agg OVER THE SAME
  // shuffled branch (AQE reuses the partkey exchange, c28's
  // pattern), broadcast back as one row; the threshold compare is
  // cross-multiplied on exact decimals (val·500 > tot — no
  // division anywhere). At 100 TB: one partkey shuffle + a 1-row
  // broadcast; the nation prune broadcasts before the fact scan agg.
  def q11TopStock(spark: SparkSession, dir: String): DataFrame = {
    val sn = Tables(spark, dir, "supplier").select("s_suppkey", "s_nationkey")
      .join(broadcast(Tables(spark, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey")
    val v = Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey", "l_extendedprice")
      .join(broadcast(sn), col("l_suppkey") === col("s_suppkey"))
      .groupBy("l_partkey")
      .agg(sum(col("l_extendedprice").cast("decimal(18,6)")).as("val"))
    val tot = v.agg(sum(col("val")).as("tot"))
    v.join(broadcast(tot))
      .filter(col("val") * 500 > col("tot"))
      .select(col("l_partkey"), col("val").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  val q11TopStockSql: String =
    """WITH v AS (
         SELECT l_partkey, SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS val
         FROM lineitem JOIN supplier ON s_suppkey = l_suppkey
           JOIN nation ON n_nationkey = s_nationkey
         WHERE n_name = 'NATION_3' GROUP BY l_partkey),
       t AS (SELECT SUM(val) AS tot FROM v)
       SELECT l_partkey, CAST(val AS DOUBLE) AS part_value
       FROM v, t WHERE val * 500 > tot
       ORDER BY part_value DESC, l_partkey"""

  // c42 — supplier-relationship count (TPC-H q16 shape): COUNT
  // (DISTINCT supplier) per part attribute triple, with a NOT-IN
  // supplier exclusion list. The exclusion NOT IN becomes a
  // broadcast LeftAnti BEFORE the distinct agg (so excluded
  // suppliers never enter the shuffle); the part attribute filter
  // (brand ≠, type ≠, size IN) rides the broadcast dim. The schema
  // has no partsupp, so lineitem's (partkey, suppkey) edges are the
  // relationship table — DISTINCT inside the agg collapses the
  // multi-lineitem multiplicity exactly as q16's partsupp PK would.
  // At 100 TB: one shuffle keyed by the attribute triple, Expand-
  // free single distinct, anti side broadcast.
  def q16SupplierCnt(spark: SparkSession, dir: String): DataFrame = {
    val excl = Tables(spark, dir, "supplier")
      .filter(col("s_acctbal") < 0).select("s_suppkey")
    val pp = Tables(spark, dir, "part")
      .filter(col("p_brand") =!= "Brand#1" && col("p_type") =!= "PROMO" &&
        col("p_size").isin(1, 4, 9, 16, 25, 36, 49))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    Tables(spark, dir, "lineitem")
      .select("l_partkey", "l_suppkey")
      .join(broadcast(pp), col("l_partkey") === col("p_partkey"))
      .join(broadcast(excl), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"), col("p_size"))
  }

  val q16SupplierCntSql: String =
    """SELECT p_brand, p_type, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
       FROM lineitem JOIN part ON p_partkey = l_partkey
       WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
         AND p_size IN (1, 4, 9, 16, 25, 36, 49)
         AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
       GROUP BY 1, 2, 3 ORDER BY 4 DESC, 1, 2, 3"""

  // c43 — promotion-eligible suppliers (TPC-H q20 shape): the
  // doubly-nested correlated subquery — "suppliers whose recent
  // shipped quantity of gear parts exceeds half their all-time
  // quantity" — decorrelated Spark-first: BOTH the recent and the
  // all-time per-(part, supplier) sums come out of ONE conditional
  // agg over ONE fact scan (sum(when(recent, qty)) next to
  // sum(qty) — q20's two correlated aggs, zero extra passes), the
  // threshold is cross-multiplied on exact decimals (q97·5 > qall,
  // i.e. recent > 20% of all-time; groups with no recent rows sum
  // to NULL and correctly fail), the gear-part prune broadcasts, and
  // the surviving supplier keys reach the nation-filtered supplier
  // dim as a LeftSemi. At 100 TB: one (partkey, suppkey) shuffle,
  // everything after it is broadcast-sized.
  def q20PromoSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val recent = col("l_shipdate") >= lit("1997-01-01 00:00:00").cast("timestamp") &&
      col("l_shipdate") < lit("1998-01-01 00:00:00").cast("timestamp")
    val gear = Tables(spark, dir, "part")
      .filter(col("p_name").like("%gear%")).select("p_partkey")
    val cand = Tables(spark, dir, "lineitem")
      .join(broadcast(gear), col("l_partkey") === col("p_partkey"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(sum(when(recent, col("l_quantity").cast("decimal(18,6)"))).as("q97"),
        sum(col("l_quantity").cast("decimal(18,6)")).as("qall"))
      .filter(col("q97") * 5 > col("qall"))
      .select("l_suppkey")
    Tables(spark, dir, "supplier")
      .join(broadcast(Tables(spark, dir, "nation").filter(col("n_name") === "NATION_3")),
        col("s_nationkey") === col("n_nationkey"))
      .join(cand, col("s_suppkey") === col("l_suppkey"), "left_semi")
      .select("s_suppkey", "s_name")
      .orderBy("s_name")
  }

  val q20PromoSuppliersSql: String =
    """WITH pq AS (
         SELECT l_partkey, l_suppkey,
           SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                     AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
                    THEN CAST(l_quantity AS DECIMAL(18,6)) END) AS q97,
           SUM(CAST(l_quantity AS DECIMAL(18,6))) AS qall
         FROM lineitem JOIN part ON p_partkey = l_partkey
         WHERE p_name LIKE '%gear%'
         GROUP BY 1, 2)
       SELECT s_suppkey, s_name
       FROM supplier JOIN nation ON n_nationkey = s_nationkey
       WHERE n_name = 'NATION_3'
         AND s_suppkey IN (SELECT l_suppkey FROM pq WHERE q97 * 5 > qall)
       ORDER BY s_name"""

  // c44 — SCD2 dimension build from a change log (the warehouse
  // pattern every ingest pipeline feeds: turn an event stream of
  // attribute updates into versioned validity intervals). The change
  // log is events' JSON payload attribute per user; consecutive
  // no-op updates (same value) collapse BEFORE versioning, so version
  // numbers count real changes. Two chained window passes share ONE
  // (user_id)-partitioned sort — lag() for change detection, then
  // row_number()/lead() over the survivors for version + [valid_from,
  // valid_to) interval + is_current. At 100 TB: one shuffle on the
  // dimension key, windows stream per key — no driver state, and the
  // result is exactly the MERGE INTO-free SCD2 rebuild shape
  // (incremental upkeep composes with c20's snapshot diff).
  def qScd2Dim(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        get_json_object(col("props"), "$.k").cast("int").as("attr"))
    val ord = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
    e.withColumn("prev", lag(col("attr"), 1).over(ord))
      .filter(col("prev").isNull || col("prev") =!= col("attr"))
      .withColumn("version", row_number().over(ord))
      .withColumn("valid_to_ms", lead(col("ms"), 1).over(ord))
      .withColumn("is_current", col("valid_to_ms").isNull)
      .select(col("user_id"), col("version"), col("attr"),
        col("ms").as("valid_from_ms"), col("valid_to_ms"), col("is_current"))
      .orderBy("user_id", "version")
  }

  val qScd2DimSql: String =
    """WITH log AS (SELECT user_id, event_id, epoch_ms(ts) AS ms,
          CAST(json_extract(props, '$.k') AS INT) AS attr FROM events),
      ch AS (SELECT *, lag(attr) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev FROM log),
      kept AS (SELECT * FROM ch WHERE prev IS NULL OR prev <> attr)
      SELECT user_id, CAST(row_number() OVER w AS INT) AS version, attr,
        ms AS valid_from_ms, lead(ms) OVER w AS valid_to_ms,
        (lead(ms) OVER w IS NULL) AS is_current
      FROM kept WINDOW w AS (PARTITION BY user_id ORDER BY ms, event_id)
      ORDER BY user_id, version"""

  // c45 — funnel analysis (view → click → purchase): per-user ordered
  // step progression where each stage counts only if a PRIOR-stage
  // event happened strictly earlier in the (ts, event_id) order. The
  // strictly-before constraint is a ROWS BETWEEN UNBOUNDED PRECEDING
  // AND 1 PRECEDING frame (no composite time keys, no self-joins):
  // pass 1 marks clicks with a view before them, pass 2 marks
  // purchases with a qualifying click before them — two Window nodes
  // over the SAME (user, order) spec, so Catalyst plans one exchange
  // + one sort for both, then one per-user aggregate finishes.
  // At 100 TB: a single user-keyed shuffle; funnels of depth k are k
  // chained frames over that same sort, never k scans.
  def qFunnel(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"),
        unix_millis(col("ts")).as("ms"), col("event_type"))
    val before = Window.partitionBy("user_id").orderBy(col("ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("pre_view_ms",
        min(when(col("event_type") === "view", col("ms"))).over(before))
      .withColumn("q2_ms",
        when(col("event_type") === "click" && col("pre_view_ms").isNotNull, col("ms")))
      .withColumn("pre_q2_ms", min(col("q2_ms")).over(before))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ms"))).as("t1_ms"),
        min(col("q2_ms")).as("t2_ms"),
        min(when(col("event_type") === "purchase" && col("pre_q2_ms").isNotNull,
          col("ms"))).as("t3_ms"))
      .withColumn("stage",
        when(col("t3_ms").isNotNull, 3).when(col("t2_ms").isNotNull, 2)
          .when(col("t1_ms").isNotNull, 1).otherwise(0))
      .select("user_id", "stage", "t1_ms", "t2_ms", "t3_ms")
      .orderBy("user_id")
  }

  val qFunnelSql: String =
    """WITH e AS (SELECT user_id, event_id, epoch_ms(ts) AS ms, event_type FROM events),
      s1 AS (SELECT *, min(CASE WHEN event_type = 'view' THEN ms END) OVER
          (PARTITION BY user_id ORDER BY ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre_view_ms FROM e),
      s2 AS (SELECT *, CASE WHEN event_type = 'click' AND pre_view_ms IS NOT NULL
          THEN ms END AS q2_ms FROM s1),
      s3 AS (SELECT *, min(q2_ms) OVER
          (PARTITION BY user_id ORDER BY ms, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pre_q2_ms FROM s2)
      SELECT user_id,
        CASE WHEN min(CASE WHEN event_type = 'purchase' AND pre_q2_ms IS NOT NULL THEN ms END) IS NOT NULL THEN 3
             WHEN min(q2_ms) IS NOT NULL THEN 2
             WHEN min(CASE WHEN event_type = 'view' THEN ms END) IS NOT NULL THEN 1
             ELSE 0 END AS stage,
        min(CASE WHEN event_type = 'view' THEN ms END) AS t1_ms,
        min(q2_ms) AS t2_ms,
        min(CASE WHEN event_type = 'purchase' AND pre_q2_ms IS NOT NULL THEN ms END) AS t3_ms
      FROM s3 GROUP BY user_id ORDER BY user_id"""

  // c46 — runtime bloom-filter join pruning, made explicit: the
  // selective dim side (31 of 1500 customers) builds an 8 KB bloom
  // bitmap (2^16 bits / 1024 longs, two xxhash64 probes) that is
  // collected ONCE driver-side (a control decision, like f17's sketch
  // and e12's probe) and re-enters the fact scan as a LITERAL array —
  // the fact-side membership test is pure map-side bit math, no join,
  // no shuffle, evaluated at the scan. Survivors (false positives
  // included) then pay the exact broadcast join, so the RESULT is
  // byte-identical to the plain join (the oracle) for ANY bloom
  // quality — fp only costs, never corrupts. This is Spark's own
  // injected runtime filter / DPP shape made deterministic and
  // measurable: at 100 TB the 8 KB bitmap prunes ~98% of the fact
  // BEFORE any exchange, and the bitmap size (not the dim size) is
  // what ships to every task.
  def qBloomJoin(spark: SparkSession, dir: String): DataFrame = {
    val m = 1 << 16 // bits
    val dim = Tables(spark, dir, "customer")
      .filter(col("c_mktsegment") === "BUILDING" && col("c_acctbal") > 9000)
      .select(col("c_custkey"))
    def h(k: Column, seed: Int): Column =
      pmod(xxhash64(k, lit(seed)), lit(m.toLong)).cast("long")
    // build: 1024 words, bit_or of the two probe bits per key
    val words = new Array[Long](m / 64)
    dim.select(explode(array(h(col("c_custkey"), 0), h(col("c_custkey"), 1))).as("bit"))
      .groupBy((col("bit") / 64).cast("int").as("w"))
      .agg(bit_or(expr("shiftleft(CAST(1 AS BIGINT), CAST(bit % 64 AS INT))")).as("bits"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    val bloom = array(words.toIndexedSeq.map(lit): _*)
    val fact = Tables(spark, dir, "orders")
    fact
      .withColumn("_b0", h(col("o_custkey"), 0))
      .withColumn("_b1", h(col("o_custkey"), 1))
      .withColumn("_w0", element_at(bloom, (col("_b0") / 64).cast("int") + 1))
      .withColumn("_w1", element_at(bloom, (col("_b1") / 64).cast("int") + 1))
      .filter(expr("(shiftright(_w0, CAST(_b0 % 64 AS INT)) & 1) = 1") &&
        expr("(shiftright(_w1, CAST(_b1 % 64 AS INT)) & 1) = 1"))
      .drop("_b0", "_b1", "_w0", "_w1")
      .join(broadcast(dim), col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .orderBy("o_orderkey")
  }

  val qBloomJoinSql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders JOIN customer ON c_custkey = o_custkey
      WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 9000
      ORDER BY o_orderkey"""

  // c47 — exact INTERPOLATED quartiles per group (percentile_cont
  // type-7 semantics: h = (n−1)·q, value = v_lo + frac·(v_hi − v_lo))
  // via c11's histogram-selection shape generalized to 6 order
  // statistics. Sketch-free and engine-neutral: with q in quarters,
  // frac = ((n−1)·k mod 4)/4, so the interpolation is the INTEGER
  // combination v_lo_cents·(4−m) + v_hi_cents·m — exact in any
  // engine; the only IEEE op is the final /400 presentation division.
  // Scale shape (c11's): no full-table per-group sort — a 1024-bucket
  // histogram (uniform (group, bucket) shuffle keys) locates the ≤6
  // target buckets per group via cumulative ranks over the BOUNDED
  // histogram, and only those buckets' rows (≈ n/1024) are sorted.
  // MATERIALIZATION (round 14): the op's six consumers (ranks, needed,
  // hist, targets, selected, q4) each re-derived the base scan — 7
  // FileScans of orders in one static plan, the exact b39/d26 disease.
  // Now the 5-row stats checkpoint feeds ranks/needed/bucketed without
  // a rescan, and the NARROW bucketed projection (priority, price,
  // orderkey, bucket + the carried vmin/cnt) checkpoints ONCE for
  // hist + selected: exactly 2 orders scans, gated in ScanCountSpec.
  def qPercentiles(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_orderkey"))
    val stats = o.groupBy("o_orderpriority")
      .agg(min("o_totalprice").as("vmin"), max("o_totalprice").as("vmax"),
        count(lit(1)).as("cnt"))
      .localCheckpoint(true) // 5 rows — scan #1, shared by all readers
    // per (group, k): target ranks rk_lo/rk_hi and the quarter weight m
    val ranks = stats.select(col("o_orderpriority").as("rg"), col("cnt"),
        explode(array(lit(1), lit(2), lit(3))).as("k"))
      .withColumn("m", expr("(cnt - 1) * k % 4"))
      .withColumn("rk_lo", expr("(cnt - 1) * k div 4 + 1"))
      .withColumn("rk_hi", expr("rk_lo + (CASE WHEN m > 0 THEN 1 ELSE 0 END)"))
    val needed = ranks.select(col("rg").as("ng"), explode(array(col("rk_lo"), col("rk_hi"))).as("r"))
      .distinct()
    val bucketed = o.join(broadcast(stats), "o_orderpriority")
      .withColumn("b", least(lit(1023),
        floor((col("o_totalprice") - col("vmin")) * 1024.0 /
          (col("vmax") - col("vmin") + lit(1e-9))).cast("int")))
      .select("o_orderpriority", "o_totalprice", "o_orderkey", "b")
      .localCheckpoint(true) // scan #2 — hist + selected read this
    val hist = bucketed.groupBy(col("o_orderpriority"), col("b"))
      .agg(count(lit(1)).as("c"))
    val wc = Window.partitionBy("o_orderpriority").orderBy("b")
    val cum = hist.withColumn("hi", sum("c").over(wc))
      .withColumn("lo", col("hi") - col("c"))
    val targets = cum.join(broadcast(needed),
        col("o_orderpriority") === col("ng") &&
          col("r") > col("lo") && col("r") <= col("hi"))
      .select("o_orderpriority", "b", "lo").distinct()
    val wsel = Window.partitionBy(col("o_orderpriority"), col("b"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    val selected = bucketed.join(broadcast(targets), Seq("o_orderpriority", "b"))
      .withColumn("rn", row_number().over(wsel).cast("long") + col("lo"))
      .join(broadcast(needed),
        col("o_orderpriority") === col("ng") && col("rn") === col("r"))
      .select(col("o_orderpriority").as("grp"), col("rn"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
      .distinct() // a rank can be needed by several k's; select it once
    // assemble: v_lo/v_hi per (group, k), integer quarter-combination
    val q4 = selected.join(broadcast(ranks),
        col("grp") === col("rg") &&
          (col("rn") === col("rk_lo") || col("rn") === col("rk_hi")))
      .groupBy(col("grp"), col("k"), col("m"), col("cnt"))
      .agg(max(when(col("rn") === col("rk_lo"), col("cents"))).as("vlo_c"),
        max(when(col("rn") === col("rk_hi"), col("cents"))).as("vhi_c"))
      .withColumn("qc4", col("vlo_c") * (lit(4) - col("m")) + col("vhi_c") * col("m"))
    q4.groupBy(col("grp").as("o_orderpriority"))
      .agg(max(col("cnt")).as("n"),
        (max(when(col("k") === 1, col("qc4"))).cast("double") / 400).as("p25"),
        (max(when(col("k") === 2, col("qc4"))).cast("double") / 400).as("p50"),
        (max(when(col("k") === 3, col("qc4"))).cast("double") / 400).as("p75"))
      .orderBy("o_orderpriority")
  }

  val qPercentilesSql: String =
    """WITH r AS (SELECT o_orderpriority AS grp,
          CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
          row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey) AS rn,
          COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
        FROM orders),
      kk AS (SELECT grp, cents, rn, cnt, k,
          (cnt - 1) * k % 4 AS m,
          (cnt - 1) * k // 4 + 1 AS rk_lo,
          (cnt - 1) * k // 4 + 1 + (CASE WHEN (cnt - 1) * k % 4 > 0 THEN 1 ELSE 0 END) AS rk_hi
        FROM r, (VALUES (1), (2), (3)) t(k)),
      sel AS (SELECT grp, k, m, cnt,
          MAX(CASE WHEN rn = rk_lo THEN cents END) AS vlo_c,
          MAX(CASE WHEN rn = rk_hi THEN cents END) AS vhi_c
        FROM kk GROUP BY grp, k, m, cnt),
      q AS (SELECT grp, cnt, k, vlo_c * (4 - m) + vhi_c * m AS qc4 FROM sel)
      SELECT grp AS o_orderpriority, MAX(cnt) AS n,
        CAST(MAX(CASE WHEN k = 1 THEN qc4 END) AS DOUBLE) / 400 AS p25,
        CAST(MAX(CASE WHEN k = 2 THEN qc4 END) AS DOUBLE) / 400 AS p50,
        CAST(MAX(CASE WHEN k = 3 THEN qc4 END) AS DOUBLE) / 400 AS p75
      FROM q GROUP BY grp ORDER BY grp"""

  // c69 — per-brand skyline (Pareto frontier): the parts no same-brand
  // part dominates on (price low, size high) — the classic
  // multi-criteria shortlist operator (Börzsönyi et al., ICDE 2001)
  // the relational substrate lacks. Dominance: d beats q iff
  // price ≤, size ≥, one strict; equal (price, size) points never
  // dominate each other, so exact duplicates all survive. The O(n²)
  // dominance test collapses to ONE sorted window pass per brand:
  // survive iff size = max(size | same price) AND size > max(size |
  // strictly lower price) — both maxima from range frames over one
  // price-ordered sort, so the plan is scan → brand-keyed exchange →
  // one sort → two range-frame windows on it. At 100 TB: fully
  // parallel across brands (no single-partition window anywhere);
  // for a group-free skyline the same condition runs twice —
  // per-partition pre-prune (skyline(S) ⊆ ∪ skyline(Sᵢ)), then the
  // tiny survivor set — the standard two-phase distributed skyline.
  // Oracle: the genuinely different NOT EXISTS dominance anti-join.
  def qSkyline(spark: SparkSession, dir: String): DataFrame = {
    val p = Tables(spark, dir, "part")
      .select(col("p_brand"), col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"),
        col("p_size"))
    val wLt = Window.partitionBy("p_brand").orderBy("price_cents")
      .rangeBetween(Window.unboundedPreceding, -1)
    val wEq = Window.partitionBy("p_brand").orderBy("price_cents")
      .rangeBetween(0, 0)
    p.withColumn("rmax_lt", max(col("p_size")).over(wLt))
      .withColumn("rmax_eq", max(col("p_size")).over(wEq))
      .filter(col("p_size") === col("rmax_eq") &&
        (col("rmax_lt").isNull || col("p_size") > col("rmax_lt")))
      .select("p_brand", "p_partkey", "price_cents", "p_size")
      .orderBy("p_brand", "price_cents", "p_partkey")
  }

  val qSkylineSql: String =
    """WITH p AS (
        SELECT p_brand, p_partkey,
          CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents, p_size
        FROM part)
      SELECT p_brand, p_partkey, price_cents, p_size
      FROM p q WHERE NOT EXISTS (
        SELECT 1 FROM p d
        WHERE d.p_brand = q.p_brand AND d.price_cents <= q.price_cents
          AND d.p_size >= q.p_size
          AND (d.price_cents < q.price_cents OR d.p_size > q.p_size))
      ORDER BY p_brand, price_cents, p_partkey"""

  // c74 — market-basket association rules over (order × brand) items
  // (the Apriori/FP-growth count pass at pair depth — "customers who
  // bought A also bought B", the retail staple the relational
  // substrate lacks): support / confidence(both directions) / lift
  // per unordered brand pair co-occurring in an order. The pair
  // generator NEVER self-joins the item table: items fold to one
  // sorted per-order brand SET (one orderkey-keyed agg — the only
  // row-scale exchange), pairs explode map-side from each set, and a
  // basket holds ≤ min(lines, |brands|) DISTINCT items (collect_set —
  // the item VOCABULARY hard-bounds every set, |brands| = 25 here) so
  // the fan-out is bounded by basket size squared, never corpus size.
  // An UNBOUNDED item vocabulary would need an explicit cap on the
  // set before the explode (slice after sort_array — d4's df-cap
  // shape); with a catalog-bounded item dimension, none is needed.
  // Everything after the explode is vocabulary-bounded: ≤ |brands|²/2
  // pair groups, |brands| item counts re-derived from the SAME sets
  // (no second item scan), N from the same agg. Confidence and lift
  // are integer micro-units by floor division with decimal(38,0)/
  // HUGEINT products (lift's n_ab·N ≤ 10¹⁹ overflows int64 at real
  // order counts — the c71 overflow discipline). Support floor ≥ 5.
  // Oracle: the genuinely different distinct-items SELF-JOIN.
  /** Brand → bit-index dim, by sorted brand order (so pair codes with
    * i < j reproduce the old brand_a < brand_b convention exactly).
    * The vocabulary is catalog-bounded (25 brands in TPC-H) — a
    * bounded control-table collect, same class as the bloom word
    * lists. An unbounded item vocabulary would not fit a 64-bit mask;
    * that regime needs d4's df-cap on the set before pairing. */
  private def brandDim(spark: SparkSession, dir: String): (DataFrame, Int) = {
    import spark.implicits._
    val brands = Tables(spark, dir, "part").select("p_brand").distinct()
      .collect().map(_.getString(0)).sorted
    require(brands.length <= 64,
      s"brand vocabulary ${brands.length} exceeds the 64-bit basket mask")
    (brands.toSeq.zipWithIndex.toDF("brand", "bidx"), brands.length)
  }

  /** The per-order item-set table c74/c77/c81 all read, as BITMASKS:
    * each order folds to ONE long via a codegen'd bit_or aggregate
    * (map-side combining into an 8-byte buffer) where the previous
    * `collect_set` forced an interpreted ObjectHashAggregate shuffling
    * string sets — this exchange is the family's only row-scale cost
    * and measured 24.3 → ~8 s at 60M lineitems from this change
    * alone. MATERIALIZED (eager localCheckpoint): it feeds 3-5
    * consumers per query, and measured plans showed AQE re-deriving
    * the lineitem scan + set-agg up to 9 times when left to
    * ReuseExchange (subtree drift defeats reuse). */
  private def basketsOf(spark: SparkSession, dir: String, dim: DataFrame): DataFrame = {
    val li = Tables(spark, dir, "lineitem").select("l_orderkey", "l_partkey")
    val p = Tables(spark, dir, "part").select("p_partkey", "p_brand")
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .join(broadcast(dim), col("p_brand") === col("brand"))
      .groupBy("l_orderkey")
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), bidx))").as("mask"))
      .localCheckpoint(true)
  }

  /** Unordered co-occurring pairs off the mask table: the native
    * [[graft.functions.PairCodes]] kernel emits (i << 6 | j) per set
    * bit pair inside whole-stage codegen (a transform/filter lambda
    * would evaluate interpreted per element — the q_nearest_poi
    * lesson); decode joins the ≤64-row dim back for names. Bounded by
    * the vocabulary after the explode, never corpus size. */
  private def basketPairs(baskets: DataFrame, dim: DataFrame): DataFrame =
    baskets.select(explode(expr("graft_pair_codes(mask)")).as("code"))
      .groupBy("code").agg(count(lit(1)).as("support"))
      .filter(col("support") >= 5)
      .join(broadcast(dim.select(col("bidx").as("ia"), col("brand").as("brand_a"))),
        expr("code >> 6") === col("ia"))
      .join(broadcast(dim.select(col("bidx").as("ib"), col("brand").as("brand_b"))),
        expr("code & 63") === col("ib"))
      .select("brand_a", "brand_b", "support")

  /** Per-brand order counts off the SAME mask table: one codegen'd
    * aggregate of |vocabulary| bit sums (no explode, no second item
    * scan), unpivoted to (brand, n_item) rows. */
  private def basketItemCnt(baskets: DataFrame, dim: DataFrame, nBrands: Int): DataFrame = {
    val sums = (0 until nBrands).map(i =>
      sum(expr(s"(mask >> $i) & 1")).as(s"_n$i"))
    val stack = (0 until nBrands).map(i => s"$i, _n$i").mkString(", ")
    baskets.agg(sums.head, sums.tail: _*)
      .select(expr(s"stack($nBrands, $stack) AS (bidx2, n_item)"))
      .join(broadcast(dim), col("bidx2") === col("bidx"))
      .select(col("brand"), col("n_item"))
  }

  /** Each (brand_a, brand_b) row of `pairs` with its brands' order
    * counts n_a, n_b and the basket total n_orders. */
  private def withMargins(pairs: DataFrame, baskets: DataFrame, dim: DataFrame,
      nBrands: Int): DataFrame = {
    val n = baskets.agg(count(lit(1)).as("n_orders"))
    val itemCnt = basketItemCnt(baskets, dim, nBrands)
    pairs
      .join(broadcast(itemCnt.withColumnRenamed("brand", "brand_a")
        .withColumnRenamed("n_item", "n_a")), Seq("brand_a"))
      .join(broadcast(itemCnt.withColumnRenamed("brand", "brand_b")
        .withColumnRenamed("n_item", "n_b")), Seq("brand_b"))
      .crossJoin(broadcast(n))
  }

  private def basketAssoc(baskets: DataFrame, dim: DataFrame, nBrands: Int): DataFrame = {
    withMargins(basketPairs(baskets, dim), baskets, dim, nBrands)
      .select(col("brand_a"), col("brand_b"), col("support"),
        expr("CAST(CAST(support AS DECIMAL(38,0)) * 1000000 DIV n_a AS BIGINT)")
          .as("conf_ab_micro"),
        expr("CAST(CAST(support AS DECIMAL(38,0)) * 1000000 DIV n_b AS BIGINT)")
          .as("conf_ba_micro"),
        expr("""CAST(CAST(support AS DECIMAL(38,0)) * n_orders * 1000000
                DIV (CAST(n_a AS DECIMAL(38,0)) * n_b) AS BIGINT)""")
          .as("lift_micro"))
      .orderBy(col("support").desc, col("brand_a"), col("brand_b"))
  }

  def qBasket(spark: SparkSession, dir: String): DataFrame = {
    val (dim, nBrands) = brandDim(spark, dir)
    basketAssoc(basketsOf(spark, dir, dim), dim, nBrands)
  }

  val qBasketSql: String =
    """WITH items AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS b
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
      ic AS (SELECT b, COUNT(*) AS n_item FROM items GROUP BY b),
      pr AS (
        SELECT i1.b AS brand_a, i2.b AS brand_b, COUNT(*) AS support
        FROM items i1 JOIN items i2 ON i1.ok = i2.ok AND i1.b < i2.b
        GROUP BY 1, 2 HAVING COUNT(*) >= 5)
      SELECT brand_a, brand_b, support,
        CAST(CAST(support AS HUGEINT) * 1000000 // ia.n_item AS BIGINT) AS conf_ab_micro,
        CAST(CAST(support AS HUGEINT) * 1000000 // ib.n_item AS BIGINT) AS conf_ba_micro,
        CAST(CAST(support AS HUGEINT) * n.n_orders * 1000000
          // (CAST(ia.n_item AS HUGEINT) * ib.n_item) AS BIGINT) AS lift_micro
      FROM pr
      JOIN ic ia ON ia.b = pr.brand_a
      JOIN ic ib ON ib.b = pr.brand_b
      CROSS JOIN n
      ORDER BY support DESC, brand_a, brand_b"""

  // c77 — "customers also bought": per-brand top-3 recommendations off
  // c74's association table (the consumer of the basket pass — what a
  // serving layer materializes nightly; item-item collaborative
  // filtering at the co-occurrence grain, Linden et al.'s Amazon
  // item-item shape). Candidates = both directions of every
  // support ≥ 5 pair; ranked per brand by (lift desc, support desc,
  // rec) — lift ranks affinity, support breaks specificity ties, the
  // name makes the order total (deterministic both engines). The rank
  // window rides the VOCABULARY-BOUNDED pair table (≤ |brands|² rows
  // after c74's one row-scale exchange) — nothing here re-touches an
  // order. Lift in micro-units, same decimal discipline as c74.
  def qRecommend(spark: SparkSession, dir: String): DataFrame = {
    val pairs = qBasket(spark, dir)
    val both = pairs.select(col("brand_a").as("brand"), col("brand_b").as("rec"),
        col("support"), col("lift_micro"))
      .unionAll(pairs.select(col("brand_b").as("brand"), col("brand_a").as("rec"),
        col("support"), col("lift_micro")))
    val w = Window.partitionBy("brand")
      .orderBy(col("lift_micro").desc, col("support").desc, col("rec"))
    both.withColumn("rec_rank", row_number().over(w))
      .filter(col("rec_rank") <= 3)
      .select("brand", "rec_rank", "rec", "support", "lift_micro")
      .orderBy("brand", "rec_rank")
  }

  val qRecommendSql: String = {
    // c74's pair table re-derived, then both directions ranked
    val inner = qBasketSql.replace("ORDER BY support DESC, brand_a, brand_b", "")
    s"""WITH pairs AS ($inner),
      both_dirs AS (
        SELECT brand_a AS brand, brand_b AS rec, support, lift_micro FROM pairs
        UNION ALL
        SELECT brand_b AS brand, brand_a AS rec, support, lift_micro FROM pairs),
      ranked AS (
        SELECT *, row_number() OVER (PARTITION BY brand
          ORDER BY lift_micro DESC, support DESC, rec) AS rec_rank
        FROM both_dirs)
      SELECT brand, CAST(rec_rank AS INTEGER) AS rec_rank, rec, support, lift_micro
      FROM ranked WHERE rec_rank <= 3
      ORDER BY brand, rec_rank"""
  }

  // c81 — association-rule SIGNIFICANCE screen (the statistical rigor
  // c74's raw lift lacks: at 25 brands there are 300 pairs, and a few
  // will show lift > 1 by chance — Bonferroni-era practice filters
  // rules on a χ² independence test before anyone acts on them;
  // c71's 2×2 closed form per PAIR): for each c74 pair, the
  // contingency is (n_ab, n_a−n_ab, n_b−n_ab, N−n_a−n_b+n_ab) and
  // χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) — exact integer in
  // decimal(38,0)/HUGEINT, micro-units by floor division, no IEEE
  // (c71's discipline); verdict 'significant' at χ² ≥ 3.841 (the
  // 95% critical value, compared as an integer micro threshold).
  // Plan: c74's machinery verbatim (one row-scale exchange), the χ²
  // columns are scalar math on the vocabulary-bounded pair table.
  def qBasketSig(spark: SparkSession, dir: String): DataFrame = {
    // ONE materialized mask table feeds the association ratios AND the
    // χ² margins — before the round-12 restructure this query
    // re-derived the lineitem scan + set-agg up to 9 times (measured
    // 6x at 100x GenTpch; the slope was the re-derivation + the
    // interpreted ObjectHashAggregate, not the vocabulary-bounded χ²
    // stage)
    val (dim, nBrands) = brandDim(spark, dir)
    val baskets = basketsOf(spark, dir, dim)
    withMargins(basketAssoc(baskets, dim, nBrands), baskets, dim, nBrands)
      .withColumn("a", col("support"))
      .withColumn("b", col("n_a") - col("support"))
      .withColumn("c", col("n_b") - col("support"))
      .withColumn("d", col("n_orders") - col("n_a") - col("n_b") + col("support"))
      // divisor guarded: a brand co-occurring in EVERY basket makes
      // c+d = 0 (degenerate margin — the test is undefined there);
      // NULLIF keeps Spark's div-NULL and DuckDB's //-error aligned
      // on NULL for that row instead of diverging.
      .withColumn("chi2_micro", expr(
        """CAST(CAST(n_orders AS DECIMAL(38,0))
             * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
             * (CAST(a AS DECIMAL(38,0)) * d - CAST(b AS DECIMAL(38,0)) * c)
             * 1000000
           div NULLIF(CAST(a + b AS DECIMAL(38,0)) * (c + d) * (a + c) * (b + d), 0)
           AS BIGINT)"""))
      .select(col("brand_a"), col("brand_b"), col("support"),
        col("lift_micro"), col("chi2_micro"),
        (col("chi2_micro") >= 3841000L).as("significant"))
      .orderBy(col("chi2_micro").desc, col("brand_a"), col("brand_b"))
  }

  val qBasketSigSql: String = {
    val inner = qBasketSql.replace("ORDER BY support DESC, brand_a, brand_b", "")
    s"""WITH pr AS ($inner),
      items AS (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS bb
        FROM lineitem JOIN part ON l_partkey = p_partkey),
      n AS (SELECT COUNT(DISTINCT ok) AS n_orders FROM items),
      ic AS (SELECT bb, COUNT(*) AS n_item FROM items GROUP BY bb),
      ct AS (
        SELECT pr.brand_a, pr.brand_b, pr.support, pr.lift_micro,
          pr.support AS a, ia.n_item - pr.support AS b,
          ib.n_item - pr.support AS c,
          n.n_orders - ia.n_item - ib.n_item + pr.support AS d,
          n.n_orders AS n_orders
        FROM pr JOIN ic ia ON ia.bb = pr.brand_a
        JOIN ic ib ON ib.bb = pr.brand_b CROSS JOIN n),
      x AS (
        SELECT *, CAST(CAST(n_orders AS HUGEINT)
            * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
            * (CAST(a AS HUGEINT) * d - CAST(b AS HUGEINT) * c)
            * 1000000
          // NULLIF(CAST(a + b AS HUGEINT) * (c + d) * (a + c) * (b + d), 0)
          AS BIGINT) AS chi2_micro
        FROM ct)
      SELECT brand_a, brand_b, support, lift_micro, chi2_micro,
        chi2_micro >= 3841000 AS significant
      FROM x ORDER BY chi2_micro DESC, brand_a, brand_b"""
  }

  // c83 — price elasticity of demand (the econometrics readout behind
  // every pricing decision: the OLS slope of ln(quantity) on
  // ln(price) — elasticity ≈ that slope, < −1 elastic): parts bucket
  // into 10 price deciles (ntile over the PART dimension — bounded,
  // c80's quintile discipline), each decile contributes one (x, y)
  // point with x = ln(Σ price_cents) − ln(n_parts) and y =
  // ln(Σ qty·100) − ln(n_parts) — the log of a MEAN as a DIFFERENCE
  // of micro-nat lns of exact integers (f31's engine-free argument;
  // ln of a rational mean directly would not quantize identically),
  // so both coordinates are exact integers. The slope is c70's moment
  // algebra over TEN points: (nΣxy − ΣxΣy)·10⁶ div (nΣxx − (Σx)²),
  // decimal(38,0)/HUGEINT products, floor division, no IEEE anywhere.
  // Plan: broadcast part-decile dim joins the lineitem scan, one
  // bounded (decile) agg, scalar math on a 10-row fold. The decile
  // itself is [[TwoPhase]]'s bucketed global rank (2¹²-cent price
  // slices) + the closed-form ntile rule — the part DIMENSION never
  // single-tasks, matching ntile(10) OVER (ORDER BY ...) exactly.
  def qElasticity(spark: SparkSession, dir: String): DataFrame = {
    val p0 = Tables(spark, dir, "part")
      .select(col("p_partkey"),
        expr("CAST(round(p_retailprice * 100) AS BIGINT)").as("price_cents"))
    val p = TwoPhase.globalRowNumber(p0, expr("price_cents div 4096"),
        Seq(col("price_cents"), col("p_partkey")), "prk", total = Some("np"))
      .withColumn("decile", expr(TwoPhase.ntileFromRank("prk", "np", 10)))
      .drop("prk", "np")
    val li = Tables(spark, dir, "lineitem")
      .select(col("l_partkey"), expr("CAST(round(l_quantity * 100) AS BIGINT)").as("q100"))
    val pts = li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n_items"),
        sum(col("price_cents")).as("sum_price"),
        sum(col("q100")).as("sum_q"))
      .select(col("decile"),
        expr("CAST(round(ln(sum_price) * 1e6) AS BIGINT) - CAST(round(ln(n_items) * 1e6) AS BIGINT)").as("x"),
        expr("CAST(round(ln(sum_q) * 1e6) AS BIGINT) - CAST(round(ln(n_items) * 1e6) AS BIGINT)").as("y"))
    pts.agg(count(lit(1)).as("n"),
        sum(expr("CAST(x AS DECIMAL(38,0))")).as("sx"),
        sum(expr("CAST(y AS DECIMAL(38,0))")).as("sy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * y")).as("sxy"),
        sum(expr("CAST(x AS DECIMAL(38,0)) * x")).as("sxx"))
      .select(col("n").cast("long").as("n_deciles"),
        expr("""CAST((CAST(n AS DECIMAL(38,0)) * sxy - sx * sy) * 1000000
                div (CAST(n AS DECIMAL(38,0)) * sxx - sx * sx) AS BIGINT)""")
          .as("elasticity_micro"))
  }

  val qElasticitySql: String =
    """WITH p AS (
        SELECT p_partkey, CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
          CAST(ntile(10) OVER (ORDER BY CAST(round(p_retailprice * 100) AS BIGINT), p_partkey) AS INT) AS decile
        FROM part),
      j AS (
        SELECT decile, price_cents, CAST(round(l_quantity * 100) AS BIGINT) AS q100
        FROM lineitem JOIN p ON l_partkey = p_partkey),
      pts AS (
        SELECT decile,
          CAST(round(ln(SUM(price_cents)) * 1e6) AS BIGINT)
            - CAST(round(ln(COUNT(*)) * 1e6) AS BIGINT) AS x,
          CAST(round(ln(SUM(q100)) * 1e6) AS BIGINT)
            - CAST(round(ln(COUNT(*)) * 1e6) AS BIGINT) AS y
        FROM j GROUP BY decile),
      s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
          SUM(CAST(x AS HUGEINT)) AS sx, SUM(CAST(y AS HUGEINT)) AS sy,
          SUM(CAST(x AS HUGEINT) * y) AS sxy, SUM(CAST(x AS HUGEINT) * x) AS sxx
        FROM pts)
      SELECT n AS n_deciles,
        CAST((CAST(n AS HUGEINT) * sxy - sx * sy) * 1000000
          // (CAST(n AS HUGEINT) * sxx - sx * sx) AS BIGINT) AS elasticity_micro
      FROM s"""

  // c75 — revenue concentration: exact Gini coefficient + top-decile
  // mass share over per-customer revenue (the inequality readout
  // behind every "whales" conversation, and the f36 head-mass curve's
  // continuous sibling). Gini from the sorted form G = (2·Σi·xᵢ −
  // (n+1)·Σx) / (n·Σx) with i = row_number under the total (x,
  // custkey) order — within a tied value group Σi·x is permutation-
  // invariant (x constant), so the statistic is deterministic both
  // engines; all products in decimal(38,0)/HUGEINT (Σi·x ≈ n·total
  // ≈ 10¹⁹ at real scale — past int64), micro-units by floor
  // division, no IEEE anywhere. Top-decile share = mass of the
  // ⌈n/10⌉ highest-revenue customers by the same rank. Plan: ONE
  // custkey agg folds orders; the global rank is [[TwoPhase]]'s
  // bucketed split (2²⁴-cent revenue slices — bucket count follows
  // the per-customer revenue RANGE, not the customer count), so the
  // customer aggregate ranks in parallel partitions and NO stage puts
  // the whole customer table in one task; n broadcasts as a 1-row agg
  // instead of an unbounded count window.
  def qGini(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables(spark, dir, "orders")
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"))
    val perCust = o.groupBy("o_custkey").agg(sum(col("cents")).as("x"))
    val ranked = TwoPhase.globalRowNumber(perCust,
      expr("x div 16777216"), Seq(col("x"), col("o_custkey")), "i",
      total = Some("n"))
    ranked.agg(
        count(lit(1)).as("n_cust"),
        sum(col("x")).as("total_cents"),
        sum(expr("CAST(i AS DECIMAL(38,0)) * x")).as("six"),
        sum(expr("CASE WHEN i > n - (n + 9) DIV 10 THEN x ELSE 0 END")).as("top10"))
      .select(col("n_cust"), col("total_cents"),
        expr("""CAST((2 * six - (CAST(n_cust AS DECIMAL(38,0)) + 1) * total_cents)
                * 1000000 DIV (CAST(n_cust AS DECIMAL(38,0)) * total_cents)
                AS BIGINT)""").as("gini_micro"),
        expr("CAST(CAST(top10 AS DECIMAL(38,0)) * 1000000 DIV total_cents AS BIGINT)")
          .as("top10_share_micro"))
  }

  val qGiniSql: String =
    """WITH o AS (
        SELECT o_custkey, CAST(round(o_totalprice * 100) AS BIGINT) AS cents
        FROM orders),
      u AS (SELECT o_custkey, SUM(cents) AS x FROM o GROUP BY o_custkey),
      r AS (
        SELECT x, row_number() OVER (ORDER BY x, o_custkey) AS i,
          COUNT(*) OVER () AS n
        FROM u),
      s AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
          CAST(SUM(x) AS BIGINT) AS total_cents,
          SUM(CAST(i AS HUGEINT) * x) AS six,
          CAST(SUM(CASE WHEN i > n - (n + 9) // 10 THEN x ELSE 0 END) AS BIGINT) AS top10
        FROM r)
      SELECT n_cust, total_cents,
        CAST((2 * six - (CAST(n_cust AS HUGEINT) + 1) * total_cents) * 1000000
          // (CAST(n_cust AS HUGEINT) * total_cents) AS BIGINT) AS gini_micro,
        CAST(CAST(top10 AS HUGEINT) * 1000000 // total_cents AS BIGINT) AS top10_share_micro
      FROM s"""

  val registry: Seq[Query] = Seq(
    Query("q_basket", qBasket, Oracle(qBasketSql)),
    Query("q_recommend", qRecommend, Oracle(qRecommendSql)),
    Query("q_basket_sig", qBasketSig, Oracle(qBasketSigSql)),
    Query("q_elasticity", qElasticity, Oracle(qElasticitySql)),
    Query("q_gini", qGini, Oracle(qGiniSql)),
    Query("q_skyline", qSkyline, Oracle(qSkylineSql)),
    Query("q_percentiles", qPercentiles, Oracle(qPercentilesSql)),
    Query("q_scd2_dim", qScd2Dim, Oracle(qScd2DimSql)),
    Query("q_funnel", qFunnel, Oracle(qFunnelSql)),
    Query("q_bloom_join", qBloomJoin, Oracle(qBloomJoinSql)),
    Query("q17_small_qty", q17SmallQty, Oracle(q17SmallQtySql)),
    Query("q13_cust_dist", q13CustDist, Oracle(q13CustDistSql)),
    Query("q7_volume", q7Volume, Oracle(q7VolumeSql)),
    Query("q8_mkt_share", q8MktShare, Oracle(q8MktShareSql)),
    Query("q19_disjunctive", q19Disjunctive, Oracle(q19DisjunctiveSql)),
    Query("q2_min_cost", q2MinCost, Oracle(q2MinCostSql)),
    Query("q_window_suite", qWindowSuite, Oracle(qWindowSuiteSql)),
    Query("q_multi_distinct", qMultiDistinct, Oracle(qMultiDistinctSql)),
    Query("q6_forecast", q6Forecast, Oracle(q6ForecastSql)),
    Query("q9_profit", q9Profit, Oracle(q9ProfitSql)),
    Query("q12_priority", q12Priority, Oracle(q12PrioritySql)),
    Query("q11_top_stock", q11TopStock, Oracle(q11TopStockSql)),
    Query("q16_supplier_cnt", q16SupplierCnt, Oracle(q16SupplierCntSql)),
    Query("q20_promo_suppliers", q20PromoSuppliers, Oracle(q20PromoSuppliersSql)))
}
