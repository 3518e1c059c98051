package graft.dev

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dev tool: synthesize the TPC-H-ish star schema + events table with
  * the driver testdata's shape at an arbitrary scale — the relational
  * twin of [[GenDocs]]/[[GenVecs]], used for the §5 C-family scaling
  * measurement (the driver ships sf ≤ 0.1 = 600k lineitems; the join/
  * window/as-of linearity claims need a measured 10× point, so we
  * generate OUR OWN sf0.1-shaped and sf1-shaped dirs from the same
  * generator and compare like with like). Row ratios mirror the
  * driver tables exactly (lineitem : orders : customer : supplier :
  * part : events = 600 : 150 : 15 : 1 : 20 : 100 per sf0.1 unit) and
  * value domains mirror TESTDATA.md (priorities, return flags,
  * segments, date ranges, user cardinality scaling with sf).
  * Deterministic md5 arithmetic, no RNG object.
  *
  *   runMain graft.dev.GenTpch 6000000 /tmp/gen_tpch_1
  */
object GenTpch {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(600000) // lineitem rows
    val out = args.lift(1).getOrElse("/tmp/gen_tpch")
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    synthesize(spark, n, out)
    println(s"[gentpch] wrote lineitem=$n suite to $out")
    spark.stop()
  }

  /** uniform int in [0, m) from one md5 per (tag, id) */
  private def u(tag: String, m: Long): String =
    s"pmod(conv(substr(md5(concat('$tag', id)), 1, 12), 16, 10), ${m}L)"

  def synthesize(spark: SparkSession, n: Int, out: String): Unit = {
    val nOrders = n / 4
    val nCust = n / 40
    val nSupp = math.max(100, n / 600)
    val nPart = n / 30
    val nEvents = n / 6
    val nUsers = math.max(100, n / 400)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    write(spark.range(5).select(col("id").cast("int").as("r_regionkey"),
      concat(lit("REGION_"), col("id")).as("r_name")), "region")
    write(spark.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), "nation")
    write(spark.range(nCust.toLong).select(col("id").as("c_custkey"),
      concat(lit("Customer#"), col("id")).as("c_name"),
      (col("id") % 25).cast("int").as("c_nationkey"),
      (expr(u("cb", 1099900)) / 100.0 - 999.0).as("c_acctbal"),
      element_at(array(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY").map(lit): _*), (col("id") % 5 + 1).cast("int")).as("c_mktsegment")),
      "customer")
    write(spark.range(nSupp.toLong).select(col("id").as("s_suppkey"),
      concat(lit("Supplier#"), col("id")).as("s_name"),
      (col("id") % 25).cast("int").as("s_nationkey"),
      (expr(u("sb", 1099900)) / 100.0 - 999.0).as("s_acctbal")), "supplier")
    write(spark.range(nPart.toLong).select(col("id").as("p_partkey"),
      concat(lit("Part#"), col("id")).as("p_name"),
      concat(lit("Brand#"), (col("id") % 25)).as("p_brand"),
      concat(lit("TYPE "), (col("id") % 150)).as("p_type"),
      (col("id") % 50 + 1).cast("int").as("p_size"),
      (expr(u("pp", 200000)) / 100.0 + 900.0).as("p_retailprice")), "part")
    // orders: dates uniform over 1995-01-01 .. 2001-08-01 (2404 days)
    write(spark.range(nOrders.toLong).select(col("id").as("o_orderkey"),
      expr(u("oc", nCust)).as("o_custkey"),
      element_at(array(lit("O"), lit("F"), lit("P")),
        (expr(u("os", 20)) / lit(9)).cast("int") + 1).as("o_orderstatus"),
      (expr(u("ot", 49900000)) / 100.0 + 1000.0).as("o_totalprice"),
      expr(s"timestampadd(DAY, cast(${u("od", 2404)} as int), timestamp'1995-01-01 00:00:00')")
        .as("o_orderdate"),
      element_at(array(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW").map(lit): _*), (col("id") % 5 + 1).cast("int")).as("o_orderpriority")),
      "orders")
    // lineitem: 4 lines per order; shipdate ≈ orderdate algebra kept
    // independent (uniform over the same span + up to 95 days)
    write(spark.range(n.toLong).select((col("id") / 4).cast("long").as("l_orderkey"),
      expr(u("lp", nPart)).as("l_partkey"),
      expr(u("ls", nSupp)).as("l_suppkey"),
      (col("id") % 4 + 1).cast("int").as("l_linenumber"),
      (expr(u("lq", 50)) + 1).cast("double").as("l_quantity"),
      (expr(u("le", 9990000)) / 100.0 + 900.0).as("l_extendedprice"),
      (expr(u("ld", 11)) / 100.0).as("l_discount"),
      (expr(u("lt", 9)) / 100.0).as("l_tax"),
      element_at(array(lit("N"), lit("A"), lit("R")),
        (expr(u("lr", 2)) + expr(u("lr2", 2))).cast("int") + 1).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")), (expr(u("ll", 2))).cast("int") + 1).as("l_linestatus"),
      expr(s"timestampadd(DAY, cast(${u("lsd", 2404)} + ${u("lsd2", 95)} as int), timestamp'1995-01-01 00:00:00')")
        .as("l_shipdate")), "lineitem")
    // events: 30 days of 2024-01, user cardinality scaling with sf
    write(spark.range(nEvents.toLong).select(col("id").as("event_id"),
      expr(s"timestampadd(MILLISECOND, ${u("ets", 30L * 86400 * 1000)}, timestamp'2024-01-01 00:00:00')")
        .as("ts"),
      expr(u("eu", nUsers)).as("user_id"),
      element_at(array(Seq("click", "error", "purchase", "signup", "view").map(lit): _*),
        (expr(u("ee", 5))).cast("int") + 1).as("event_type"),
      (expr(u("ev", 100000)) / 100.0).as("value"),
      concat(lit("{\"k\": "), expr(u("ek", 100)), lit("}")).as("props")), "events")
  }
}
