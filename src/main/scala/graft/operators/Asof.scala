package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftPlanBridge
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

import graft.{Oracle, Query, Tables}
import graft.plans.AsofJoin

/** Public API + query entry for the FIRST-CLASS as-of join operator
  * (graft.plans.AsofJoin / AsofJoinExec) — the full custom-operator
  * ladder: LogicalPlan node, planner Strategy, physical SparkPlan.
  * Where the composable c21 formulation pays a union + window, the
  * physical operator is a per-partition zipper: both sides
  * hash-clustered on the key and sorted by (key, time), one O(n+m)
  * merge pass with a single buffered row of state.
  */
object Asof {

  /** As-of (backward, inner) join on a COMPOSITE key tuple: for each
    * left row the LATEST right row with equal key tuple and right time
    * ≤ left time. Key/time columns must be LongType; tuples compare
    * lexicographically. The multi-key form is the salting hook — pass
    * (key, time-bucket) and a hot key's timeline clusters per bucket
    * instead of per key (see [[qAsofSaltedNative]]). */
  def asofJoinKeys(left: DataFrame, right: DataFrame,
      leftKeys: Seq[String], rightKeys: Seq[String],
      leftTime: String, rightTime: String,
      rightTiebreak: Seq[String] = Nil): DataFrame = {
    val lp = GraftPlanBridge.analyzed(left)
    val rp = GraftPlanBridge.analyzed(right)
    def attr(p: LogicalPlan, n: String) =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(s"no column $n in ${p.output.map(_.name)}"))
    GraftPlanBridge.ofRows(left.sparkSession,
      AsofJoin(lp, rp, leftKeys.map(attr(lp, _)), rightKeys.map(attr(rp, _)),
        attr(lp, leftTime), attr(rp, rightTime),
        rightTiebreak.map(attr(rp, _))))
  }

  /** As-of (backward, inner) join: for each left row the LATEST right
    * row with equal key and right time ≤ left time. Key/time columns
    * must be LongType. `rightTiebreak` names columns that order right
    * rows sharing (key, time) — the GREATEST tiebreak tuple wins,
    * replacing the per-(key, time) pre-aggregation callers otherwise
    * need for determinism (the dedup rides the operator's own sort
    * instead of paying an extra exchange + hash-agg). */
  def asofJoin(left: DataFrame, right: DataFrame,
      leftKey: String, rightKey: String,
      leftTime: String, rightTime: String,
      rightTiebreak: Seq[String] = Nil): DataFrame =
    asofJoinKeys(left, right, Seq(leftKey), Seq(rightKey),
      leftTime, rightTime, rightTiebreak)

  /** c22 — the c21 as-of query through the NATIVE operator: identical
    * semantics and oracle (DuckDB ASOF JOIN), but planned as
    * AsofJoinExec — two exchanges, two sorts, one codegen'd zipper
    * pass; no union, no window state, and no right-side
    * pre-aggregation either: the max-orderkey-per-(customer, day)
    * dedup the c21 plan pays a shuffle + hash-agg for is folded into
    * the zipper's sort via the tiebreak ordering. */
  def qAsofNative(spark: SparkSession, dir: String): DataFrame = {
    val ev = Analytics.asofEvents(spark, dir)
    val od = Analytics.asofOrders(spark, dir, "rk", "rt")
    asofJoin(ev, od, "k", "rk", "t", "rt",
        rightTiebreak = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("k"), col("t").as("event_day"),
        col("rt").as("order_day"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("event_id")
  }

  /** c25 — SKEW-RESILIENT native as-of: c24's time-bucket salting
    * folded into AsofJoinExec itself. The operator clusters on the
    * COMPOSITE key (customer, time-bucket) — a hot key's timeline
    * splits across #buckets parallel zipper tasks instead of one
    * straggler — and correctness across bucket boundaries is restored
    * by PLANTED CARRY-IN rows on the right side: for every active
    * (key, bucket), the latest order from any earlier bucket is
    * planted with its ORIGINAL timestamp (< bucket start, so it sorts
    * before every in-bucket row and never collides with one). The
    * carry-in pre-pass runs on the per-bucket summary table — one row
    * per active (key, bucket), thousands where the raw data has
    * billions — so its unsalted window is free. Where c24 pays a
    * 3-way union + big windowed carry-forward over all rows, this is
    * the same two-exchange zipper as c22, just keyed one level finer.
    * Bucket width = the salt granularity. Precondition: t >= 0 (`div`
    * truncates toward zero, so negative epoch days would fold buckets
    * -15..15 together; TPC-H-era data is all post-1970).
    * Semantics and oracle are exactly c21's. */
  def qAsofSaltedNative(spark: SparkSession, dir: String): DataFrame = {
    val bucketDays = 16L
    val ev = Analytics.asofEvents(spark, dir).withColumn("kb", expr(s"t div $bucketDays"))
    val od = Analytics.asofOrders(spark, dir, "rk", "rt")
      .withColumn("rb", expr(s"rt div $bucketDays"))
    // latest order per active (key, bucket) — the ONLY data the
    // cross-bucket pass touches. max(struct(rt, tiebreak...)) picks
    // the same winner the zipper's tiebreak ordering would.
    val lastInBkt = od.groupBy("rk", "rb")
      .agg(max(struct(col("rt"), col("o_orderkey"), col("o_totalprice"))).as("s"))
    // carry-in for every bucket either side touches: running last
    // order over the bucket sequence, shifted one bucket forward
    val bkts = ev.select(col("k").as("rk"), col("kb").as("rb"))
      .union(od.select("rk", "rb")).distinct()
    val wb = Window.partitionBy("rk").orderBy("rb")
    val carry = bkts.join(lastInBkt, Seq("rk", "rb"), "left")
      .withColumn("run", last(col("s"), ignoreNulls = true)
        .over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cin", lag(col("run"), 1).over(wb))
      .filter(col("cin").isNotNull)
      .select(col("rk"), col("rb"), col("cin.rt").as("rt"),
        col("cin.o_orderkey").as("o_orderkey"),
        col("cin.o_totalprice").as("o_totalprice"))
    val aug = od.select("rk", "rb", "rt", "o_orderkey", "o_totalprice")
      .unionByName(carry)
    asofJoinKeys(ev, aug, Seq("k", "kb"), Seq("rk", "rb"), "t", "rt",
        rightTiebreak = Seq("o_orderkey", "o_totalprice"))
      .select(col("event_id"), col("k"), col("t").as("event_day"),
        col("rt").as("order_day"), col("o_orderkey"), col("o_totalprice"))
      .orderBy("event_id")
  }


  /** Same result contract as c21 ⇒ same oracle (both variants). */
  val registry: Seq[Query] = Seq(
    Query("q_asof_native", qAsofNative, Oracle(Analytics.qAsofJoinSql)),
    Query("q_asof_salted_native", qAsofSaltedNative, Oracle(Analytics.qAsofJoinSql)))
}
