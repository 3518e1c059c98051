package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-phase GLOBAL ranks without a single-partition window — c60's
  * measured prefix-sum split (AnalyticsTs.scala qConcurrency),
  * generalized so every corpus-proportional `row_number() OVER
  * (ORDER BY ...)` / `ntile(k) OVER (ORDER BY ...)` in the library can
  * ride it. The naive form moves ALL rows to ONE task (Spark's
  * "WindowExec: No Partition Defined" degradation — at 100 TB that
  * task simply never finishes); the split keeps every row-scale stage
  * parallel:
  *
  *  - phase 1: rows hash-shuffle to RANGE BUCKETS of the sort key
  *    (caller supplies a bucket expression monotone non-decreasing
  *    along the intended total order — value-width slices, so the
  *    bucket COUNT is distribution-bounded, not corpus-bounded);
  *  - the carry-in offset of each bucket = Σ counts of lower buckets,
  *    computed on the BUCKET SUMMARY (one row per bucket) via a
  *    bounded triangular self-join — deliberately NOT a window, so
  *    the whole query plan carries zero unpartitioned WindowExecs;
  *  - phase 2: `row_number` per bucket partition (parallel across
  *    buckets) + the broadcast offset = the exact global rank.
  *
  * Determinism: identical to the single-partition window whenever
  * `order` is a total order (callers tie-break on a key), because
  * bucket monotonicity makes bucket-local order concatenate to the
  * global order.
  *
  * Caller note: the helper references `df` from several branches
  * (rows, bucket counts, carry-ins), and Spark's logical plan
  * DUPLICATES the upstream tree per reference — when df is an
  * EXPENSIVE derivation (a keyed aggregate, a model join), callers
  * should `localCheckpoint(true)` it first so the branches read the
  * materialized bounded table instead of re-deriving it (the Dedup
  * family's memo discipline; measured 2.29 → 1.61 s on f35's
  * classifier-fed rank). MEASURE before applying: a single cheap
  * keyed aggregate re-derives faster than it materializes (c70/c75
  * each benched WORSE with a checkpoint and run bare), and a plain
  * pruned parquet scan never needs one — re-scanning columns is what
  * parquet is for. The crossover is CHAINED legs: c80's three RFM
  * ranks multiplied the re-derivation to 44 input scans, and the
  * checkpoint wins (r15; A/B in bench_extra_r20).
  */
object TwoPhase {

  /** `df` plus column `out` = 1-based global row_number under `order`.
    * `bucket` MUST be a monotone non-decreasing function of the
    * leading sort key(s) — all rows of a lower bucket sort before all
    * rows of a higher one. When `total` is set, a column of that name
    * carries the GLOBAL row count on every row — it folds off the
    * bucket summary (whose shuffle is exchange-reused), where a
    * separate `df.agg(count)` would re-execute df's lineage from its
    * last exchange (expensive when df ends map-side, e.g. f35's
    * classifier join).
    */
  def globalRowNumber(df: DataFrame, bucket: Column, order: Seq[Column],
      out: String, total: Option[String] = None): DataFrame = {
    val b = df.withColumn("__tp_bkt", bucket)
    val counts = b.groupBy("__tp_bkt").agg(count(lit(1)).as("__tp_cnt"))
    // carry-in per bucket: triangular join on the bucket summary
    // (buckets² rows of bounded arithmetic — no window, no warning)
    val lower = counts.select(col("__tp_bkt").as("__tp_b2"),
      col("__tp_cnt").as("__tp_cnt2"))
    val offsets = counts.join(broadcast(lower),
        col("__tp_b2") < col("__tp_bkt"), "left")
      .groupBy("__tp_bkt")
      .agg(coalesce(sum(col("__tp_cnt2")), lit(0L)).as("__tp_off"))
    // the global total folds off the SAME bucket summary (its shuffle
    // is exchange-reused), never re-executing df's lineage
    val grand = counts.agg(sum(col("__tp_cnt")).as("__tp_n"))
    val joined = b.join(broadcast(offsets), "__tp_bkt")
      .withColumn(out, col("__tp_off") +
        row_number().over(Window.partitionBy(col("__tp_bkt")).orderBy(order: _*)))
      .drop("__tp_bkt", "__tp_off")
    total match {
      case Some(n) => joined.crossJoin(broadcast(grand))
        .withColumnRenamed("__tp_n", n)
      case None => joined
    }
  }

  /** Distribution-FREE variant: instead of caller-supplied value-width
    * buckets (whose count is only bounded when the key's domain is —
    * an adversarially spread key could mint one bucket per row and
    * blow the broadcast), ride Spark's own range partitioner: sample
    * the sort key, split into exactly `partitions` ranges, and use the
    * physical partition id as the bucket. Costs ONE extra sampling
    * pass over df (the reservoir job repartitionByRange always runs);
    * buys a HARD bound of `partitions` carry-in rows for any
    * distribution. `partitions` defaults to the session's
    * `spark.sql.shuffle.partitions`: the ranks do not depend on the
    * range count (the concatenation argument below), so the count only
    * sets parallelism, which then follows the session instead of a
    * fixed 32 (more tasks than cores on a laptop, a cap at cluster
    * scale). Output ranks are deterministic even though the
    * partition boundaries come from sampling: the rank depends only on
    * the total `order`, and concatenating range partitions in pid
    * order IS that order wherever the sampler happens to cut.
    * Choose by domain knowledge: value buckets when the key's range is
    * structurally bounded (day counts, cent slices of a known revenue
    * scale — no sampling pass), this variant when it is not.
    *
    * The bucketed input is MATERIALIZED (eager localCheckpoint) before
    * it is referenced twice (bucket counts, rank join): the sampler's
    * range boundaries depend on upstream row order, which is
    * nondeterministic after a shuffle, so without materialization the
    * two plan branches would only agree because Spark happens to reuse
    * the single range exchange — with exchange reuse disabled or a
    * plan divergence they could see DIFFERENT boundaries and silently
    * duplicate/skip ranks. The checkpoint pins one set of boundaries
    * for both branches (and is why the value-bucket variant above,
    * whose buckets are pure functions of the row, needs none). The
    * checkpointed partition id is then the bucket of
    * [[globalRowNumber]]: carry-in, rank and total are its code.
    */
  def globalRowNumberByRange(df: DataFrame, order: Seq[Column],
      out: String, partitions: Int = 0, total: Option[String] = None): DataFrame = {
    val b = df.repartitionByRange(ranges(df, partitions), order: _*)
      .withColumn("__tp_bkt", spark_partition_id())
      .localCheckpoint(true)
    globalRowNumber(b, col("__tp_bkt"), order, out, total)
  }

  /** Two-phase KEYED PREFIX SUM — the distributed running total
    * (`sum(value) OVER (PARTITION BY keys ORDER BY order ROWS
    * UNBOUNDED PRECEDING)`) without a per-key single-partition window.
    * The naive window moves EVERY row of a key to ONE task — when the
    * key has a handful of values (the g-family's mime classes) that is
    * the global single-partition degradation wearing a partitionSpec
    * as camouflage. The split mirrors [[globalRowNumberByRange]]:
    *
    *  - rows range-shuffle on (keys, order) — per-key runs land in
    *    bucket-contiguous, order-sorted ranges; the bucketed input is
    *    MATERIALIZED (same sampled-boundary determinism argument);
    *  - per (bucket, keys) sums fold to a bounded summary; each run's
    *    carry-in = Σ of its key's sums in LOWER buckets (triangular
    *    join on the summary — buckets × |keys| rows, broadcast);
    *  - the in-bucket running sum is a window partitioned by
    *    (bucket, keys) — parallel across buckets — plus the carry-in.
    *
    * Exact whenever (keys, order) is a total order per key (callers
    * tie-break on a unique id), by the same concatenation argument as
    * the rank helper, whatever the range count (`partitions`, by
    * default the session's shuffle partitions). */
  def globalCumSumByKey(df: DataFrame, keys: Seq[Column], order: Seq[Column],
      value: Column, out: String, partitions: Int = 0): DataFrame = {
    val b = df.repartitionByRange(ranges(df, partitions), (keys ++ order): _*)
      .withColumn("__tp_bkt", spark_partition_id())
      .withColumn("__tp_v", value)
      .localCheckpoint(true)
    val keyNames = keys.zipWithIndex.map { case (_, i) => s"__tp_k$i" }
    val keyed = keys.zip(keyNames).foldLeft(b) { case (d, (k, n)) => d.withColumn(n, k) }
    val sums = keyed.groupBy(col("__tp_bkt") +: keyNames.map(col): _*)
      .agg(sum(col("__tp_v")).as("__tp_s"))
    val lower = sums.select(col("__tp_bkt").as("__tp_b2") +:
      (keyNames.map(n => col(n).as(s"${n}_2")) :+ col("__tp_s").as("__tp_s2")): _*)
    val sameKey = keyNames.map(n => col(n) === col(s"${n}_2")).reduce(_ && _)
    val offsets = sums.join(broadcast(lower),
        sameKey && col("__tp_b2") < col("__tp_bkt"), "left")
      .groupBy(col("__tp_bkt") +: keyNames.map(col): _*)
      .agg(coalesce(sum(col("__tp_s2")), lit(0L)).as("__tp_off"))
    val w = Window.partitionBy(col("__tp_bkt") +: keyNames.map(col): _*)
      .orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    keyed.join(broadcast(offsets), "__tp_bkt" +: keyNames)
      .withColumn(out, col("__tp_off") + sum(col("__tp_v")).over(w))
      .drop("__tp_bkt" +: "__tp_v" +: "__tp_off" +: keyNames: _*)
  }

  /** The range count of the two range helpers: `partitions` when it is
    * positive, else (the default) the session's shuffle partitions. */
  private def ranges(df: DataFrame, partitions: Int): Int =
    if (partitions > 0) partitions
    else df.sparkSession.sessionState.conf.numShufflePartitions

  /** SQL expression computing `ntile(k)` from a global 1-based rank
    * and the row count — the ANSI bucket rule both engines implement
    * (base = n div k rows per bucket, the first n mod k buckets take
    * one extra), so a two-phase rank replaces the ntile window
    * bit-identically. The ELSE branch is unreachable when n < k
    * (every rank lands in the WHEN), so its div-by-zero never fires.
    */
  def ntileFromRank(rank: String, n: String, k: Int): String =
    s"""CAST(CASE WHEN ($rank - 1) DIV (($n DIV $k) + 1) < ($n % $k)
          THEN ($rank - 1) DIV (($n DIV $k) + 1) + 1
          ELSE ($n % $k) + (($rank - 1) - ($n % $k) * (($n DIV $k) + 1)) DIV ($n DIV $k) + 1
        END AS INT)"""
}
