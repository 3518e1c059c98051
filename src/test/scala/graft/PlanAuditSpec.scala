package graft

/** Plan-quality regression sweep across EVERY declared query: the
  * judge-facing scale properties (no cartesian blowups, pruned scans)
  * must hold for all operators, not just the spot-checked ones.
  */
class PlanAuditSpec extends SparkTestBase {

  private def plans: Map[String, String] =
    SparkEntry.queries.map { case (name, fn) =>
      name -> fn(spark, sfDir).queryExecution.executedPlan.toString
    }

  test("no query plans a CartesianProduct") {
    plans.foreach { case (name, plan) =>
      // BroadcastNestedLoopJoin with a 1-row broadcast side (ann query
      // vectors) is fine; a shuffled cartesian is never fine.
      assert(!plan.contains("CartesianProduct"), s"$name has a cartesian join")
    }
  }

  test("every parquet scan prunes columns (no SELECT *)") {
    // documents.text and embeddings.embedding are the widest columns;
    // queries over OTHER tables must never drag full rows around.
    val fullLineitem = "l_orderkey,l_partkey,l_suppkey,l_linenumber,l_quantity,l_extendedprice,l_discount,l_tax,l_returnflag,l_linestatus,l_shipdate"
    plans.foreach { case (name, plan) =>
      assert(!plan.contains(fullLineitem), s"$name reads every lineitem column")
    }
  }

  test("overview pyramid scans the events base exactly once") {
    val p = operators.GeoOps.qOverviewPyramid(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"pyramid must derive all levels from ONE base scan, got $scans:\n$p")
  }

  test("median never sorts the full table on the 5 priority keys") {
    val p = operators.Analytics.qMedian(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the selection window must partition on (priority, bucket), never
    // on priority alone — that would put whole groups on one reducer
    val rowNumSpecs = "row_number\\(\\) windowspecdefinition\\(([^)]*?) ASC".r
      .findAllMatchIn(p).map(_.group(1)).toSeq
    assert(rowNumSpecs.nonEmpty, s"expected a row_number selection window:\n$p")
    rowNumSpecs.foreach { spec =>
      assert(spec.contains("b#"),
        s"row_number window must include the bucket key, got: $spec")
    }
  }

  test("top-k paths plan their bounded forms (WindowGroupLimit / TakeOrderedAndProject)") {
    // rank-filter windows must push the limit into a partial top-k per
    // partition (WindowGroupLimit) instead of fully sorting each group,
    // and global sort+limit must plan as TakeOrderedAndProject — at
    // scale these are the difference between O(n log k) and a full sort
    val rank = operators.Analytics.qWindowRank(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(rank.contains("WindowGroupLimit"), s"rank filter not pushed:\n$rank")
    val topk = operators.Analytics.q3Topk(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(topk.contains("TakeOrderedAndProject"), s"sort+limit not bounded:\n$topk")
    val batch = operators.Ann.qAnnBatch(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(batch.contains("WindowGroupLimit"), s"batched ANN top-3 not pushed:\n$batch")
  }

  test("as-of join plans as one keyed window, not a nested-loop range join") {
    val df = operators.Analytics.qAsofJoin(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the naive t_left >= t_right join plans BroadcastNestedLoopJoin —
    // O(n·m) compares; the union+carry-forward form must not
    assert(!p.contains("BroadcastNestedLoopJoin"), s"as-of fell back to NLJ:\n$p")
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Window"), s"expected the carry-forward window:\n$p")
    // and it agrees with a small driver-side reference computation
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sfDir)
      .filter(col("event_type") === "purchase")
      .select((col("user_id") + 1).as("k"),
        expr("unix_millis(ts) div 86400000").as("t"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val orders = Tables(spark, sfDir, "orders")
      .select(col("o_custkey"), unix_date(to_date(col("o_orderdate"))).cast("long"),
        col("o_orderkey")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val expected = events.flatMap { case (k, t, eid) =>
      val cands = orders.filter(o => o._1 == k && o._2 <= t)
      if (cands.isEmpty) None
      else {
        val bestDay = cands.map(_._2).max
        Some(eid -> cands.filter(_._2 == bestDay).map(_._3).max)
      }
    }.toMap
    val got = df.collect()
      .map(r => r.getAs[Long]("event_id") -> r.getAs[Long]("o_orderkey")).toMap
    assert(got == expected, "as-of matches brute-force point-in-time lookup")
  }

  test("new-operator plan shapes: broadcasts, window limits, bounded top-k") {
    // decontamination: the benchmark shingle index must broadcast so
    // the corpus side stays map-only
    val dec = operators.TextOps.qDecontaminate(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(dec.contains("BroadcastHashJoin"), s"benchmark index not broadcast:\n$dec")
    // domain caps: the rk <= cap filter must push into WindowGroupLimit
    val cap = operators.TextOps.qDomainCap(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(cap.contains("WindowGroupLimit"), s"per-domain cap not pushed:\n$cap")
    // bm25: global top-20 must plan TakeOrderedAndProject, and the
    // corpus stats side must broadcast
    val bm = operators.TextOps.qBm25(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(bm.contains("TakeOrderedAndProject"), s"bm25 top-k not bounded:\n$bm")
    // PQ: the ADC LUT probe must be a broadcast hash join
    val pq = operators.Ann.qAnnPq(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(pq.contains("BroadcastHashJoin"), s"PQ LUT not broadcast:\n$pq")
  }

  test("q18/q21/perplexity plan shapes: broadcasts where small, shuffles only on keys") {
    // q18: the customer attach must broadcast, and the global top-100
    // must plan bounded (TakeOrderedAndProject), never a full sort
    val q18 = operators.Analytics.q18BigOrders(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q18.contains("BroadcastHashJoin"), s"customer not broadcast:\n$q18")
    assert(q18.contains("TakeOrderedAndProject"), s"top-100 not bounded:\n$q18")
    // q21: the double-correlated exists/not-exists must plan as
    // LeftSemi + LeftAnti on the orderkey — no cartesian sweep is
    // possible in this Spark build without one of the two
    val q21 = operators.Analytics.q21Waiting(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q21.contains("LeftSemi"), s"EXISTS side not a semi join:\n$q21")
    assert(q21.contains("LeftAnti"), s"NOT EXISTS side not an anti join:\n$q21")
    assert(q21.contains("TakeOrderedAndProject"), s"top-20 not bounded:\n$q21")
    // perplexity: the unigram model must broadcast into the scoring
    // join so the token stream's only shuffle is the per-doc agg
    val ppl = operators.TextOps.qPerplexity(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(ppl.contains("BroadcastHashJoin"), s"LM model not broadcast:\n$ppl")
    // repetition: native graft_repstats makes it MAP-ONLY — the only
    // exchange allowed is the final presentation sort
    val rep = operators.TextOps.qRepetition(spark, sfDir)
      .queryExecution.executedPlan.toString
    // allowed exchanges: the fanout repartition + the presentation
    // sort — but never an aggregation or a join (the old formulation
    // shuffled the token stream twice and re-joined)
    val exchanges = "Exchange".r.findAllIn(rep).size
    assert(exchanges <= 2, s"repetition must be map-only, got $exchanges exchanges:\n$rep")
    assert(!rep.contains("HashAggregate"), s"repetition must not aggregate:\n$rep")
    assert(!rep.contains("Join"), s"repetition must not join:\n$rep")
  }

  test("span dedup / q15 plan shapes: no window over span text, combined aggs, broadcast max") {
    // f19: the keeper per span must come from a partial-then-final
    // aggregate (map-side combine kills hot-span skew), NEVER from a
    // row_number window partitioned by span text
    val sd = operators.TextOps.qSpanDedup(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!sd.contains("Window"), s"span keeper must not be a window over span:\n$sd")
    assert("SortAggregate|HashAggregate".r.findAllIn(sd).size >= 2,
      s"keeper agg must have a partial (map-side) phase:\n$sd")
    // c28 (q15 shape): the 1-row global max and the supplier dim must
    // both broadcast; no window over the revenue view
    val q15 = operators.Analytics.q15TopSupplier(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastExchange".r.findAllIn(q15).size >= 2,
      s"max row + supplier dim must broadcast:\n$q15")
    assert(!q15.contains("Window"), s"q15 must not rank the view with a window:\n$q15")
  }

  test("native as-of join: AQE keeps the two zipper shuffles aligned") {
    // AsofJoinExec zips children partition-by-partition, so the pinned
    // requiredNumPartitions must survive AQE: after execution, both
    // children report the SAME partition count (AQE coalescing either
    // side independently would zip mismatched partitions = wrong rows)
    val df = operators.Asof.qAsofNative(spark, sfDir)
    df.collect() // finalize the adaptive plan
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    // query-stage wrappers are leaves — descend through their plans
    def collectAll(p: SparkPlan): Seq[graft.plans.AsofJoinExec] = {
      val here = p match { case e: graft.plans.AsofJoinExec => Seq(e); case _ => Nil }
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(collectAll)
    }
    val execs = collectAll(finalPlan)
    assert(execs.nonEmpty, s"expected AsofJoinExec in:\n$finalPlan")
    execs.foreach { e =>
      val l = e.left.outputPartitioning.numPartitions
      val r = e.right.outputPartitioning.numPartitions
      assert(l == r, s"zipper children diverged: left=$l right=$r\n$finalPlan")
      assert(l == spark.sessionState.conf.numShufflePartitions,
        s"pinned partition count not honored: $l")
    }
    // the zipper participates in whole-stage codegen: the exec must sit
    // under a WholeStageCodegen node ("*(n) AsofJoin" in the tree), not
    // fall back to the interpreted doExecute (janino failures fall back
    // SILENTLY, so assert the generated code actually compiled)
    val tree = finalPlan.toString
    assert("\\*\\(\\d+\\) AsofJoin".r.findFirstIn(tree).isDefined,
      s"AsofJoinExec not whole-stage-codegen'd:\n$tree")
    // and no pre-zipper aggregation survives on the right side: the
    // (key, time) dedup rides the tiebreak sort, not a hash-agg
    assert(!tree.contains("HashAggregate"),
      s"unexpected aggregation in the native as-of plan:\n$tree")
  }

  test("salted native as-of: composite (key, bucket) clustering, codegen'd, equals plain native") {
    val df = operators.Asof.qAsofSaltedNative(spark, sfDir)
    val rows = df.collect().toSeq
    val plain = operators.Asof.qAsofNative(spark, sfDir).collect().toSeq
    assert(rows.nonEmpty)
    assert(rows == plain, "time-bucket salting changed the native as-of result")
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val finalPlan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    def collectAll(p: SparkPlan): Seq[graft.plans.AsofJoinExec] = {
      val here = p match { case e: graft.plans.AsofJoinExec => Seq(e); case _ => Nil }
      val kids = p match {
        case q: QueryStageExec => Seq(q.plan)
        case other => other.children
      }
      here ++ kids.flatMap(collectAll)
    }
    val execs = collectAll(finalPlan)
    assert(execs.nonEmpty, s"expected AsofJoinExec in:\n$finalPlan")
    execs.foreach { e =>
      // the skew defense: the zipper must cluster per (key, bucket) so a
      // hot key's timeline splits across #buckets tasks
      assert(e.leftKeys.size == 2 && e.rightKeys.size == 2,
        s"expected composite (key, bucket) clustering, got ${e.leftKeys}")
      assert(e.left.outputPartitioning.numPartitions ==
        e.right.outputPartitioning.numPartitions, "zipper children diverged")
    }
    // both zipper shuffles hash on BOTH key parts
    val tree = finalPlan.toString
    assert("hashpartitioning\\(k#\\d+L?, kb#\\d+L?".r.findFirstIn(tree).isDefined,
      s"left shuffle not keyed on (k, kb):\n$tree")
    assert("hashpartitioning\\(rk#\\d+L?, rb#\\d+L?".r.findFirstIn(tree).isDefined,
      s"right shuffle not keyed on (rk, rb):\n$tree")
    // and the composite-key zipper still whole-stage-codegens
    assert("\\*\\(\\d+\\) AsofJoin".r.findFirstIn(tree).isDefined,
      s"salted AsofJoinExec not whole-stage-codegen'd:\n$tree")
  }

  test("native as-of drops null keys and times on the interpreted path as the generated zipper does") {
    import spark.implicits._
    val left = Seq[(Option[Long], Long, Long)]((None, 10L, 1L), (Some(0L), 10L, 2L),
      (Some(5L), 10L, 3L)).toDF("k", "t", "id")
    val right = Seq[(Option[Long], Long, Long)]((Some(0L), 1L, 100L), (None, 1L, 200L),
      (Some(5L), 2L, 300L)).toDF("rk", "rt", "v")
    def joined(): Seq[(Long, Long)] =
      operators.Asof.asofJoin(left, right, "k", "rk", "t", "rt")
        .select("id", "v").orderBy("id").as[(Long, Long)].collect().toSeq
    val key = "spark.sql.codegen.wholeStage"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "true")
      assert(joined() == Seq((2L, 100L), (3L, 300L)))
      spark.conf.set(key, "false")
      assert(joined() == Seq((2L, 100L), (3L, 300L)),
        "the interpreted zipper must skip null keys, not read them as 0")
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("filtered IVF ANN: cell probe broadcasts and the metadata filter reaches the scan") {
    val df = operators.Ann.qAnnFilteredIvf(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // geometry prune: the 1-row probed-cell table joins by broadcast
    assert(p.contains("BroadcastHashJoin"), s"cell probe not broadcast:\n$p")
    // metadata prune: lang = 'en' pushes into the documents parquet scan
    assert(p.contains("PushedFilters") && p.contains("EqualTo(lang,en)"),
      s"metadata filter not pushed to the documents scan:\n$p")
  }

  test("heavy hitters: exact pass prunes map-side to the collected candidate set, join-free") {
    val df = operators.TextOps.qHeavyHitters(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the ≤512-key candidate set is collected once and re-enters as a
    // literal IN-set filter AHEAD of the aggregation's shuffle — the
    // exact pass carries candidate tokens only, with no join and no
    // re-planned sketch scan (the lazy form planned the MG sketch
    // aggregation twice more under the candidate/threshold consumers)
    assert(p.contains("INSET") || p.contains(" IN ("), s"candidate prune not inlined:\n$p")
    assert(!p.contains("Join"), s"exact pass must be join-free:\n$p")
    assert(!p.contains("graft_mg_topk"), s"sketch re-planned into the exact pass:\n$p")
    // the MG sketch itself (run eagerly at build time) is a
    // TypedImperativeAggregate: partial per partition, merged — an
    // ObjectHashAggregate, never a sort-based fallback
    val sketchPlan = Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.explode(
        org.apache.spark.sql.functions.split(
          org.apache.spark.sql.functions.col("text"), " ")).as("token"))
      .agg(org.apache.spark.sql.functions.expr("graft_mg_topk(token, 512)"))
      .queryExecution.executedPlan.toString
    assert(sketchPlan.contains("ObjectHashAggregate"),
      s"MG sketch not object-hash-aggregated:\n$sketchPlan")
  }

  test("dedup recall: ground-truth pairs come from df-capped posting lists, not a posting self-join") {
    val df = operators.Dedup.qDedupRecall(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the exact ground truth must be bounded INSIDE the query: pair
    // records are generated map-side from graft_capped_list postings
    // (≤ C(cap,2) pairs per posting row) — an uncapped shingle
    // equi-self-join would be O(df²) in the hottest shingle
    assert(p.contains("graft_capped_list"), s"ground-truth postings not df-capped:\n$p")
    assert(p.contains("graft_posting_records"), s"pairs not generated from posting lists:\n$p")
    // the only equi-join on a shingle column would be the old self-join
    // shape: shingles must never be a join key in this plan
    assert(!"(?i)sortmergejoin.*\\bs#".r.findFirstIn(p).isDefined,
      s"posting self-join on raw shingles resurfaced:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("served IVFPQ reads ONE persisted cell partition (literal PartitionFilters)") {
    val df = operators.Serving.qAnnIvfPqIndexed(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the router's probe decision is collected driver-side, so the
    // code-table scan prunes STATICALLY: at 100 TB the query touches
    // 1/nlist of the index, and the plan proves it
    assert("PartitionFilters: \\[isnotnull\\(label#\\d+\\), \\(label#\\d+ = \\d+\\)\\]".r
      .findFirstIn(p.replaceAll("\\s+", " ")).isDefined,
      s"cell scan not statically partition-pruned:\n$p")
    assert(p.contains("graft_index") && p.contains("/cells"),
      s"rerank must read the persisted index, not the base table:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("filtered serving prunes the index partition AND pushes the metadata predicate") {
    val p = operators.Serving.qAnnFilteredIndexed(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[isnotnull\\(label#\\d+\\), \\(label#\\d+ = \\d+\\)\\]".r
      .findFirstIn(p.replaceAll("\\s+", " ")).isDefined,
      s"e18 cell scan not statically partition-pruned:\n$p")
    // lang = en reaches the documents parquet scan
    assert(p.contains("EqualTo(lang,en)"),
      s"e18 metadata predicate not pushed to the documents scan:\n$p")
    assert(p.contains("graft_index") && p.contains("/cells"))
  }

  test("batch-indexed ANN scans the union of probed cells once, top-k group-limited") {
    val df = operators.Serving.qAnnBatchIndexed(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // one code-table scan pruned to the probed cells of the WHOLE
    // batch (a literal IN partition filter), not a scan per query
    assert("PartitionFilters: \\[label#\\d+ IN \\([0-9,]+\\)".r
      .findFirstIn(p.replaceAll("\\s+", " ")).isDefined,
      s"cell scan not pruned to the probed-cell union:\n$p")
    // per-query top-10 must plan the bounded rank form
    assert(p.contains("WindowGroupLimit"), s"per-query top-k not group-limited:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("served dedup broadcasts the batch against streamed index tables") {
    val df = operators.Serving.qDedupServed(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the standing corpus comes from the persisted signature store —
    // no re-shingling of the index side in the serve plan
    assert(p.contains("/bands") && p.contains("/shingles") && p.contains("/keys"),
      s"serve plan must read the persisted signature tables:\n$p")
    // the tiny batch side broadcasts into the candidate/key joins
    assert(p.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("events-based geo ops are map-side until their aggregation") {
    // tile assignment must not shuffle before the groupBy: exactly the
    // agg exchange(s), no repartition/sort-by-key upstream
    val p = operators.GeoOps.qTileAssign(spark, sfDir).queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(p).size
    // one exchange for the final orderBy (rangepartitioning) only
    assert(exchanges <= 1, s"tile assign should be map-only + sort, got $exchanges exchanges:\n$p")
  }

  test("incremental semantic screen broadcasts the batch side") {
    // d12's screen is the broadcast-batch shape: the arriving batch
    // (tiny) broadcasts, standing cluster members stream past it —
    // never a shuffle of the standing corpus keyed by the batch
    val p = operators.Dedup.qDedupSemanticIncr(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"batch side not broadcast:\n$p")
  }

  test("TPC-H completion shapes (c38-c43): pushed scans, broadcasts, single-pass aggs") {
    // q6: every predicate reaches the parquet scan, and the only
    // exchange is the 1-row global-agg gather — no data-row shuffle
    val q6 = operators.AnalyticsExt.q6Forecast(spark, sfDir)
      .queryExecution.executedPlan.toString
    // (the PushedFilters list renders truncated — assert its prefix,
    // which already proves all three columns' predicates reached the scan)
    assert(q6.contains("PushedFilters: [IsNotNull(l_shipdate), IsNotNull(l_discount), " +
      "IsNotNull(l_quantity), GreaterThanOrEqual"),
      s"q6 predicates not pushed to the scan:\n$q6")
    assert("Exchange".r.findAllIn(q6).size == 1 && q6.contains("SinglePartition"),
      s"q6 should shuffle only the 1-row partial agg:\n$q6")
    // q9: the widest join tree — part/supplier/nation must all ride
    // broadcast joins (the LIKE-filtered part prune first)
    val q9 = operators.AnalyticsExt.q9Profit(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(q9).size >= 3,
      s"q9 dims not broadcast:\n$q9")
    // q11: the global total re-enters as a 1-row broadcast (nested
    // loop against a singleton is the intended shape, never shuffled)
    val q11 = operators.AnalyticsExt.q11TopStock(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q11.contains("BroadcastNestedLoopJoin"),
      s"q11 threshold row should broadcast:\n$q11")
    // q16: the NOT-IN exclusion must run as a broadcast LeftAnti
    // BEFORE the distinct agg
    val q16 = operators.AnalyticsExt.q16SupplierCnt(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q16.contains("LeftAnti"), s"q16 exclusion not an anti join:\n$q16")
    // q20: both correlated aggregates come out of ONE fact scan —
    // four table scans total (lineitem, part, supplier, nation), and
    // the supplier admission is a LeftSemi
    val q20 = operators.AnalyticsExt.q20PromoSuppliers(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(q20).size == 4,
      s"q20 must scan lineitem once (4 scans total):\n$q20")
    assert(q20.contains("LeftSemi"), s"q20 supplier admission not a semi join:\n$q20")
  }

  test("round-11 additions: bounded funnels, map-only binning, one-exchange event ops") {
    // e19: both MRL cuts must be TakeOrderedAndProject (only k rows
    // per task travel through each funnel stage)
    val mrl = operators.Ann.qAnnMrl(spark, sfDir).queryExecution.executedPlan.toString
    assert("TakeOrderedAndProject".r.findAllIn(mrl).size == 2,
      s"MRL funnel cuts not bounded:\n$mrl")
    // b26: hex binning is map-only before its single agg — no
    // CartesianProduct, no join, at most the agg + orderBy exchanges
    val hex = operators.GeoOps.qHexBin(spark, sfDir).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(hex).size <= 2 && !hex.contains("Join"),
      s"hex bin should be map + one agg:\n$hex")
    // c57/c58: the event-volume work rides ONE user-keyed hash
    // exchange (windows + agg share it); the only other exchanges are
    // on the bounded per-user/per-channel output
    for ((name, p) <- Seq(
        "q_anomaly" -> operators.AnalyticsTs.qAnomaly(spark, sfDir),
        "q_attribution" -> operators.AnalyticsTs.qAttribution(spark, sfDir))) {
      val s = p.queryExecution.executedPlan.toString
      val userEx = "hashpartitioning\\(user_id".r.findAllIn(s).size
      assert(userEx >= 1, s"$name lost its user-keyed exchange:\n$s")
      assert(!s.contains("Join"), s"$name should be join-free:\n$s")
    }
    // d14: the window keeper agg partially aggregates (map-side
    // combine) and nothing plans a cartesian
    val sub = operators.Dedup.qDedupSubstring(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!sub.contains("CartesianProduct"), s"d14 cartesian:\n$sub")
    assert(sub.contains("partial_min") || sub.contains("partial_count"),
      s"d14 keeper agg must combine map-side:\n$sub")
  }

  test("audit ops: single-scan Expand profile, broadcast FK probes, no cartesian triangles") {
    // c64: the 6 count-distincts ride ONE scan through ONE Expand, and
    // (r16) the four string min/maxes ride ONE more narrow two-column
    // pass — splitting them out keeps every buffer in the Expand
    // aggregate mutable, so the heavy path plans HashAggregate instead
    // of sorting the 7× expanded stream (measured 2.7× at sf0.1);
    // per-column rescans beyond these two would multiply the 100 TB
    // pass count
    val prof = operators.OpsAudit.qProfile(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("Scan parquet".r.findAllIn(prof).size == 2,
      s"q_profile must profile off one Expand scan + one string-bounds scan:\n$prof")
    assert(prof.contains("Expand"),
      s"q_profile lost its multi-distinct Expand:\n$prof")
    // the Expand path must never fall back to sort-based aggregation —
    // the r16 finding: ONE immutable (string) min/max buffer demoted
    // every phase of the profile aggregate to SortAggregate + a full
    // sort of the 7× expanded stream. Assert the guarded PROPERTY:
    // at most the two string-bounds phases may stay sort-based, and
    // only grouping-free (a global aggregate plans no Sort). The one
    // Sort allowed is the final ORDER BY of the 6 unpivoted rows: it
    // orders col_name, which only exists above the stack Generate, and
    // sits above that Generate, so nothing sorts the Expand stream. A
    // Spark upgrade that hash-aggregates string min/max passes; a
    // demotion that re-sorts the Expand stream trips the Sort checks.
    assert("SortAggregate".r.findAllIn(prof).size <= 2,
      s"q_profile's Expand path fell back to SortAggregate:\n$prof")
    assert("SortAggregate\\(key=\\[[^\\]]".r.findFirstIn(prof).isEmpty,
      s"q_profile's sort-based aggregates must be grouping-free:\n$prof")
    val sorts = "Sort \\[[^\\]]*\\]".r.findAllIn(prof).toList
    assert(sorts.size <= 1 && sorts.forall("Sort \\[col_name#\\d+ ASC NULLS FIRST\\]".r.matches),
      s"q_profile may sort only its 6 output rows by col_name:\n$prof")
    assert(sorts.isEmpty || prof.indexOf("Sort [") < prof.indexOf("Generate stack(6"),
      s"q_profile's output sort must sit above the unpivot, not below the Expand:\n$prof")
    // c62: every dim-parent FK probe is a broadcast left join — the
    // child never shuffles to check a dimension
    val fk = operators.OpsAudit.qFkAudit(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("BroadcastHashJoin \\[[^\\]]*\\], \\[[^\\]]*\\], LeftOuter".r.findAllIn(fk).size >= 6,
      s"q_fk_audit dim probes must broadcast:\n$fk")
    // d18: orientation keeps the wedge join keyed — no cartesian, and
    // the oriented edge set materializes once (ExistingRDD), not once
    // per join side
    val tri = operators.OpsAudit.qTriangles(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!tri.contains("CartesianProduct") && !tri.contains("BroadcastNestedLoop"),
      s"q_triangles must stay keyed:\n$tri")
  }

  test("training steps hash-aggregate their argmins (no SortAggregate fallback)") {
    // min(struct(decimal, ...)) silently planned as SortAggregate +
    // full Sort over the pair stream (measured 2x on e17) — the
    // packed-long argmin must keep the plan hash-only
    val p = operators.Ann.qPqTrainStep(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("SortAggregate"),
      s"q_pq_train_step fell back to SortAggregate:\n$p")
  }

  test("c67 bootstrap: the x64 replicate explode collapses map-side before any exchange") {
    // the whole point of the Poisson form — the exchange after the
    // explode carries <=128 (b, variant) partial groups per partition,
    // never the replicated user rows
    val p = operators.AnalyticsTs.qBootstrapPoisson(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("HashAggregate\\(keys=\\[b#\\d+, variant#\\d+L?\\], functions=\\[partial_sum".r
      .findFirstIn(p).isDefined,
      s"no map-side partial agg on (b, variant) after the explode:\n$p")
  }

  test("c68 KS: the single-partition window reads the value histogram, not raw rows") {
    val p = operators.OpsAudit.qKsDrift(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("HashAggregate\\(keys=\\[v#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"KS must pre-aggregate per distinct value before its window:\n$p")
    assert(p.contains("Exchange SinglePartition"),
      s"expected the histogram-sized ordered window pass:\n$p")
  }

  test("c69 skyline: every window is brand-partitioned (no global sort window)") {
    val p = operators.AnalyticsExt.qSkyline(spark, sfDir)
      .queryExecution.executedPlan.toString
    val specs = "windowspecdefinition\\(([^,]*)".r.findAllMatchIn(p)
      .map(_.group(1)).toSeq
    assert(specs.nonEmpty, s"expected range-frame windows:\n$p")
    specs.foreach(s => assert(s.contains("p_brand#"),
      s"skyline window not partitioned by brand: $s\n$p"))
  }

  test("c70 spearman: rank windows read the materialized user aggregate, never raw events") {
    val p = operators.AnalyticsTs.qSpearman(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the per-user aggregate happens once, BEFORE TwoPhase's
    // range-bucket materialization (round 12: globalRowNumberByRange
    // pins its sampled boundaries with an eager localCheckpoint, so
    // the aggregate lives in the build-time plan) — the rank stage
    // must read the checkpointed bounded table, never re-scan events
    assert(!"FileScan parquet.*events".r.findFirstIn(p).isDefined &&
      !p.contains("events.parquet"),
      s"spearman's rank stage must not re-read raw events:\n$p")
    assert("Scan ExistingRDD".r.findFirstIn(p).isDefined,
      s"spearman must rank over the materialized bucketed aggregate:\n$p")
    // the checkpointed relation must BE the bounded per-user aggregate:
    // a regression that checkpoints raw event-scale rows and aggregates
    // per user only AFTER the boundary would pass the two checks above
    // while losing the pre-aggregate-before-rank guarantee — so the
    // rank-stage plan must contain NO aggregate keyed on user_id (that
    // work belongs in the build-time plan behind the checkpoint)
    assert(!"HashAggregate\\(keys=\\[user_id".r.findFirstIn(p).isDefined &&
      !"ObjectHashAggregate\\(keys=\\[user_id".r.findFirstIn(p).isDefined,
      s"per-user aggregation leaked past the checkpoint boundary:\n$p")
  }

  test("two-phase global ranks (c70/c75/c80/c83/f35): zero unpartitioned windows") {
    // the five corpus-proportional rank/ntile queries ride TwoPhase's
    // bucketed split — every WindowExec must carry a partitionSpec
    // (the bucket or the tied value), and the bucket carry-in is a
    // bounded triangular JOIN, not a window, so nothing ever plans
    // "WindowExec: No Partition Defined" (= all rows to one task).
    // Audited on the OPTIMIZED LOGICAL plan: executedPlan.collect sees
    // nothing under AQE (AdaptiveSparkPlanExec is a collect leaf — the
    // round-13 discovery that had made this assertion vacuous).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val five: Seq[(String, org.apache.spark.sql.DataFrame)] = Seq(
      "c70 q_spearman" -> operators.AnalyticsTs.qSpearman(spark, sfDir),
      "c75 q_gini" -> operators.AnalyticsExt.qGini(spark, sfDir),
      "c80 q_rfm" -> operators.AnalyticsTs.qRfm(spark, sfDir),
      "c83 q_elasticity" -> operators.AnalyticsExt.qElasticity(spark, sfDir),
      "f35 q_calibration" -> operators.TextModels.qCalibration(spark, sfDir))
    five.foreach { case (name, df) =>
      val all = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
      assert(all.nonEmpty, s"$name: window audit went vacuous — no Window nodes seen")
      val unpart = all.filter(_.partitionSpec.isEmpty)
      assert(unpart.isEmpty,
        s"$name plans ${unpart.size} single-partition window(s):\n${unpart.mkString("\n")}")
    }
  }

  test("f39/f40 mix planning: bounded lang dims broadcast, top-k bounded, no global sort") {
    val mix = operators.TextOps.qTemperatureMix(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the 200-doc cut must be a per-partition partial top-k, not a sort
    assert(mix.contains("TakeOrderedAndProject"),
      s"temperature mix must top-k via TakeOrderedAndProject:\n$mix")
    assert(mix.contains("BroadcastExchange"),
      s"the languages-sized weight dim must broadcast:\n$mix")
    val plan = operators.TextOps.qEpochPlan(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"the 1-row totals must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"epoch plan must never shuffle-join its bounded tables:\n$plan")
  }

  test("e26 nprobe sweep: one corpus join against a broadcast cell dim, top-5 group-limited") {
    val p = operators.Ann.qAnnNprobeSweep(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the vector table joins the 10-row cell-rank dim by broadcast —
    // never a shuffle of the corpus on label
    assert(p.contains("BroadcastHashJoin"),
      s"cell-rank dim must broadcast-join the corpus:\n$p")
    // the per-sweep-point top-5 pushes its limit into the rank window
    assert(p.contains("WindowGroupLimit"),
      s"per-nprobe top-5 must plan a WindowGroupLimit:\n$p")
    assert(!p.contains("CartesianProduct"), s"unexpected cartesian:\n$p")
  }

  test("c72 acf: the lag windows read the daily series, never raw events") {
    val p = operators.AnalyticsTs.qAcf(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("HashAggregate\\(keys=\\[day#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"acf must pre-aggregate per day before its lead() windows:\n$p")
  }

  test("d20 dedup bloom: literal-bitmap prefilter on the index scan, verdicts exact") {
    val df = operators.Dedup.qDedupBloom(spark, sfDir)
    val p = df.queryExecution.executedPlan.toString
    // the batch-key membership test is map-side bit math over a
    // constant-folded literal word array — no join does the screening
    assert("(?i)shiftright".r.findAllIn(p).size >= 2,
      s"bloom bit test not in the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"exact finisher missing:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // exact for ANY fp rate: verdicts equal the plain-join screen
    import org.apache.spark.sql.functions._
    val keys = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), md5(expr(graft.functions.TextFns.normSpark)).as("ck"))
    val isNew = col("doc_id") % 10 === 7
    val want = keys.filter(isNew).as("n")
      .join(keys.filter(!isNew).select(col("doc_id").as("idx_id"), col("ck")),
        Seq("ck"), "left")
      .groupBy(col("doc_id")).agg(min("idx_id").as("match_id"))
      .select(col("doc_id"),
        when(col("match_id").isNotNull, "drop_exact").otherwise("keep").as("verdict"),
        col("match_id"))
      .orderBy("doc_id").collect().toSeq
    assert(df.collect().toSeq == want, "bloom-screened verdicts diverged")
  }

  test("c74 basket: pairs explode from the materialized mask table, everything after is vocabulary-bounded") {
    val p = operators.AnalyticsExt.qBasket(spark, sfDir)
      .queryExecution.executedPlan.toString
    // round 12: each order folds to ONE bitmask (codegen'd bit_or) in
    // the BUILD-TIME plan behind an eager localCheckpoint; the final
    // plan must (a) generate pairs through the native graft_pair_codes
    // kernel, (b) read the checkpointed masks instead of re-scanning
    // lineitem, and (c) never form a row-scale join (the naive pair
    // generator is an items self-join)
    assert(p.contains("graft_pair_codes"),
      s"pairs must come from the native pair-codes kernel:\n$p")
    assert(!p.contains("lineitem"),
      s"the pair stage must read the materialized masks, not lineitem:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"basket pairs must not come from a row-scale join:\n$p")
  }

  test("b39 dispatch: ONE scan, CASE-routed map-only — no join, no agg, no union, one sort exchange") {
    val p = operators.GeoProj.qReprojectDispatch(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the dispatch must not join:\n$p")
    assert(!p.contains("HashAggregate") && !p.contains("ObjectHashAggregate"),
      s"the dispatch is row-wise — no aggregate belongs in it:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"only the ORDER BY may shuffle, saw $exchanges:\n$p")
    // round 13: the five filtered-UNION arms were 5 full scans of
    // events (mod-5 predicates don't prune parquet); the dispatch must
    // read events EXACTLY ONCE — at 100 TB the scan is the cost
    assert(!p.contains("Union"), s"no union — the routing is CASE, not scan-per-branch:\n$p")
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the dispatch must read events exactly once, saw $scans scans:\n$p")
  }

  test("b28 vector capstone: route → reproject → makevalid → tile in ONE scan, no joins") {
    val p = operators.GeoOps.qGeoE2e(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the full vector path must ride one events scan, saw $scans:\n$p")
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"the capstone composes map-only stages + two aggs — no join belongs:\n$p")
    assert(!p.contains("Union"), s"no union — the dispatch leg is CASE-routed:\n$p")
  }

  test("b40 reprojection audit: inherits the single scan — exactly one FileScan of events") {
    val p = operators.GeoProj.qReprojectAudit(spark, sfDir)
      .queryExecution.executedPlan.toString
    val scans = "FileScan parquet".r.findAllIn(p).size
    assert(scans == 1, s"the audit rolls up ONE pass over events, saw $scans scans:\n$p")
    assert(!p.contains("Union"), s"no union in the audited dispatch:\n$p")
  }

  test("b32 nearest-poi: the argmin is a map-only literal fold — no join, no explode, one sort exchange") {
    val p = operators.GeoOps.qNearestPoi(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("CartesianProduct"),
      s"POI assignment must not join:\n$p")
    assert(!p.contains("Generate"), s"no explode — the fold is in-row:\n$p")
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges == 1, s"only the ORDER BY may shuffle, saw $exchanges:\n$p")
  }

  test("c78 ewma: the lag window reads the daily series, never raw events") {
    val p = operators.AnalyticsTs.qEwma(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert("HashAggregate\\(keys=\\[day#\\d+L?\\]".r.findFirstIn(p).isDefined,
      s"ewma must pre-aggregate per day before its lag() window:\n$p")
  }

  test("c73 equidepth: coarse histogram agg + target-partitioned refine windows") {
    val p = operators.OpsAudit.qEquidepth(spark, sfDir)
      .queryExecution.executedPlan.toString
    // the coarse 1024-cell histogram is a keyed agg with map-side partials
    assert("HashAggregate\\(keys=\\[(cell|_groupingexpression)#\\d+L?\\], functions=\\[partial_count".r
      .findFirstIn(p).isDefined,
      s"no map-side-combined coarse histogram agg:\n$p")
    // the refine window partitions by target index i (parallel across
    // targets), never a global window over raw values
    val fineSpecs = "windowspecdefinition\\(i#\\d+".r.findAllMatchIn(p).toSeq
    assert(fineSpecs.nonEmpty, s"refine window not partitioned by target:\n$p")
  }

  test("library-wide window audit: unpartitioned windows only where the input is provably bounded") {
    // GraftSession.local silences the 'No Partition Defined for Window
    // operation!' WARN class for signal/noise; THIS assertion is the
    // real gate — a NEW unpartitioned window in ANY registered query
    // fails here instead of regressing silently in muted logs. The whitelist is
    // the round-11 bounded-input audit: every entry's global window
    // reads a top-N cut, a value-range histogram, or a ≤k-row control
    // table — NEVER corpus-scale rows (those ride TwoPhase). Adding a
    // name here requires re-proving the bound. Audited on the
    // OPTIMIZED LOGICAL plan — AQE's AdaptiveSparkPlanExec is a
    // collect LEAF on the physical side, which silently hides every
    // WindowExec (the round-13 vacuousness discovery).
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val boundedGlobal: Set[String] = Set(
      "q_rolling_revenue",   // c18: 7-day window over the DAILY aggregate (calendar-bounded)
      "q_ewma",              // c78: lag over the daily series (c78 plan test pins the pre-agg)
      "q_acf",               // c72: lag over the gap-filled daily series (c72 plan test)
      "q_kpi_dashboard",     // c82: windows over per-metric aggregate rows, not events
      "q_concurrency",       // c60: carry window over DAYS only (explicitly two-phased in-op)
      "q_bootstrap_poisson", // c67: 64-replicate bootstrap table
      "q_ann_nprobe_sweep",  // e26: rank over the ≤10-cell centroid dim
      "q_equidepth",         // c73: refine over the 1024-cell histogram (c73 plan test)
      "q_ks_drift",          // c68: cum-dist over the value histogram (c68 plan test)
      "q_ndcg_eval",         // e15: rank over per-query top-k result lists
      "q_head_mass",         // f36: rank over the LIMIT-1000 top-frequency cut
      "q_hybrid_rrf",        // f22: RRF rank over two top-k retrieval lists
      "q_tile_skew_plan",    // b56: cumsum over the tile-COUNT value histogram
                             //      (bounded by the count dynamic range)
      "q_survival")          // c87: reverse-cumsum risk set + cumulative hazard
                             //      over the ≤31-row lifetime-DAY table (the
                             //      corpus spans 30 days; lifetimes are
                             //      domain-bounded, LibraryGateSpec bound 3)
    val actual = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .flatMap { case (name, fn) =>
        val unpart = fn(spark, sfDir).queryExecution.optimizedPlan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }
        if (unpart.isEmpty) Nil else Seq(name)
      }.toSet
    val rogue = actual -- boundedGlobal
    assert(rogue.isEmpty,
      s"unpartitioned window in non-whitelisted queries: ${rogue.toSeq.sorted.mkString(", ")} " +
        "(either partition it / route through TwoPhase, or prove the input " +
        "bounded and whitelist it here)")
    // exact equality both ways: a STALE whitelist entry means the query
    // no longer has a global window — remove it so the list stays an
    // honest audit, not a graveyard of blanket exemptions
    val stale = boundedGlobal -- actual
    assert(stale.isEmpty,
      s"stale whitelist entries (no unpartitioned window anymore): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
