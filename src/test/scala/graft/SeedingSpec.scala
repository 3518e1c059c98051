package graft

import graft.operators.{OpsAudit, Seeding}

/** e28 Gonzalez k-center seeding / c84 Benford ledger audit. */
class SeedingSpec extends SparkTestBase {

  test("e28 k-center: radius sequence is non-increasing and centers distinct") {
    val rows = Seeding.qKcenterSeed(spark, sfDir).collect()
    assert(rows.length == 5)
    val bySteps = rows.sortBy(_.getAs[Int]("step"))
    assert(bySteps.head.getAs[Long]("center_id") == 0L)
    assert(bySteps.head.getAs[Long]("radius2") == 0L)
    // Gonzalez invariant: each round's max-min radius never grows
    val radii = bySteps.tail.map(_.getAs[Long]("radius2"))
    radii.sliding(2).foreach { case Array(a, b) => assert(b <= a, s"$a -> $b") }
    // chosen centers are distinct (a repeat would mean radius 0)
    val centers = bySteps.take(4).map(_.getAs[Long]("center_id"))
    assert(centers.toSet.size == 4, centers.mkString(","))
    assert(radii.forall(_ > 0))
  }

  test("e28 k-center: round-1 pick is the true farthest vector (brute replay)") {
    import org.apache.spark.sql.functions._
    val q = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))").as("qv"))
    val c0 = q.filter(col("vec_id") === 0).select("qv").collect()(0).getSeq[Long](0)
    val all = q.collect().map(r => (r.getLong(0), r.getSeq[Long](1)))
    val best = all.map { case (id, v) =>
      (id, v.zip(c0).map { case (a, b) => (a - b) * (a - b) }.sum)
    }.maxBy { case (id, d) => (d, -id) }
    val picked = Seeding.qKcenterSeed(spark, sfDir).collect()
      .find(_.getAs[Int]("step") == 1).get
    assert(picked.getAs[Long]("center_id") == best._1)
    assert(picked.getAs[Long]("radius2") == best._2)
  }

  test("e28 kernel: graft_qdist2 equals the declarative quantize-zip-fold template") {
    import org.apache.spark.sql.functions._
    val q = Tables(spark, sfDir, "embeddings").limit(50)
    val c = q.filter(col("vec_id") === 7)
      .select(expr("transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT))"))
      .collect()(0).getSeq[Long](0)
    val arr = c.mkString("array(", "L, ", "L)")
    val rows = q.select(col("vec_id"),
      expr(s"graft_qdist2(embedding, $arr)").as("kernel"),
      expr(s"""aggregate(zip_with(
           transform(embedding, v -> CAST(floor(CAST(v AS DOUBLE) * 1048576.0) AS BIGINT)),
           $arr, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)""").as("template"))
      .collect()
    rows.foreach(r => assert(r.getAs[Long]("kernel") == r.getAs[Long]("template"),
      s"vec ${r.getLong(0)}"))
    // self-distance is zero
    assert(rows.find(_.getLong(0) == 7L).get.getAs[Long]("kernel") == 0L)
  }

  test("a28 lifecycle tiers: partition is total, costs ordered hot > cool > archive per byte") {
    val rows = operators.IngestOps.qLifecycleTiers(spark, sfDir).collect()
    val byTier = rows.map(r => r.getAs[String]("tier") -> r).toMap
    assert(byTier.keySet.subsetOf(Set("hot", "cool", "archive")) && byTier.nonEmpty)
    assert(rows.map(_.getAs[Long]("blobs")).sum == Tables.events(spark, sfDir).count())
    rows.foreach { r =>
      assert(r.getAs[Long]("transition_bytes") <= r.getAs[Long]("bytes"))
      assert(r.getAs[Long]("monthly_cost_micro") >= 0)
      // archive never transitions (it is the last tier)
      if (r.getAs[String]("tier") == "archive")
        assert(r.getAs[Long]("transition_bytes") == 0L)
    }
    // per-byte cost ordering holds whenever two tiers are populated
    def rate(t: String): Option[Double] = byTier.get(t).map(r =>
      r.getAs[Long]("monthly_cost_micro").toDouble / r.getAs[Long]("bytes"))
    for (h <- rate("hot"); c <- rate("cool")) assert(h > c)
    for (c <- rate("cool"); a <- rate("archive")) assert(c > a)
  }

  test("g15 bitrate ladder: never upscales, rung count matches the source height") {
    val rows = graft.multimodal.Media.qBitrateLadder(spark, sfDir).collect()
    assert(rows.nonEmpty)
    val heights = Seq(2160, 1440, 1080, 720, 480, 360, 240)
    rows.foreach { r =>
      val sh = r.getAs[Int]("source_h")
      val want = heights.filter(_ <= sh)
      assert(r.getAs[Int]("top_rung") == want.head, s"doc ${r.getLong(0)}")
      assert(r.getAs[Int]("n_rungs") == want.length)
      assert(r.getAs[Int]("top_rung") <= sh)
      assert(r.getAs[Long]("ladder_bytes")
        == want.map(h => Map(2160 -> 16000L, 1440 -> 10000L, 1080 -> 6000L, 720 -> 3000L,
          480 -> 1500L, 360 -> 800L, 240 -> 400L)(h) * 125 * r.getAs[Long]("duration_s")).sum)
    }
    // the synth spreads sources across the full rung range
    assert(rows.map(_.getAs[Int]("n_rungs")).distinct.length >= 5)
  }

  test("c85 stickiness: dau <= wau, exact brute replay of one day's WAU") {
    import org.apache.spark.sql.functions._
    val rows = operators.AnalyticsTs.qStickiness(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("dau") <= r.getAs[Long]("wau"))
      val ppm = r.getAs[Long]("stickiness_ppm")
      assert(ppm > 0 && ppm <= 1000000L)
    }
    // day coverage = every observed activity day
    val ud = Tables.events(spark, sfDir)
      .select(col("user_id"), expr("unix_millis(ts) div 86400000").as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(rows.length == ud.map(_._2).distinct.length)
    // brute replay of the median day's WAU
    val days = ud.map(_._2).distinct.sorted
    val d = days(days.length / 2)
    val wantWau = ud.filter(t => t._2 >= d - 6 && t._2 <= d).map(_._1).distinct.length
    val got = rows.find(_.getAs[Long]("day") == d).get
    assert(got.getAs[Long]("wau") == wantWau.toLong)
    assert(got.getAs[Long]("dau") == ud.count(_._2 == d).toLong)
  }

  test("c84 benford: digit shares sum to ~1e6 ppm and flag the uniform ledger") {
    val rows = OpsAudit.qBenford(spark, sfDir).collect()
    assert(rows.length == 9)
    assert(rows.map(_.getAs[Long]("exp_ppm")).sum == 1000000L)
    val obsSum = rows.map(_.getAs[Long]("obs_ppm")).sum
    assert(obsSum > 999990L && obsSum <= 1000000L, s"obs ppm sum $obsSum")
    assert(rows.map(_.getAs[Long]("n")).sum ==
      Tables(spark, sfDir, "orders").filter("o_totalprice > 0").count())
    // the synthetic ledger is uniform-ish, NOT Benford: χ² must be large
    val chi2 = rows.map(_.getAs[Long]("chi2_term")).sum
    assert(chi2 > 21L, s"chi2 $chi2 — 15.5 is the 8-dof 95% line")
  }
}
