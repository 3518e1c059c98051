package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.IngestStream
import graft.streaming.IngestStream.{GaugeReading, TrendOut}

/** h20 — the streaming regression must equal c56's batch answer
  * exactly: the five moments are mergeable integer sums and the
  * centering origin is pinned by the first (= earliest, under the
  * monotone-feed contract) reading, so no batching can perturb it.
  */
class TrendStreamSpec extends SparkTestBase {

  test("h20: streaming trend equals the c56 batch regression, one state row per key") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val readings = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => GaugeReading(r.getLong(0), r.getLong(1), r.getLong(2)))
    // monotone-feed contract: batches cut on global time order,
    // shuffled within each batch
    val sorted = readings.sortBy(_.ms)
    val cuts = Seq(sorted.length / 4, sorted.length / 2, 3 * sorted.length / 4)
    val batches = (Seq(0) ++ cuts ++ Seq(sorted.length)).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(g => Integer.rotateLeft(g.cents.hashCode, 9)).toSeq
    }.toSeq

    val input = MemoryStream[GaugeReading]
    val q = IngestStream.streamingTrend(input.toDS())
      .writeStream.format("memory").queryName("h20_trend")
      .outputMode(OutputMode.Update()).start()
    val (outs, stateRows) =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        (spark.table("h20_trend").as[TrendOut].collect().toSeq,
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      } finally q.stop()

    val nKeys = readings.map(_.userId).distinct.length
    assert(stateRows == nKeys.toLong, s"state rows $stateRows != keys $nKeys")

    // the latest emission per user (highest n) is the live trend
    val live = outs.groupBy(_.userId).view
      .mapValues(_.maxBy(_.n)).toMap
    val want = operators.AnalyticsTs.qTrend(spark, sfDir).collect().toSeq.map { r =>
      def opt(i: Int) = if (r.isNullAt(i)) None else Some(r.getDouble(i))
      r.getLong(0) -> (r.getLong(1), opt(2), opt(4))
    }.toMap
    assert(live.keySet == want.keySet)
    live.foreach { case (u, got) =>
      val (n, slope, rr) = want(u)
      assert((got.n, got.slope, got.r) == ((n, slope, rr)),
        s"user $u diverged: stream ($got) vs batch ${want(u)}")
    }
  }

  test("h23: streaming attribution aggregates to exactly c58's batch answer") {
    import spark.implicits._
    import IngestStream.{TouchEvent, Attributed}
    implicit val sqlCtx = spark.sqlContext
    val raw = Tables.events(spark, sfDir)
      .selectExpr("user_id", "unix_millis(ts) AS ms", "event_id", "event_type",
        "CAST(round(value * 100) AS BIGINT) AS cents",
        "CAST(get_json_object(props, '$.k') AS INT) % 4 AS k4")
      .collect().map { r =>
        val ch = r.getInt(5) match {
          case 0 => "organic"; case 1 => "email"; case 2 => "social"; case _ => "ads"
        }
        TouchEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), ch, r.getLong(4))
      }
    // monotone-feed contract: batches cut on global (ms, eventId)
    // order, shuffled within each batch
    val sorted = raw.sortBy(e => (e.ms, e.eventId))
    val cuts = Seq(11, sorted.length / 3, sorted.length / 2, 2 * sorted.length / 3)
    val batches = (Seq(0) ++ cuts ++ Seq(sorted.length)).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(e => Integer.rotateLeft(e.hashCode, 7)).toSeq
    }.toSeq
    val input = MemoryStream[TouchEvent]
    val q = IngestStream.streamingAttribution(input.toDS())
      .writeStream.format("memory").queryName("h23_attr")
      .outputMode(OutputMode.Append()).start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h23_attr").as[Attributed].collect().toSeq
      } finally q.stop()
    val streamAgg = got.groupBy(_.channel).map { case (c, g) =>
      (c, g.length.toLong, g.map(_.cents).sum)
    }.toSeq.sortBy(_._1)
    val want = operators.AnalyticsTs.qAttribution(spark, sfDir).collect().toSeq
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(streamAgg == want, "streamed attribution diverged from the c58 batch rollup")
    assert(got.map(_.eventId).distinct.length == got.length, "a purchase was credited twice")
  }

  test("h24: streaming CUSUM alarms equal the warm-up/monitor reference under any batching") {
    import spark.implicits._
    import IngestStream.CusumAlarm
    implicit val sqlCtx = spark.sqlContext
    val readings = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => GaugeReading(r.getLong(0), r.getLong(1), r.getLong(2)))
    // in-memory replay of the exact streaming rule
    val expected = readings.groupBy(_.userId).toSeq.flatMap { case (u, rs) =>
      val ordered = rs.sortBy(g => (g.ms, g.cents))
      val (warm, monitor) = ordered.splitAt(8)
      if (warm.length < 8) Nil
      else {
        val mu0 = warm.map(_.cents).sorted.apply(((warm.length + 1) / 2) - 1)
        var s = 0L
        monitor.flatMap { g =>
          s = math.max(0L, s + (g.cents - mu0 - 50L))
          if (s > 20000L) Some(CusumAlarm(u, g.ms, g.cents, s)) else None
        }
      }
    }.toSet
    assert(expected.nonEmpty, "no user ever alarms — vacuous")
    val sorted = readings.sortBy(g => (g.ms, g.cents))
    val cuts = Seq(5, sorted.length / 4, sorted.length / 2, 3 * sorted.length / 4)
    val batches = (Seq(0) ++ cuts ++ Seq(sorted.length)).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(g => Integer.rotateLeft(g.hashCode, 5)).toSeq
    }.toSeq
    val input = MemoryStream[GaugeReading]
    val q = IngestStream.streamingCusum(input.toDS())
      .writeStream.format("memory").queryName("h24_cusum")
      .outputMode(OutputMode.Append()).start()
    val got =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h24_cusum").as[CusumAlarm].collect().toSet
      } finally q.stop()
    assert(got == expected, "streamed CUSUM alarms diverged from the reference replay")
  }

  test("h21: streaming anomaly alerts equal the sequential reference under any batching") {
    import spark.implicits._
    import IngestStream.{AnomalyAlert}
    implicit val sqlCtx = spark.sqlContext
    val readings = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(col("user_id"), unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect().map(r => GaugeReading(r.getLong(0), r.getLong(1), r.getLong(2)))
    // in-memory sequential reference: judge each reading against the
    // prior prefix's exact moments, then fold it in
    val expected = readings.groupBy(_.userId).toSeq.flatMap { case (u, rs) =>
      var (n, sy, syy) = (0L, 0L, 0L)
      rs.sortBy(g => (g.ms, g.cents)).flatMap { g =>
        val alert =
          if (n >= 8 && {
            val dev = BigInt(g.cents) * n - sy
            dev * dev > (BigInt(n) * syy - BigInt(sy) * sy) * 9
          }) Some(AnomalyAlert(u, g.ms, g.cents, n)) else None
        n += 1; sy += g.cents; syy += g.cents * g.cents
        alert
      }
    }.toSet
    assert(expected.nonEmpty, "corpus never alerts — vacuous scenario")

    // adversarial batching: uneven cuts on global (ms, cents) order
    // (the monotone-feed contract), shuffled inside each batch
    val sorted = readings.sortBy(g => (g.ms, g.cents))
    val cuts = Seq(7, sorted.length / 5, sorted.length / 2,
      sorted.length / 2 + 1, 4 * sorted.length / 5)
    val batches = (Seq(0) ++ cuts ++ Seq(sorted.length)).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(g => Integer.rotateLeft(g.hashCode, 13)).toSeq
    }.toSeq
    val input = MemoryStream[GaugeReading]
    val q = IngestStream.streamingAnomaly(input.toDS())
      .writeStream.format("memory").queryName("h21_anomaly")
      .outputMode(OutputMode.Append()).start()
    val (got, stateRows) =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        (spark.table("h21_anomaly").as[AnomalyAlert].collect().toSet,
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      } finally q.stop()
    assert(got == expected, "streamed alerts diverged from the sequential reference")
    assert(stateRows == readings.map(_.userId).distinct.length.toLong,
      "state must be one moments row per key")
  }

  test("h26: streamed A/B deltas sum to exactly c66's batch exposure/conversion counts") {
    import spark.implicits._
    import graft.streaming.IngestStream.{AbEvent, AbDelta}
    implicit val sqlCtx = spark.sqlContext
    val events = Tables.events(spark, sfDir)
      .filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), unix_millis(col("ts")).as("ms"), col("event_type"))
      .collect().map(r => AbEvent(r.getLong(0), r.getLong(1), r.getString(2)))
    // batch truth: c66's stats columns (variant, n_exposed, n_converted)
    val batch = operators.AnalyticsTs.qAbTest(spark, sfDir)
      .select("variant", "n_exposed", "n_converted")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // monotone feed, adversarial cuts, shuffled within batches
    val sorted = events.sortBy(e => (e.ms, e.eventType))
    val cuts = Seq(5, sorted.length / 3, sorted.length / 2, 5 * sorted.length / 6)
    val batches = (Seq(0) ++ cuts ++ Seq(sorted.length)).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(e => Integer.rotateLeft(e.hashCode, 7)).toSeq
    }.toSeq
    val input = MemoryStream[AbEvent]
    val q = IngestStream.streamingAbTest(input.toDS())
      .writeStream.format("memory").queryName("h26_ab")
      .outputMode(OutputMode.Append()).start()
    val deltas =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h26_ab").as[AbDelta].collect()
      } finally q.stop()
    val streamed = deltas.groupBy(_.variant).map { case (v, ds) =>
      v -> ((ds.map(_.dExposed).sum, ds.map(_.dConverted).sum))
    }
    assert(streamed == batch,
      s"streamed totals $streamed != batch counts $batch")
    // transition semantics: at most one exposure and one conversion
    // delta per user, ever
    deltas.groupBy(_.userId).foreach { case (u, ds) =>
      assert(ds.map(_.dExposed).sum <= 1 && ds.map(_.dConverted).sum <= 1,
        s"user $u emitted duplicate transitions")
    }
  }

  test("h25: live profile converges to the batch profile (incl. the batch graft_kmv) under any batching") {
    import spark.implicits._
    import graft.streaming.IngestStream.{FieldSample, FieldProfile}
    implicit val sqlCtx = spark.sqlContext

    // payload fields from the events stream: `k` (json prop), `value`
    // (cents), plus a late-appearing `beta` field (schema drift) and
    // injected nulls on `k`
    val base = Tables.events(spark, sfDir)
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
      .collect()
    def h(v: Long): Long = graft.functions.Sid60.compute(
      org.apache.spark.unsafe.types.UTF8String.fromString(v.toString))
    val samples = base.flatMap { r =>
      val id = r.getLong(0)
      val kNull = id % 17 == 0 // injected null-rate on one field
      Seq(
        FieldSample("k", id, kNull, if (kNull) 0L else r.getLong(1),
          if (kNull) 0L else h(r.getLong(1))),
        FieldSample("cents", id, isNull = false, r.getLong(2), h(r.getLong(2)))) ++
        (if (id % 3 == 0) Seq(FieldSample("beta", id, isNull = false, id % 7, h(id % 7)))
         else Nil)
    }.toSeq

    // batch reference: exact n/null/lo/hi + the batch KMV sketch from
    // the very aggregate c51 trusts
    val nonNull = samples.filter(!_.isNull)
    val ref = samples.groupBy(_.field).map { case (f, ss) =>
      val vs = ss.filter(!_.isNull)
      f -> ((ss.size.toLong, ss.count(_.isNull).toLong, vs.map(_.v).min, vs.map(_.v).max))
    }
    val kmvRef = nonNull.map(s => (s.field, s.h)).toDF("field", "h")
      .groupBy("field").agg(expr("graft_kmv(h, 32)").as("mins"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1).sorted).toMap

    // adversarial batching: uneven cuts, shuffled inside each batch —
    // every profile fold is prefix-stable so the FINAL emission per
    // field must be identical to the batch answer
    val cuts = Seq(3, samples.length / 5, samples.length / 2, 4 * samples.length / 5)
    val batches = (Seq(0) ++ cuts ++ Seq(samples.length)).sliding(2).map {
      case Seq(a, b) => samples.slice(a, b)
        .sortBy(s => Integer.rotateLeft(s.hashCode, 11))
    }.toSeq
    val input = MemoryStream[FieldSample]
    val q = IngestStream.streamingProfile(input.toDS())
      .writeStream.format("memory").queryName("h25_profile")
      .outputMode(OutputMode.Update()).start()
    val (rows, stateRows) =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        (spark.table("h25_profile").as[FieldProfile].collect(),
          q.lastProgress.stateOperators.map(_.numRowsTotal).sum)
      } finally q.stop()
    val last = rows.groupBy(_.field).map { case (f, rs) => f -> rs.maxBy(_.version) }
    ref.foreach { case (f, (n, nNull, lo, hi)) =>
      val p = last(f)
      assert((p.n, p.nNull, p.lo, p.hi) == ((n, nNull, lo, hi)),
        s"field $f profile diverged from batch")
      assert(p.mins.sorted == kmvRef(f), s"field $f live KMV != batch graft_kmv")
    }
    assert(stateRows == 3L, "state must be one bounded row per field")
    // schema drift: the late field's FIRST emission carries version 1
    assert(rows.filter(_.field == "beta").minBy(_.version).version == 1L)
  }

  test("h27: live KS drift converges to the batch bucketed statistic under any batching") {
    import spark.implicits._
    import graft.streaming.IngestStream.{DriftSample, DriftStat}
    implicit val sqlCtx = spark.sqlContext
    val width = 500L
    // c68's split: 'view' gauge cents, first half of the time range is
    // the static baseline, the second half arrives as the live stream
    val vs = Tables.events(spark, sfDir)
      .filter(col("event_type") === "view")
      .select(unix_millis(col("ts")).as("ms"),
        expr("CAST(round(value * 100) AS BIGINT)").as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val mid = (vs.map(_._1).min + vs.map(_._1).max) / 2
    val (baseRows, liveRows) = vs.partition(_._1 <= mid)
    val baseline = Map("gauge" ->
      baseRows.groupBy(x => Math.floorDiv(x._2, width))
        .map { case (k, xs) => k -> xs.length.toLong })
    // adversarial batching: uneven cuts, shuffled within batches
    val live = liveRows.map(_._2)
    val cuts = Seq(3, live.length / 5, live.length / 2, 9 * live.length / 10)
    val batches = (Seq(0) ++ cuts ++ Seq(live.length)).sliding(2).map {
      case Seq(a, b) => live.slice(a, b)
        .sortBy(v => Integer.rotateLeft(v.hashCode, 11))
        .map(v => DriftSample("gauge", v)).toSeq
    }.toSeq

    val input = MemoryStream[DriftSample]
    val q = IngestStream.streamingDrift(input.toDS(), baseline, width)
      .writeStream.format("memory").queryName("h27_drift")
      .outputMode(OutputMode.Append()).start()
    val stats =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h27_drift").as[DriftStat].collect().toSeq
      } finally q.stop()

    // one emission per non-empty batch, versions strictly increasing
    assert(stats.map(_.version).sorted == (1 to batches.count(_.nonEmpty)).map(_.toLong))
    // independent recomputation of the final bucketed KS (different
    // code shape: exhaustive scan over the dense bucket range)
    val liveHist = live.groupBy(v => Math.floorDiv(v, width))
      .map { case (k, xs) => k -> xs.length.toLong }
    val baseHist = baseline("gauge")
    val nL = live.length.toLong
    val nB = baseHist.values.sum
    val lo = (liveHist.keySet ++ baseHist.keySet).min
    val hi = (liveHist.keySet ++ baseHist.keySet).max
    var bestDev = BigInt(-1); var bestAt = lo
    (lo to hi).foreach { k =>
      val cl = liveHist.filter(_._1 <= k).values.sum
      val cb = baseHist.filter(_._1 <= k).values.sum
      val dev = (BigInt(cl) * nB - BigInt(cb) * nL).abs
      if (dev > bestDev) { bestDev = dev; bestAt = k }
    }
    val wantKs = (bestDev * 1000000 / (BigInt(nL) * nB)).toLong
    val fin = stats.maxBy(_.version)
    assert(fin.nLive == nL, s"live count ${fin.nLive} != $nL")
    assert(fin.ksMicro == wantKs, s"live KS ${fin.ksMicro} != batch $wantKs")
    assert(fin.bucketAt == bestAt, s"arg-max bucket ${fin.bucketAt} != $bestAt")
    assert(fin.ksMicro >= 0L && fin.ksMicro <= 1000000L)
  }

  test("h28: decayed trending scores equal the sequential fold under any batching") {
    import spark.implicits._
    import graft.streaming.IngestStream.{TrendHit, TrendEmit}
    implicit val sqlCtx = spark.sqlContext
    val d = 999989L
    // hits = the real event stream keyed by event_type
    val hits = Tables.events(spark, sfDir)
      .select(col("event_type"), unix_millis(col("ts")).as("ms"))
      .collect().map(r => TrendHit(r.getString(0), r.getLong(1)))
    // monotone-feed contract: batches cut on global time order,
    // shuffled within each batch (uneven cuts)
    val sorted = hits.sortBy(h => (h.ms, h.key))
    val cuts = Seq(7, sorted.length / 5, sorted.length / 2, 9 * sorted.length / 10)
    val batches = (Seq(0) ++ cuts ++ Seq(sorted.length)).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(h => Integer.rotateLeft(h.ms.hashCode, 7)).toSeq
    }.toSeq

    val input = MemoryStream[TrendHit]
    val q = IngestStream.streamingTrending(input.toDS(), d)
      .writeStream.format("memory").queryName("h28_trending")
      .outputMode(OutputMode.Append()).start()
    val emits =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h28_trending").as[TrendEmit].collect().toSeq
      } finally q.stop()

    // independent reference: one sequential per-event fold over the
    // totally-ordered hit stream (no batching, no state machine)
    var ref = Map.empty[String, (Long, Long)] // key -> (lastMs, score)
    sorted.foreach { h =>
      val (last, sc) = ref.getOrElse(h.key, (h.ms, 0L))
      val dt = Math.max(0L, h.ms - last)
      val sc2 = sc * IngestStream.decayFactorMicro(d, dt) / 1000000L + 1000000L
      ref = ref.updated(h.key, (h.ms, sc2))
    }
    val finals = emits.groupBy(_.key).map { case (k, es) => k -> es.maxBy(_.version) }
    assert(finals.keySet == ref.keySet)
    finals.foreach { case (k, e) =>
      assert(e.scoreMicro == ref(k)._2, s"key $k: live ${e.scoreMicro} != ref ${ref(k)._2}")
      assert(e.lastMs == ref(k)._1)
    }
    // decay sanity: a same-size burst half a half-life ago outranks an
    // equal burst two half-lives ago (the whole point vs h8's counts)
    val now = sorted.last.ms
    def burstScore(agoMs: Long, n: Int): Long = {
      var sc = 0L
      (1 to n).foreach { _ => sc = sc + 1000000L }
      sc * IngestStream.decayFactorMicro(d, agoMs) / 1000000L
    }
    assert(burstScore(30000L, 100) > burstScore(120000L, 100))
    // top-k readout is deterministic: (score desc, key) total order
    val top = finals.toSeq.sortBy { case (k, e) => (-e.scoreMicro, k) }.take(3)
    assert(top.size == math.min(3, finals.size))
  }

  test("h28: trending scores survive a kill/restart — restored state resumes the exact fold") {
    import spark.implicits._
    import graft.streaming.IngestStream.{TrendHit, TrendEmit}
    implicit val sqlCtx = spark.sqlContext
    val d = 999989L
    val ckpt = java.nio.file.Files.createTempDirectory("h28_ckpt").toString
    val out = java.nio.file.Files.createTempDirectory("h28_out").toString
    val input = MemoryStream[TrendHit]
    def start() = IngestStream.streamingTrending(input.toDS(), d)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Append()).start()
    val hits1 = Seq(TrendHit("a", 1000L), TrendHit("b", 1500L), TrendHit("a", 61000L))
    val hits2 = Seq(TrendHit("a", 121000L), TrendHit("b", 125000L))
    val q1 = start()
    try { input.addData(hits1); q1.processAllAvailable() }
    finally q1.stop() // kill; score + clock state live only in ckpt
    val q2 = start()
    try { input.addData(hits2); q2.processAllAvailable() }
    finally q2.stop()
    val finals = spark.read.parquet(out).as[TrendEmit].collect()
      .groupBy(_.key).map { case (k, es) => k -> es.maxBy(_.version) }
    // reference: the sequential fold over the WHOLE stream — only
    // restored state can carry the decayed score across the restart
    var ref = Map.empty[String, (Long, Long)]
    (hits1 ++ hits2).sortBy(h => (h.ms, h.key)).foreach { h =>
      val (last, sc) = ref.getOrElse(h.key, (h.ms, 0L))
      val sc2 = sc * IngestStream.decayFactorMicro(d, Math.max(0L, h.ms - last)) /
        1000000L + 1000000L
      ref = ref.updated(h.key, (h.ms, sc2))
    }
    ref.foreach { case (k, (last, sc)) =>
      assert(finals(k).scoreMicro == sc && finals(k).lastMs == last,
        s"key $k diverged across restart: ${finals(k)} vs ($last, $sc)")
      // a fresh (state-lost) fold of only the post-restart batch would
      // differ: prove the score actually carries history
      assert(finals(k).scoreMicro > 1000000L, "restored score must exceed a single hit")
    }
  }

  test("h30: live quota ledger equals a25's batch ledger, breach alert fires exactly once") {
    import spark.implicits._
    import graft.streaming.IngestStream.{UploadEvent, QuotaEmit}
    implicit val sqlCtx = spark.sqlContext
    // a25's upload stream: same synthetic nbytes formula
    val ups = Tables.events(spark, sfDir)
      .select(col("user_id"), col("event_id"), unix_millis(col("ts")).as("ms"),
        (col("event_id") * 131071L % 50000000L + 1024L).as("nbytes"))
      .collect().map(r => UploadEvent(r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // monotone-feed contract: batches cut on the global (ms, event_id)
    // order, shuffled within each batch
    val sorted = ups.sortBy(u => (u.ms, u.eventId))
    val n = sorted.length
    val batches = Seq(0, 11, n / 4, n / 2, 5 * n / 6, n).sliding(2).map {
      case Seq(a, b) => sorted.slice(a, b)
        .sortBy(u => Integer.rotateLeft(u.eventId.hashCode, 9)).toSeq
    }.toSeq

    val input = MemoryStream[UploadEvent]
    val q = IngestStream.streamingQuota(input.toDS())
      .writeStream.format("memory").queryName("h30_quota")
      .outputMode(OutputMode.Append()).start()
    val emits =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h30_quota").as[QuotaEmit].collect().toSeq
      } finally q.stop()

    val want = graft.operators.IngestOps.qStorageQuota(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getBoolean(3),
        if (r.isNullAt(4)) -1L else r.getLong(4), r.getLong(5))).toMap
    val finals = emits.groupBy(_.user).map { case (u, es) => u -> es.maxBy(_.version) }
    assert(finals.keySet == want.keySet)
    finals.foreach { case (u, e) =>
      val (nUp, total, over, firstMs, nOver) = want(u)
      assert(e.nUploads == nUp && e.totalBytes == total, s"user $u ledger diverged")
      assert((e.firstOverMs >= 0L) == over, s"user $u over_quota diverged")
      assert(e.firstOverMs == firstMs, s"user $u first_over_ms diverged")
      assert(e.nUploadsOver == nOver, s"user $u n_uploads_over diverged")
    }
    // the breach alert is a transition: exactly once, for exactly the
    // over-quota users
    val breaches = emits.filter(_.breachNow)
    assert(breaches.map(_.user).distinct.size == breaches.size,
      "a user breached more than once")
    assert(breaches.map(_.user).toSet == want.collect { case (u, w) if w._3 => u }.toSet)
  }

  test("h29: live co-occurrence emits every basket pair exactly once under ANY batching") {
    import spark.implicits._
    import graft.streaming.IngestStream.{BasketItem, PairDelta}
    implicit val sqlCtx = spark.sqlContext
    // c74's item derivation: distinct (order, brand) off lineitem x part
    val items = Tables(spark, sfDir, "lineitem")
      .join(Tables(spark, sfDir, "part"), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey").as("basket"), col("p_brand").as("item")).distinct()
      .collect().map(r => BasketItem(r.getLong(0), r.getString(1), r.getLong(0) % 977))
    // adversarial batching: baskets straddle batches, plus a replay
    // tail re-feeding a slice already delivered (must be a no-op)
    val shuffled = items.sortBy(b => Integer.rotateLeft(b.hashCode, 11)).toSeq
    val n = shuffled.length
    val batches = Seq(shuffled.slice(0, n / 3), shuffled.slice(n / 3, n / 2),
      shuffled.slice(n / 2, n), shuffled.slice(n / 4, n / 3 + 5))

    val input = MemoryStream[BasketItem]
    val q = IngestStream.streamingBasket(input.toDS())
      .writeStream.format("memory").queryName("h29_basket")
      .outputMode(OutputMode.Append()).start()
    val emitted =
      try {
        batches.foreach { b => input.addData(b); q.processAllAvailable() }
        spark.table("h29_basket").as[PairDelta].collect().toSeq
      } finally q.stop()

    // reference: every unordered item pair per basket, exactly once
    val want = items.groupBy(_.basket).toSeq.flatMap { case (bk, its) =>
      val s = its.map(_.item).distinct.sorted
      for (i <- s.indices; j <- i + 1 until s.length) yield PairDelta(s(i), s(j), bk)
    }.toSet
    assert(emitted.size == want.size,
      s"pair emitted ${emitted.size}× vs ${want.size} expected — not exactly-once")
    assert(emitted.toSet == want)
    // summed supports equal c74's (above its >= 5 floor)
    val live = emitted.groupBy(p => (p.a, p.b)).map { case (k, v) => k -> v.size.toLong }
    val basket = graft.operators.AnalyticsExt.qBasket(spark, sfDir)
      .select("brand_a", "brand_b", "support").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    basket.foreach { case (k, sup) =>
      assert(live.getOrElse(k, 0L) == sup, s"pair $k: live ${live.get(k)} != batch $sup")
    }
    assert(basket.nonEmpty)
  }
}
