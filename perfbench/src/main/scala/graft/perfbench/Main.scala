package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.streaming.ServiceLoop

/** One benchmark run of one workload, as `run.py` launches it:
  *
  *   Main --workload W --seed N --seconds S --trace 0|1
  *        --data DIR --root DIR --out FILE
  *
  * `data` holds the seeded inputs, `root` is the run's scratch root
  * (checkpoints, pub/sub output, query outputs). The run writes raw
  * samples to `out`; `run.py` turns them into metrics and checks the
  * outputs. Every number is written with `Double.toString` /
  * `Long.toString`, which do not depend on the JVM locale.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val run = Run(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", opt("data"), opt("root"))
    val t0 = System.nanoTime()
    val spark = session(opt("root"))
    val report = new Report
    report.nums("session_s", Seq((System.nanoTime() - t0) / 1e9))
    val workload: Workload = run.workload match {
      case "pipelines" => new Pipelines(spark, run, report)
      case "query_suite" => new Suite(spark, run, report)
      case "service_loop" => new Service(spark, run, report)
      case w => sys.error(s"unknown workload $w")
    }
    try {
      // set-up: session start and a cold pass of the workload's calls
      // (JVM, JIT and codegen warm-up, the loop's cold first trigger)
      workload.warmUp()
      report.nums("setup_jvm_s", Seq((System.nanoTime() - t0) / 1e9))
      val trace = if (run.trace) Some(new Trace(spark)) else None
      val deadline = System.nanoTime() + (run.seconds * 1e9).toLong
      workload.timed(deadline, trace)
      trace.foreach(_.close())
    } catch {
      case e: Throwable =>
        report.error(s"${run.workload}: ${e.getClass.getName}: ${e.getMessage}")
    }
    Files.writeString(Paths.get(opt("out")), report.json)
    spark.stop()
  }

  final case class Run(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, root: String)

  def session(root: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      // AuxBench's and ServiceLoopSpec's provider, for every streaming query
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One timed library call: `fn(session, dir)` then the noop-sink
    * write, in a fresh session so that every call pays its own memo
    * builds and planning. Returns the call's wall time and the frame
    * it built, whose output `dumpTwin` can save after the clock stops. */
  def call(spark: SparkSession, fn: (SparkSession, String) => DataFrame, dir: String,
      id: String, trace: Option[Trace]): (Double, Option[OpTrace], DataFrame) = {
    val s = spark.newSession()
    def write(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val t0 = System.nanoTime()
    var df: DataFrame = null
    val ot = trace match {
      case Some(t) => Some(t.op(id, s) { df = fn(s, dir); df }(write))
      case None => df = fn(s, dir); write(df); None
    }
    ((System.nanoTime() - t0) / 1e6, ot, df)
  }

  /** Run `name` once in a fresh session and save its output for
    * `run.py` to check, against the registry's oracle SQL where it has
    * one. A rows-only query is checked against `twin`, a timed call's
    * frame: both must hold the same rows. */
  def dump(spark: SparkSession, name: String, dir: String, outRoot: String,
      report: Report): Unit = {
    val out = s"$outRoot/$name"
    SparkEntry.queries(name)(spark.newSession(), dir).write.mode("overwrite").parquet(out)
    report.output(name, out, SparkEntry.oracleSql.get(name),
      if (SparkEntry.oracleSql.contains(name)) None else Some(s"${out}_twin"))
  }

  def dumpTwin(name: String, df: DataFrame, outRoot: String): Unit =
    if (!SparkEntry.oracleSql.contains(name))
      df.write.mode("overwrite").parquet(s"$outRoot/${name}_twin")
}

/** A workload: its warm-up and its timed loop; between them they save
  * every distinct output for `run.py` to check. */
trait Workload {
  def warmUp(): Unit
  def timed(deadlineNs: Long, trace: Option[Trace]): Unit
}

/** The five reference-pathway compositions, in rounds; each round runs
  * all five in a seeded order. */
final class Pipelines(spark: SparkSession, run: Main.Run, report: Report) extends Workload {
  val pipelines = Seq("geo" -> "q_geo_e2e", "raster" -> "q_raster_e2e",
    "media" -> "q_media_e2e", "text" -> "q_pipeline_e2e", "dedup" -> "q_dedup_e2e")
  private val rng = new Random(run.seed)

  /** a cold call of each pipeline, whose output `run.py` checks */
  def warmUp(): Unit = pipelines.foreach { case (_, q) =>
    Main.dump(spark, q, run.data, s"${run.root}/out", report)
  }

  def timed(deadlineNs: Long, trace: Option[Trace]): Unit = {
    val traces = mutable.Map.empty[String, mutable.Buffer[OpTrace]]
    val last = mutable.Map.empty[String, DataFrame]
    var round = 0
    while (round == 0 || System.nanoTime() < deadlineNs) {
      var passNs = 0.0
      rng.shuffle(pipelines).foreach { case (group, q) =>
        report.attempt()
        try {
          val (ms, ot, df) = Main.call(spark, SparkEntry.queries(q), run.data, s"$group/$round", trace)
          report.op(group, ms)
          passNs += ms * 1e6
          ot.foreach(traces.getOrElseUpdate(group, mutable.Buffer.empty) += _)
          last(q) = df
        } catch { case e: Throwable => report.fail(s"$q round $round: ${e.getMessage}") }
      }
      report.pass(passNs / 1e9)
      round += 1
    }
    if (trace.isDefined) traces.foreach { case (group, ops) =>
      Layers.batch(report, group, ops.toSeq, perPass = false)
      // a memo hit across rounds (or a stale one) would change how much
      // work construction does; fresh sessions must make it identical
      val jobs = ops.map(_.construct.jobs).distinct
      if (jobs.size > 1) report.fail(s"$group: construct_jobs differs across rounds: $jobs")
    }
    last.foreach { case (q, df) => Main.dumpTwin(q, df, s"${run.root}/out") }
  }
}

/** A module-stratified sample of the query registry, each query run
  * once in a fresh session, in a seeded order. */
final class Suite(spark: SparkSession, run: Main.Run, report: Report) extends Workload {
  /** Each module's median-cost query on sf0.01 inputs, measured once
    * over the whole registry (4-core host) when the benchmark was
    * defined. The sample is fixed: a per-seed draw of one query per
    * module moves the pass time 15-20% between seeds, since a module's
    * queries differ in cost up to 10x. The run's seed orders it. */
  val modules: Seq[(String, String)] = Seq(
    "Analytics" -> "q22_no_orders", "AnalyticsExt" -> "q_gini",
    "AnalyticsTs" -> "q_next_event_markov", "IngestOps" -> "q_retry_backoff",
    "GeoOps" -> "q_tilestats_valid", "GeoProj" -> "q_reproject_dispatch",
    "GeoGeom" -> "q_pmtiles_leaves", "GeoClip" -> "q_tile_clip",
    "GeoSimplify" -> "q_simplify", "GeoBorders" -> "q_shared_borders",
    "GeoMulti" -> "q_promote_multi", "GeoWrap" -> "q_wrap_split",
    "GeoLines" -> "q_line_clip", "GeoRaster" -> "q_tilestats_attrs",
    "GeoMeta" -> "q_hillshade", "TextOps" -> "q_domain_cap",
    "TextModels" -> "q_quality_classifier", "CorpusClean" -> "q_filter_ablation",
    "Dedup" -> "q_dedup_sweep", "Ann" -> "q_ann_range", "Retrieval" -> "q_ndcg_eval",
    "Bpe" -> "q_bpe_encode", "Pca" -> "q_pca_power", "Asof" -> "q_asof_native",
    "Serving" -> "q_ann_absorb", "Seeding" -> "q_kcenter_seed",
    "OpsAudit" -> "q_profile", "Media" -> "q_media_geo")

  val sample: Seq[String] = new Random(run.seed).shuffle(modules.map(_._2))

  /** `Bench`'s warm-up pair, outside the sample: one per fact table. */
  def warmUp(): Unit = Seq("q1_agg", "q_token_count").foreach { q =>
    Main.call(spark, SparkEntry.queries(q), run.data, q, None)
  }

  def timed(deadlineNs: Long, trace: Option[Trace]): Unit = {
    val ops = mutable.Buffer.empty[OpTrace]
    var passMs = 0.0
    sample.foreach { q =>
      report.attempt()
      try {
        val (ms, ot, df) = Main.call(spark, SparkEntry.queries(q), run.data, s"suite/$q", trace)
        report.op(q, ms)
        passMs += ms
        ops ++= ot
        Main.dump(spark, q, run.data, s"${run.root}/out", report)
        Main.dumpTwin(q, df, s"${run.root}/out")
      } catch { case e: Throwable => report.fail(s"$q: ${e.getMessage}") }
    }
    report.pass(passMs / 1e3)
    if (trace.isDefined) Layers.batch(report, "suite", ops.toSeq, perPass = true)
  }
}

/** `ServiceLoop.run` draining a fixed queue backlog under
  * `Trigger.AvailableNow`, repeatedly, each drain from a fresh
  * checkpoint and pub/sub directory. */
final class Service(spark: SparkSession, run: Main.Run, report: Report) extends Workload {
  val Messages = 4000L
  /** Not a multiple of the 4 messages per asset: every trigger boundary
    * splits an asset, so the state store carries it across triggers. */
  val MaxPerTrigger = 250L
  private var drains = 0

  private def drain(messages: Long): (org.apache.spark.sql.streaming.StreamingQuery, String) = {
    drains += 1
    val pub = s"${run.root}/svc/pub$drains"
    val q = ServiceLoop.run(spark, messages, MaxPerTrigger, pub, s"${run.root}/svc/ckpt$drains")
    q.awaitTermination()
    q.stop()
    (q, pub)
  }

  /** one whole drain, the cold first trigger included: trigger latency
    * keeps falling for the first ~30 triggers of a JVM */
  def warmUp(): Unit = drain(Messages)

  def timed(deadlineNs: Long, trace: Option[Trace]): Unit = {
    val progress = mutable.Buffer.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]
    val pubs = mutable.Buffer.empty[String]
    while (pubs.isEmpty || System.nanoTime() < deadlineNs) {
      report.attempt()
      val t0 = System.nanoTime()
      val (q, pub) = try drain(Messages) catch {
        case e: Throwable => report.fail(s"drain: ${e.getMessage}"); return
      }
      report.pass((System.nanoTime() - t0) / 1e9)
      q.exception.foreach(e => report.fail(s"drain: ${e.getMessage}"))
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      batches.foreach(p => report.op("trigger", p.durationMs.get("triggerExecution").toDouble))
      report.drain(pub, Messages)
      pubs += pub
      trace.foreach(t => progress ++= t.drainProgress().filter(_.numInputRows > 0))
    }
    if (trace.isDefined) Layers.service(report, progress.toSeq, pubs.toSeq, Messages)
  }
}
