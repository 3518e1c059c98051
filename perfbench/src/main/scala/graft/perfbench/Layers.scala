package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Per-layer metrics from the traced run's counters. */
object Layers {
  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** `prefix.*` for a batch workload's library calls: the median call
    * (`perPass = false`, pipelines: one call per round) or the sum over
    * the pass (`perPass = true`, the suite sample). Spill and stage
    * retries, zero unless something degrades, are summed across the
    * whole run as `all.*`. */
  def batch(report: Report, prefix: String, ops: Seq[OpTrace], perPass: Boolean): Unit = {
    val cores = Runtime.getRuntime.availableProcessors
    def agg(f: OpTrace => Double): Double = if (perPass) ops.map(f).sum else median(ops.map(f))
    def put(name: String, f: OpTrace => Double): Unit = report.layer(s"$prefix.$name", agg(f))
    put("construct_ms", _.constructMs)
    put("construct_jobs", _.construct.jobs.toDouble)
    put("memo_block_bytes", _.memoBlockBytes.toDouble)
    put("plan_analysis_ms", _.total.analysisMs.toDouble)
    put("plan_optimizer_ms", _.total.optimizerMs.toDouble)
    put("plan_physical_ms", _.total.physicalMs.toDouble)
    put("codegen_compile_ms", _.codegenCompileMs)
    put("codegen_compiles", _.codegenCompiles.toDouble)
    put("exec_ms", _.execMs)
    put("jobs", _.total.jobs.toDouble)
    put("stages", _.total.stages.toDouble)
    put("tasks", _.total.tasks.toDouble)
    put("task_run_ms", _.total.taskRunMs.toDouble)
    put("task_cpu_ms", _.total.taskCpuNs / 1e6)
    put("sched_delay_ms", _.total.schedDelayMs.toDouble)
    put("shuffle_write_bytes", _.total.shuffleWriteBytes.toDouble)
    put("input_bytes", _.total.inputBytes.toDouble)
    put("input_rows", _.total.inputRows.toDouble)
    // share of the cores' time the call kept busy with tasks
    val busy = ops.map(_.total.taskRunMs.toDouble).sum
    val wall = ops.map(o => o.constructMs + o.execMs).sum * cores
    report.layer(s"$prefix.core_busy_share", if (wall > 0) busy / wall else 0.0)
    report.layerAdd("all.spill_bytes", ops.map(_.total.spillBytes.toDouble).sum)
    report.layerAdd("all.stage_retries", ops.map(_.total.stageRetries.toDouble).sum)
  }

  /** `svc.*`: per-trigger medians of the micro-batch phases and the
    * state store, per-drain state row counts, and what the sink
    * published against what the queue admitted. */
  def service(report: Report, progress: Seq[StreamingQueryProgress], pubs: Seq[String],
      messages: Long): Unit = {
    def phase(name: String) =
      median(progress.map(p => Option(p.durationMs.get(name)).map(_.toDouble).getOrElse(0.0)))
    Seq("latest_offset_ms" -> "latestOffset", "get_batch_ms" -> "getBatch",
      "query_planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
      "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets")
      .foreach { case (k, v) => report.layer(s"svc.$k", phase(v)) }
    val state = progress.flatMap(_.stateOperators.headOption)
    val drains = pubs.size.toDouble
    report.layer("svc.state_rows_total", state.map(_.numRowsTotal.toDouble).sum / drains)
    report.layer("svc.state_rows_updated", state.map(_.numRowsUpdated.toDouble).sum / drains)
    report.layer("svc.state_mem_bytes", median(state.map(_.memoryUsedBytes.toDouble)))
    report.layer("svc.state_commit_ms", median(state.map(_.commitTimeMs.toDouble)))
    val admitted = progress.map(_.numInputRows.toDouble).sum
    val published = pubs.map(publishedRows).sum.toDouble
    report.layer("svc.published_bytes_per_msg",
      pubs.map(bytes).sum.toDouble / (messages * drains))
    report.layer("svc.publish_share", if (admitted > 0) published / admitted else 0.0)
  }

  private def bytes(dir: String): Long =
    scala.util.Using.resource(Files.walk(Paths.get(dir))) { w =>
      w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    }

  /** Rows the sink's committed manifests list (its reader contract). */
  def publishedRows(pub: String): Long = {
    val root = Paths.get(pub)
    if (!Files.exists(root)) 0L
    else scala.util.Using.resource(Files.list(root)) { ls =>
      ls.iterator().asScala
        .filter(_.getFileName.toString.startsWith("_graft_manifest"))
        .flatMap(m => Files.readAllLines(m).asScala)
        .map(l => "\"rows\":(\\d+)".r.findFirstMatchIn(l).map(_.group(1).toLong).getOrElse(0L))
        .sum
    }
  }
}
