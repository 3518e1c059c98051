package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters for one tagged span of a library call (its construction
  * or its write): everything the scheduler ran on its behalf. */
final class Counters {
  var jobs, stages, tasks, stageRetries = 0L
  var taskRunMs, taskCpuNs, schedDelayMs = 0L
  var shuffleWriteBytes, spillBytes, inputBytes, inputRows = 0L
  var analysisMs, optimizerMs, physicalMs = 0L

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; stageRetries += o.stageRetries
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs; schedDelayMs += o.schedDelayMs
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRows += o.inputRows
    analysisMs += o.analysisMs; optimizerMs += o.optimizerMs; physicalMs += o.physicalMs
  }
}

/** One traced library call: construction (`fn(spark, dir)`, where the
  * eager memo builds run) and the timed write, with the counters the
  * listeners attributed to each. */
final case class OpTrace(constructMs: Double, execMs: Double,
    construct: Counters, exec: Counters, memoBlockBytes: Long,
    codegenCompileMs: Double, codegenCompiles: Long) {
  def total: Counters = { val c = new Counters; c += construct; c += exec; c }
}

/** The traced run's instruments. Every layer is observed from outside
  * the library: a SparkListener for jobs, stages and tasks, a
  * QueryExecutionListener per session for the planner's phases, the
  * codegen compile counters, block-manager storage for memo blocks,
  * and a StreamingQueryListener for micro-batch progress. Jobs are
  * attributed by a local property the calling thread sets before each
  * span, so the asynchronous listener bus cannot mis-assign them. */
final class Trace(spark: SparkSession) {
  private val TagKey = "graft.perfbench.tag"
  private val sc = spark.sparkContext
  private val byTag = new ConcurrentHashMap[String, Counters]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val stageSubmitted = new ConcurrentHashMap[Int, java.lang.Long]()
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  private def counters(tag: String) = byTag.computeIfAbsent(tag, _ => new Counters)

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(TagKey))).foreach { tag =>
        counters(tag).synchronized(counters(tag).jobs += 1)
        e.stageInfos.foreach(si => stageTag.putIfAbsent(si.stageId, tag))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(stageTag.get(e.stageInfo.stageId)).foreach { tag =>
        stageSubmitted.put(e.stageInfo.stageId,
          Long.box(e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())))
        val c = counters(tag)
        c.synchronized {
          c.stages += 1
          if (e.stageInfo.attemptNumber() > 0) c.stageRetries += 1
        }
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageTag.get(e.stageId)).foreach { tag =>
        val c = counters(tag)
        val m = e.taskMetrics
        val submitted = Option(stageSubmitted.get(e.stageId)).map(_.longValue)
          .getOrElse(e.taskInfo.launchTime)
        c.synchronized {
          c.tasks += 1
          c.schedDelayMs += math.max(0L, e.taskInfo.launchTime - submitted)
          if (m != null) {
            c.taskRunMs += m.executorRunTime
            c.taskCpuNs += m.executorCpuTime
            c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            c.inputBytes += m.inputMetrics.bytesRead
            c.inputRows += m.inputMetrics.recordsRead
          }
        }
      }
  }
  sc.addSparkListener(jobListener)

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  spark.streams.addListener(streamListener)

  private def planListener(tag: String) = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val c = counters(tag)
      c.synchronized {
        c.analysisMs += ms("analysis"); c.optimizerMs += ms("optimization")
        c.physicalMs += ms("planning")
      }
    }
    // a failing call throws to the workload, which counts it as failed
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Run `construct` then `exec(result)` on a fresh session `s`,
    * tagging each span's jobs and plans separately. */
  def op[A](id: String, s: SparkSession)(construct: => A)(exec: A => Unit): OpTrace = {
    val ct = s"$id/construct"
    val xt = s"$id/exec"
    val cl = planListener(ct)
    s.listenerManager.register(cl)
    val persistedBefore = sc.getPersistentRDDs.keySet
    val compileNs0 = CodeGenerator.compileTime
    val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val xl = planListener(xt)
    var t1, t2, memoBytes = 0L
    val t0 = System.nanoTime()
    try {
      sc.setLocalProperty(TagKey, ct)
      val a = construct
      t1 = System.nanoTime()
      val memoIds = sc.getPersistentRDDs.keySet -- persistedBefore
      memoBytes = sc.getRDDStorageInfo.filter(i => memoIds.contains(i.id))
        .map(i => i.memSize + i.diskSize).sum
      org.apache.spark.perfbench.Bus.drain(sc)
      s.listenerManager.unregister(cl)
      s.listenerManager.register(xl)
      sc.setLocalProperty(TagKey, xt)
      exec(a)
      t2 = System.nanoTime()
    } finally sc.setLocalProperty(TagKey, null)
    val compileNs = CodeGenerator.compileTime - compileNs0
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
    org.apache.spark.perfbench.Bus.drain(sc)
    s.listenerManager.unregister(xl)
    OpTrace((t1 - t0) / 1e6, (t2 - t1) / 1e6, counters(ct), counters(xt),
      memoBytes, compileNs / 1e6, compiles)
  }

  /** Micro-batch progress reported since the last call. */
  def drainProgress(): Seq[StreamingQueryProgress] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    Iterator.continually(progress.poll()).takeWhile(_ != null).toSeq
  }

  def close(): Unit = {
    spark.streams.removeListener(streamListener)
    sc.removeSparkListener(jobListener)
  }
}
