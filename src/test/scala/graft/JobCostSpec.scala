package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.aggregate.Final
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** The pipelines pay Spark's fixed cost per job and per task, so none
  * may start a job or a task it has no use for: schema inference jobs
  * at construction, range stages wider than the session, a span dedup
  * computed twice, an SQL execution to count a scan's partitions.
  * Each case runs in a fresh session at sf0.01. */
class JobCostSpec extends SparkTestBase with AdaptiveSparkPlanHelper {
  private val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  /** `body`'s result and the listener events it posted. A marker job
    * runs after it; the bus delivers events in the order they were
    * posted, so once the marker's start arrives every earlier event
    * has too. */
  private def observed[T](s: SparkSession)(body: => T): (T, Seq[SparkListenerEvent]) = {
    val sc = s.sparkContext
    val seen = new ConcurrentLinkedQueue[SparkListenerEvent]()
    val marker = s"job-cost-marker-${System.nanoTime()}"
    def isMarker(e: SparkListenerEvent) = e match {
      case j: SparkListenerJobStart =>
        Option(j.properties).exists(_.getProperty("spark.jobGroup.id") == marker)
      case _ => false
    }
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.add(e)
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = seen.add(e)
      override def onOtherEvent(e: SparkListenerEvent): Unit = seen.add(e)
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(20)
      val events = seen.asScala.toSeq
      assert(events.exists(isMarker), "the marker job's start never arrived")
      (out, events.takeWhile(!isMarker(_)))
    } finally sc.removeSparkListener(listener)
  }

  private def jobs(events: Seq[SparkListenerEvent]) =
    events.collect { case j: SparkListenerJobStart => j }

  test("building the geo, raster and text pipelines starts no job") {
    for (q <- Seq("q_geo_e2e", "q_raster_e2e", "q_pipeline_e2e")) {
      val s = spark.newSession()
      val (_, events) = observed(s)(SparkEntry.queries(q)(s, dir))
      val started = jobs(events)
      assert(started.isEmpty, s"$q started ${started.size} jobs while it was built: " +
        started.map(_.properties.getProperty("spark.job.description")).mkString("; "))
    }
  }

  test("Tables reads the schema Spark infers, for every table, without a job") {
    val s = spark.newSession()
    val (frames, events) = observed(s)(Tables.all.map(t => t -> Tables(s, dir, t)))
    assert(jobs(events).isEmpty, s"${jobs(events).size} jobs read the ${Tables.all.size} schemas")
    for ((t, df) <- frames)
      assert(df.schema == s.read.parquet(s"$dir/$t.parquet").schema, t)
    assert(Tables.events(s, dir).schema("ts").dataType ==
      org.apache.spark.sql.types.TimestampType)
  }

  test("no stage of q_media_e2e runs more tasks than the session's shuffle partitions") {
    val s = spark.newSession()
    val cap = s.sessionState.conf.numShufflePartitions
    val (_, events) = observed(s) {
      SparkEntry.queries("q_media_e2e")(s, dir).write.format("noop").mode("overwrite").save()
    }
    val stages = events.collect { case e: SparkListenerStageSubmitted => e.stageInfo }
    assert(stages.nonEmpty, "no stage observed: the check is vacuous")
    val wide = stages.filter(_.numTasks > cap)
    assert(wide.isEmpty, s"stages wider than $cap: " +
      wide.map(i => s"${i.name} (${i.numTasks} tasks)").mkString("; "))
  }

  test("q_pipeline_e2e runs the span-keeper aggregation once") {
    val s = spark.newSession()
    val df = SparkEntry.queries("q_pipeline_e2e")(s, dir)
    df.write.format("noop").mode("overwrite").save()
    // the final step of an aggregation grouped by the span text
    val keepers = collect(df.queryExecution.executedPlan) {
      case a: BaseAggregateExec if a.groupingExpressions.map(_.references.map(_.name).toSeq)
          == Seq(Seq("span")) && a.aggregateExpressions.exists(_.mode == Final) => a
    }
    assert(keepers.size == 1, s"${keepers.size} span-keeper aggregations in\n" +
      df.queryExecution.executedPlan)
  }

  test("Tables.fanout counts a scan's partitions without an SQL execution") {
    val s = spark.newSession()
    val d = Tables(s, dir, "documents")
    val checkpointed = d.select("doc_id", "text").localCheckpoint(true)
    val shapes = Seq(
      d.select(col("doc_id"), col("text")),
      d.filter(col("doc_id") % 7 === 0).select(col("doc_id"), split(col("text"), " ").as("t")),
      d.select(col("doc_id"), explode(sequence(lit(0), lit(2))).as("i"))
        .unionByName(d.select((col("doc_id") + 1).as("doc_id"), lit(0).as("i"))),
      checkpointed.filter(col("doc_id") > 10).select("doc_id"))
    for (df <- shapes) {
      val (_, events) = observed(s)(Tables.fanout(df))
      val executions = events.collect { case e: SparkListenerSQLExecutionStart => e }
      assert(executions.isEmpty && jobs(events).isEmpty,
        s"the probe posted ${executions.size} SQL executions and ${jobs(events).size} jobs")
      assert(Tables.partitions(df) == df.rdd.getNumPartitions, df.queryExecution.sparkPlan)
    }
  }
}
