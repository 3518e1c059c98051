package graft

import org.apache.logging.log4j.LogManager
import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.sql.execution.LogicalRDD

/** The `Failed to update accumulator` lines a body logs while a thread
  * forces GC every 5 ms. */
object ForcedGc {
  def lostAccumulatorUpdates(body: => Unit): Seq[String] = {
    val lost = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val watch = new AbstractAppender("lost-accumulators", null, null, true,
        Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = {
        val m = e.getMessage.getFormattedMessage
        if (m.contains("Failed to update accumulator")) lost.add(m)
      }
    }
    watch.start()
    val root = LogManager.getRootLogger.asInstanceOf[CoreLogger]
    root.addAppender(watch)
    @volatile var running = true
    val gc = new Thread(() => while (running) { System.gc(); Thread.sleep(5) })
    gc.setDaemon(true)
    gc.start()
    try body
    finally {
      running = false
      gc.join()
      root.removeAppender(watch)
      watch.stop()
    }
    lost.toArray(Array.empty[String]).toSeq
  }
}

/** A memoized frame read by two stages of one plan must not strand the
  * plan's SQL-metric accumulators. A lazy local checkpoint is taken
  * when the first job reading it ends; a stage still computing the old
  * lineage then reports metrics of a plan that is garbage by now, and
  * each report logs `Failed to update accumulator`. The race needs GC
  * to land inside a short window, so each write below runs under
  * [[ForcedGc]]; the first assertion of each query states the cause
  * itself and does not depend on timing. The queries are the ones whose
  * memo one plan reads more than once. */
class TrianglesGcSpec extends SparkTestBase {
  // the sf0.01 scale beside the suite's default fixture
  private val dir = new java.io.File(new java.io.File(sfDir).getParentFile, "sf0.01").getPath

  private def memosMaterialized(name: String): Unit = {
    val df = SparkEntry.queries(name)(spark, dir)
    val memos = df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd }.distinct
    assert(memos.nonEmpty && memos.forall(_.isCheckpointed),
      s"memos still checkpointed lazily: ${memos.filterNot(_.isCheckpointed)}")
  }

  /** Verify's write (one output file), `reps` times under forced GC. */
  private def noLostUpdates(name: String, reps: Int): Unit = {
    val out = java.nio.file.Files.createTempDirectory("graft_memo_gc")
    val lost = try ForcedGc.lostAccumulatorUpdates {
      (1 to reps).foreach { _ =>
        SparkEntry.queries(name)(spark, dir)
          .coalesce(1).write.mode("overwrite").parquet(out.toString)
      }
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
    assert(lost.isEmpty, s"${lost.size} accumulator updates lost, first: ${lost.headOption}")
  }

  test("q_triangles reads only frames already materialized when it is built") {
    // the oriented-edge memo, read by both wedge sides and the closing
    // join; the edges memo sits behind it
    memosMaterialized("q_triangles")
  }

  test("q_triangles at sf0.01 under forced GC loses no accumulator updates") {
    noLostUpdates("q_triangles", reps = 3)
  }

  // the signature memos of the pigeonhole self-join (both sides), the
  // audio chains (both sides), and pagerank's degree and out-edge
  // tables (the rank seed and every round's join)
  for (q <- Seq("q_simhash_near", "q_phash_dedup", "q_audio_fingerprint", "q_dedup_pagerank")) {
    test(s"$q reads only frames already materialized when it is built") {
      memosMaterialized(q)
    }

    test(s"$q at sf0.01 under forced GC loses no accumulator updates") {
      noLostUpdates(q, reps = 1)
    }
  }
}
