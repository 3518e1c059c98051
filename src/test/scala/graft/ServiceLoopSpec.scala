package graft

import graft.sources.{IngestQueueSource, PubSubSink}
import graft.streaming.ServiceLoop

/** The composed i1 → h1 → i5 job: the reference's whole service loop
  * (main.py receiver → ingest_message → progress publishing) as ONE
  * restartable streaming query. The individual pieces have their own
  * specs; this one proves the COMPOSITION — queue offsets, state-store
  * contents, and sink epoch manifests surviving a mid-asset kill
  * together, with published progress equal to an uninterrupted run's.
  */
class ServiceLoopSpec extends SparkTestBase {

  private def published(dir: String): Seq[(String, String, String, Int)] =
    PubSubSink.readPublished(spark, dir, PubSubSink.progressSchema)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getInt(3)))
      .toSeq.sorted

  private val storeKey = "spark.sql.streaming.stateStore.providerClass"
  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val changelogKey = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
  // the whole composition runs on the PRODUCTION state store: state
  // restore across the kill/restart below exercises RocksDB
  // checkpoint recovery, not just the in-memory default (h12's
  // store-agnosticism proof lifted to the composed job)
  private val rocksDb = Seq(storeKey ->
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  /** How Spark itself checkpoints a local path: `FileContext` renames
    * and a RocksDB snapshot per commit. */
  private val sparkCheckpoints = Seq(managerKey ->
    classOf[org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager].getName,
    changelogKey -> "false")
  private val graftCheckpoints =
    GraftExtensions.sessionDefaults.filter(kv => kv._1 == managerKey || kv._1 == changelogKey)

  /** `body` under the session confs `confs`, restored afterwards. */
  private def withConfs[T](confs: Seq[(String, String)])(body: => T): T = {
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("service loop: kill mid-asset, restart from checkpoint, publishes equal the uninterrupted run") {
    killRestartScenario(rocksDb, rocksDb)
  }

  test("a checkpoint written under Spark's checkpoint defaults resumes under graft's") {
    assert(graftCheckpoints.size == 2)
    killRestartScenario(rocksDb ++ sparkCheckpoints, rocksDb ++ graftCheckpoints)
  }

  test("a checkpoint written under graft's checkpoint defaults resumes under Spark's") {
    killRestartScenario(rocksDb ++ graftCheckpoints, rocksDb ++ sparkCheckpoints)
  }

  test("a warm drain on RocksDB starts no chmod, readlink or rm between its first and last trigger") {
    withConfs(rocksDb ++ graftCheckpoints) {
      def drain(): org.apache.spark.sql.streaming.StreamingQuery = {
        val q = ServiceLoop.run(spark, 40, 10, tempDir("graft_svc_pub"), tempDir("graft_svc_ckpt"))
        assert(q.awaitTermination(180000L), "drain did not finish")
        q.stop()
        q
      }
      drain()
      val (q, forks) = Forks.during(drain())
      val triggers = q.recentProgress.filter(_.numInputRows > 0)
      assert(triggers.length == 4, s"${triggers.length} data triggers")
      def end(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
        java.time.Instant.parse(p.timestamp).plusMillis(p.durationMs.get("triggerExecution"))
      val (from, to) = (end(triggers.head), end(triggers.last))
      // the first trigger loads each partition's fresh store, once per
      // query; JVM-wide background threads run on their own clocks: the
      // JDK Cleaner deletes dropped sessions' artifact dirs, and state
      // maintenance unloads stopped queries' stores
      val inLoop = forks.filter(f => f.at.isAfter(from) && !f.at.isAfter(to) &&
        Set("chmod", "readlink", "rm").contains(f.program) &&
        !f.thread.startsWith("Cleaner-") && !f.thread.startsWith("state-store-maintenance"))
      assert(inLoop.isEmpty, s"${inLoop.size} forks in triggers 2-4 (${forks.size} in the drain): " +
        inLoop.take(5).map(f => s"${f.thread}: ${f.command}").mkString("; "))
    }
  }

  /** Run 1 under `run1` confs, killed mid-asset; run 2 under `run2`
    * resumes its checkpoint; both against an uninterrupted run. */
  private def killRestartScenario(run1: Seq[(String, String)], run2: Seq[(String, String)]): Unit = {
    val pub = tempDir("graft_svc_pub")
    val ckpt = tempDir("graft_svc_ckpt")

    // run 1 drains a 110-message backlog in 60-message triggers: the
    // "kill" lands inside asset 27's quadruple (ids 108..111), BETWEEN
    // its two out-of-order processing chunks — chunk@76 consumed,
    // stale chunk@53 and the terminal chunk still on the queue
    withConfs(run1) {
      val q1 = ServiceLoop.run(spark, 110, 60, pub, ckpt)
      assert(q1.awaitTermination(180000L), "run 1 did not drain")
      q1.stop()
    }
    val url27 = IngestQueueSource.blobUrl(108)
    val mid = published(pub)
    // 27 complete assets x 3 visible transitions + asset 27's first two
    assert(mid.size == 27 * 3 + 2, s"mid-kill publish count ${mid.size}")
    assert(mid.filter(_._2 == url27).map(t => (t._3, t._4)).sorted ==
      Seq(("downloaded", 30), ("processing", 76)),
      "asset 27 must be mid-flight at the kill")

    // run 2: the queue has grown to 200; SAME checkpoint — offsets
    // resume at 110, asset 27's state machine resumes at processing/76
    withConfs(run2) {
      val q2 = ServiceLoop.run(spark, 200, 60, pub, ckpt)
      assert(q2.awaitTermination(180000L), "run 2 did not drain")
      // the restarted run must actually be on RocksDB, not silently
      // defaulted — its state restore is the point of the scenario
      val stateOps = q2.lastProgress.stateOperators
      assert(stateOps.nonEmpty && stateOps(0).customMetrics.containsKey("rocksdbFilesCopied"),
        s"RocksDB store not engaged in the restarted run: ${
          if (stateOps.isEmpty) "no state ops" else stateOps(0).customMetrics}")
      q2.stop()
    }

    // uninterrupted twin: fresh checkpoint + fresh pub/sub path
    val pubU = tempDir("graft_svc_pub_u")
    val ckptU = tempDir("graft_svc_ckpt_u")
    withConfs(rocksDb) {
      val q3 = ServiceLoop.run(spark, 200, 60, pubU, ckptU)
      assert(q3.awaitTermination(180000L), "uninterrupted run did not drain")
      q3.stop()
    }

    val got = published(pub)
    val want = published(pubU)
    // 50 assets x 3 transitions (the stale out-of-order chunk never
    // surfaces): exactly-once across the kill — no lost message, no
    // replayed epoch, no duplicate publish
    assert(want.size == 50 * 3, s"uninterrupted run published ${want.size}")
    assert(got == want,
      s"interrupted+restarted publishes diverge from the uninterrupted run (${got.size} vs ${want.size})")
    assert(got.distinct.size == got.size, "duplicate publishes across the restart")
    // the regression behind the kill was rejected by RESTORED state: a
    // fresh state machine would have published processing@53 for asset
    // 27 in run 2 (its chunk@76 was consumed before the kill)
    assert(!got.exists(t => t._2 == url27 && t._4 == 53),
      "stale chunk published — state was not restored across the restart")
  }
}
