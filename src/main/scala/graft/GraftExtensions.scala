package graft

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import graft.functions.GraftFunctions

/** SparkSessionExtensions entry point: with
  * `spark.sql.extensions=graft.GraftExtensions` every session, including
  * ones created by spark-submit on a real cluster, gets the graft-native
  * functions and rules declared in [[graft.functions.GraftFunctions]].
  *
  * It also installs [[GraftExtensions.sessionDefaults]] on the live
  * SparkConf. The builder applies extensions after the SparkContext
  * exists but before the first session's state does, so the defaults
  * reach every session of the context, static confs included. graft's
  * callers run each job in a fresh session (`newSession()`), and under
  * Spark's own defaults each fresh session recompiles every generated
  * class.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    Option(SparkEnv.get).foreach(env => GraftExtensions.installDefaults(env.conf))
    GraftFunctions.functions.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
    GraftFunctions.optimizerRules.foreach(r => ext.injectOptimizerRule(_ => r))
    GraftFunctions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
  }
}

object GraftExtensions {
  /** Spark defaults graft installs. Each is set only where the user has
    * not set the key, so a value given on the builder or with `--conf`
    * always wins.
    *
    * Under the first three a generated class compiles once per JVM
    * instead of once per session:
    *
    *  - `spark.sql.codegen.cache.maxEntries`: static, read once when the
    *    JVM-wide class cache is first built. Spark's 100 is fewer than
    *    the five reference pipelines compile (317 classes), so the LRU
    *    evicts each class before its next use.
    *  - `spark.sql.artifact.isolation.enabled`: with isolation each
    *    session gets its own class loader, and the loader is part of the
    *    cache key, so every task-side class recompiles per session.
    *    graft never adds per-session artifacts (jars, classes, files),
    *    so isolation buys it nothing. A deployment that needs it can set
    *    it back to `true`, at the cost of these recompiles.
    *  - `spark.sql.codegen.useIdInClassName`: AQE numbers codegen stages
    *    in re-optimization order, so identical code gets different class
    *    names (`…CodegenStage16` vs `…24`) in different sessions and
    *    misses the cache.
    *
    * Under the last two a streaming trigger on a local disk starts no
    * process (without libhadoop, Hadoop's local file system forks
    * `chmod`, `readlink` and `rm` for checkpoint files):
    *
    *  - `spark.sql.streaming.checkpointFileManagerClass`: offset, commit
    *    and state files go through [[graft.sources.LocalCheckpointFileManager]].
    *  - `spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled`:
    *    a RocksDB commit writes one changelog file per partition through
    *    that manager; without it every commit uploads a snapshot, which
    *    bypasses the manager. Snapshots move to the maintenance thread.
    *    Spark resumes a checkpoint written in either mode.
    */
  val sessionDefaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false",
    "spark.sql.streaming.checkpointFileManagerClass" -> "graft.sources.LocalCheckpointFileManager",
    "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true")

  def installDefaults(conf: SparkConf): Unit =
    sessionDefaults.foreach { case (k, v) => conf.setIfMissing(k, v) }
}
