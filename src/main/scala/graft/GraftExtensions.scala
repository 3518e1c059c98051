package graft

import org.apache.spark.{SparkConf, SparkEnv}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.DotProduct

/** SparkSessionExtensions entry point: enables
  * `spark.sql.extensions=graft.GraftExtensions` so every session —
  * including ones created by spark-submit on a real cluster — gets the
  * graft-native expressions without calling GraftFunctions.register
  * by hand.
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
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getCanonicalName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProduct(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_qdot"),
      new ExpressionInfo(classOf[graft.functions.QuantDot].getCanonicalName, "graft_qdot"),
      (exprs: Seq[Expression]) => graft.functions.QuantDot(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle3"),
      new ExpressionInfo(classOf[graft.functions.Shingle3].getCanonicalName, "graft_shingle3"),
      (exprs: Seq[Expression]) => graft.functions.Shingle3(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(classOf[graft.functions.SimHash64].getCanonicalName, "graft_simhash64"),
      (exprs: Seq[Expression]) => graft.functions.SimHash64(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_hyperband"),
      new ExpressionInfo(classOf[graft.functions.HyperBand].getCanonicalName, "graft_hyperband"),
      (exprs: Seq[Expression]) => graft.functions.HyperBand(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_sid60"),
      new ExpressionInfo(classOf[graft.functions.Sid60].getCanonicalName, "graft_sid60"),
      (exprs: Seq[Expression]) => graft.functions.Sid60(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_shingle_sids"),
      new ExpressionInfo(classOf[graft.functions.ShingleSids].getCanonicalName, "graft_shingle_sids"),
      (exprs: Seq[Expression]) => graft.functions.ShingleSids(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_posting_records"),
      new ExpressionInfo(classOf[graft.functions.PostingRecords].getCanonicalName, "graft_posting_records"),
      (exprs: Seq[Expression]) => graft.functions.PostingRecords(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_capped_list"),
      new ExpressionInfo(classOf[graft.functions.CappedList].getCanonicalName, "graft_capped_list"),
      (exprs: Seq[Expression]) => graft.functions.CappedList(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_repstats"),
      new ExpressionInfo(classOf[graft.functions.RepStats].getCanonicalName, "graft_repstats"),
      (exprs: Seq[Expression]) => graft.functions.RepStats(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_mg_topk"),
      new ExpressionInfo(classOf[graft.functions.MisraGries].getCanonicalName, "graft_mg_topk"),
      (exprs: Seq[Expression]) => graft.functions.MisraGries(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_kmv"),
      new ExpressionInfo(classOf[graft.functions.Kmv].getCanonicalName, "graft_kmv"),
      (exprs: Seq[Expression]) => graft.functions.Kmv(exprs(0), exprs(1))))
    // graft_window_sids is GraftFunctions.register's idempotence
    // sentinel — extension-built sessions must carry it too, or the
    // sentinel never fires and register() re-registers on every call
    ext.injectFunction((
      FunctionIdentifier("graft_window_sids"),
      new ExpressionInfo(classOf[graft.functions.WindowSids].getCanonicalName,
        "graft_window_sids"),
      (exprs: Seq[Expression]) => graft.functions.WindowSids(exprs(0),
        exprs(1).eval().asInstanceOf[Number].intValue())))
    ext.injectFunction((
      FunctionIdentifier("graft_geohash8"),
      new ExpressionInfo(classOf[graft.functions.Geohash8].getCanonicalName,
        "graft_geohash8"),
      (exprs: Seq[Expression]) => graft.functions.Geohash8(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_hilbert"),
      new ExpressionInfo(classOf[graft.functions.HilbertD].getCanonicalName,
        "graft_hilbert"),
      (exprs: Seq[Expression]) => graft.functions.HilbertD(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_pair_codes"),
      new ExpressionInfo(classOf[graft.functions.PairCodes].getCanonicalName,
        "graft_pair_codes"),
      (exprs: Seq[Expression]) => graft.functions.PairCodes(exprs(0))))
    ext.injectFunction((
      FunctionIdentifier("graft_ray_cross"),
      new ExpressionInfo(classOf[graft.functions.RayCrossings].getCanonicalName,
        "graft_ray_cross"),
      (exprs: Seq[Expression]) => graft.functions.RayCrossings(
        exprs(0), exprs(1), exprs(2), exprs(3))))
    ext.injectFunction((
      FunctionIdentifier("graft_clip"),
      new ExpressionInfo(classOf[graft.functions.ClipBox].getCanonicalName,
        "graft_clip"),
      (exprs: Seq[Expression]) => graft.functions.ClipBox(
        exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_dp"),
      new ExpressionInfo(classOf[graft.functions.DpSimplify].getCanonicalName,
        "graft_dp"),
      (exprs: Seq[Expression]) => graft.functions.DpSimplify(
        exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_reproject"),
      new ExpressionInfo(classOf[graft.functions.Reproject].getCanonicalName,
        "graft_reproject"),
      (exprs: Seq[Expression]) => graft.functions.Reproject(
        exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_qdist2"),
      new ExpressionInfo(classOf[graft.functions.QuantDist2].getCanonicalName,
        "graft_qdist2"),
      (exprs: Seq[Expression]) => graft.functions.QuantDist2(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_topk_min"),
      new ExpressionInfo(classOf[graft.functions.TopKMin].getCanonicalName,
        "graft_topk_min"),
      (exprs: Seq[Expression]) => graft.functions.TopKMin(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_intersect_count"),
      new ExpressionInfo(classOf[graft.functions.IntersectCount].getCanonicalName,
        "graft_intersect_count"),
      (exprs: Seq[Expression]) => graft.functions.IntersectCount(exprs(0), exprs(1))))
    // rewrite interpreted size(filter(a, x -> array_contains(b, x)))
    // lambdas into the codegen'd hash-probe expression
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
    // plan constant-width interval joins as bucketed equi-joins
    // instead of BroadcastNestedLoopJoin
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // physical operator for the first-class as-of join node
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
  }
}

object GraftExtensions {
  /** Spark defaults under which a generated class compiles once per JVM
    * instead of once per session. Set only where the user has not set
    * the key, so an explicit value always wins.
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
    */
  val sessionDefaults: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "1024",
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.useIdInClassName" -> "false")

  def installDefaults(conf: SparkConf): Unit =
    sessionDefaults.foreach { case (k, v) => conf.setIfMissing(k, v) }
}
