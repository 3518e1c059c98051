package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import graft.plans.{AsofJoinStrategy, IntersectCountRewrite, RangeJoinRewrite}

/** graft's native surface, declared once: every `graft_*` SQL function
  * and the plan rules that go with them. `graft.GraftExtensions`
  * injects this surface into every session of a context built with
  * `spark.sql.extensions=graft.GraftExtensions`; [[register]] retrofits
  * it onto a session built without.
  *
  * The contract: a session has the extension, or `register` (or
  * `graft.Tables.registerViews`) was called on it once. Registry
  * queries (`graft.SparkEntry.queries`) call `register` themselves. */
object GraftFunctions {
  /** One graft-native function: its SQL name, the expression class its
    * `ExpressionInfo` names, and the builder from its arguments. */
  final case class Fn(name: String, cls: Class[_ <: Expression],
      build: Seq[Expression] => Expression) {
    def id: FunctionIdentifier = FunctionIdentifier(name)
    def info: ExpressionInfo = new ExpressionInfo(cls.getCanonicalName, name)
  }

  val functions: Seq[Fn] = Seq(
    Fn("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    Fn("graft_qdot", classOf[QuantDot], e => QuantDot(e(0), e(1))),
    Fn("graft_qdist2", classOf[QuantDist2], e => QuantDist2(e(0), e(1))),
    Fn("graft_intersect_count", classOf[IntersectCount], e => IntersectCount(e(0), e(1))),
    Fn("graft_shingle3", classOf[Shingle3], e => Shingle3(e(0))),
    Fn("graft_simhash64", classOf[SimHash64], e => SimHash64(e(0))),
    Fn("graft_hyperband", classOf[HyperBand], e => HyperBand(e(0))),
    Fn("graft_sid60", classOf[Sid60], e => Sid60(e(0))),
    Fn("graft_shingle_sids", classOf[ShingleSids], e => ShingleSids(e(0))),
    Fn("graft_posting_records", classOf[PostingRecords], e => PostingRecords(e(0))),
    Fn("graft_window_sids", classOf[WindowSids],
      e => WindowSids(e(0), e(1).eval().asInstanceOf[Number].intValue())),
    Fn("graft_capped_list", classOf[CappedList], e => CappedList(e(0), e(1))),
    Fn("graft_mg_topk", classOf[MisraGries], e => MisraGries(e(0), e(1))),
    Fn("graft_kmv", classOf[Kmv], e => Kmv(e(0), e(1))),
    Fn("graft_repstats", classOf[RepStats], e => RepStats(e(0))),
    Fn("graft_topk_min", classOf[TopKMin], e => TopKMin(e(0), e(1))),
    Fn("graft_geohash8", classOf[Geohash8], e => Geohash8(e(0), e(1))),
    Fn("graft_hilbert", classOf[HilbertD], e => HilbertD(e(0), e(1), e(2))),
    Fn("graft_pair_codes", classOf[PairCodes], e => PairCodes(e(0))),
    Fn("graft_ray_cross", classOf[RayCrossings], e => RayCrossings(e(0), e(1), e(2), e(3))),
    Fn("graft_clip", classOf[ClipBox], e => ClipBox(e(0), e(1), e(2))),
    Fn("graft_dp", classOf[DpSimplify], e => DpSimplify(e(0), e(1), e(2))),
    Fn("graft_reproject", classOf[Reproject], e => Reproject(e(0), e(1), e(2))))

  /** Optimizer rules: rewrite the interpreted
    * `size(filter(a, x -> array_contains(b, x)))` lambda into
    * `graft_intersect_count`, and plan constant-width interval joins as
    * bucketed equi-joins instead of a BroadcastNestedLoopJoin. */
  val optimizerRules: Seq[Rule[LogicalPlan]] = Seq(IntersectCountRewrite, RangeJoinRewrite)

  /** Planner strategies: the physical operator for the as-of join node. */
  val strategies: Seq[SparkStrategy] = Seq(AsofJoinStrategy)

  /** Add to `spark` each function and rule it lacks; replace nothing.
    * Idempotent, and a no-op on a session built with the extension. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.filterNot(f => registry.functionExists(f.id))
      .foreach(f => registry.registerFunction(f.id, f.info, f.build))
    val exp = spark.experimental
    val rules = spark.sessionState.optimizer.extendedOperatorOptimizationRules ++
      exp.extraOptimizations
    exp.extraOptimizations ++= optimizerRules.filterNot(rules.contains)
    exp.extraStrategies ++= strategies.filterNot(spark.sessionState.planner.strategies.contains)
  }
}
