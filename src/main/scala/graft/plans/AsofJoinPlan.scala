package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, BoundReference, Expression, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.LongType

/** Logical as-of join: for every left row, the LATEST right row with
  * the same key and right.time <= left.time (inner: unmatched left
  * rows drop). Spark has no such operator — the composable
  * workarounds are an O(n·m) range join or the union+window
  * carry-forward (Analytics c21); this node gives the semantics a
  * first-class plan so the planner can pick the dedicated physical
  * operator below. Key and time expressions must be LongType (the
  * integral-time contract every epoch-keyed table meets).
  *
  * `leftKeys`/`rightKeys` are compared LEXICOGRAPHICALLY, which is what
  * makes the operator skew-salt-able: pass (key, time-bucket) as the
  * key tuple and the clustering splits a hot key's timeline across
  * #buckets tasks — the c24 salting recipe folded into the operator
  * (correctness across bucket boundaries still needs the planted
  * carry-in rows on the right side; see Asof.qAsofSaltedNative).
  *
  * `rightTiebreak` disambiguates right rows sharing (key, time): among
  * ties the row GREATEST under the tiebreak ordering wins, because the
  * zipper admits ties in ascending tiebreak order and each admission
  * replaces the carried row. This folds the "one row per (key, time)"
  * pre-aggregation an as-of join otherwise needs into the sort the
  * operator already requires — one whole exchange + hash-agg less.
  */
case class AsofJoin(left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Seq[Expression] = Nil) extends BinaryNode {
  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size,
    s"as-of key tuples must be non-empty and same-arity: $leftKeys vs $rightKeys")
  override def output: Seq[Attribute] = left.output ++ right.output
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoin =
    copy(left = newLeft, right = newRight)
}

/** Planner strategy: AsofJoin → AsofJoinExec. Injected via
  * GraftExtensions (injectPlannerStrategy). */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoin(l, r, lk, rk, lt, rt, tb) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, tb) :: Nil
    case _ => Nil
  }
}

/** Physical sort-merge as-of join: both children hash-clustered on the
  * key tuple (EnsureRequirements inserts the two exchanges and aligns
  * partition counts) and sorted by (keys..., time[, tiebreak]); each
  * partition is then a single zipper pass — the right cursor advances
  * monotonically, carrying the latest right row at-or-before the left
  * cursor, so the whole join is O(n + m) per partition with ONE
  * buffered row of state. This is the shape a dedicated time-series
  * engine gives as-of joins, expressed as a Spark operator: no union
  * materialization, no window state, no range fan-out.
  *
  * Participates in whole-stage codegen (the zipper loop is generated,
  * and the joined columns flow into the parent operator as variables —
  * no per-row UnsafeProjection, no JoinedRow materialization); the
  * interpreted doExecute below is the spark.sql.codegen.wholeStage=false
  * fallback.
  */
case class AsofJoinExec(left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTime: Expression, rightTime: Expression,
    rightTiebreak: Seq[Expression] = Nil)
  extends BinaryExecNode with CodegenSupport {

  private def nKeys: Int = leftKeys.size

  override def output: Seq[Attribute] = left.output ++ right.output
  override def outputPartitioning: Partitioning = left.outputPartitioning
  // the zipper streams left rows in order ⇒ the left sort survives
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  // requiredNumPartitions pinned (as stateful streaming operators do):
  // doExecute zips the two children partition-by-partition, so the two
  // shuffles must never end up with different partition counts. AQE is
  // no risk in practice — CoalesceShufflePartitions only forms coalesce
  // groups under nodes it knows (ShuffledJoin, Union, Aggregate), so a
  // custom binary node's shuffles are left uncoalesced either way — but
  // the pin makes the invariant explicit instead of relying on that.
  override def requiredChildDistribution: Seq[Distribution] = {
    val n = Some(conf.numShufflePartitions)
    Seq(ClusteredDistribution(leftKeys, requiredNumPartitions = n),
      ClusteredDistribution(rightKeys, requiredNumPartitions = n))
  }

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) ++ (SortOrder(rightTime, Ascending) +:
      rightTiebreak.map(SortOrder(_, Ascending))))

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val allOut = output
    val arity = nKeys
    val lkEs = leftKeys.map(BindReferences.bindReference(_, lOut)).toArray
    val rkEs = rightKeys.map(BindReferences.bindReference(_, rOut)).toArray
    val ltE = BindReferences.bindReference(leftTime, lOut)
    val rtE = BindReferences.bindReference(rightTime, rOut)
    // key/time are LongType attributes in practice, so after binding
    // they are BoundReferences — read them as primitive row.getLong
    // ordinals in the zipper (no Expression.eval, no Long boxing);
    // -1 falls back to eval for exotic (computed) key expressions
    def ordinal(e: Expression): Int = e match {
      case b: BoundReference if b.dataType == LongType && !b.nullable => b.ordinal
      case _ => -1
    }
    val lkOs = lkEs.map(ordinal)
    val rkOs = rkEs.map(ordinal)
    val (ltO, rtO) = (ordinal(ltE), ordinal(rtE))
    // a row whose key or time is null never joins, on either side —
    // the generated zipper skips it the same way (`continue`)
    val lNullable = (lkEs :+ ltE).filter(_.nullable)
    val rNullable = (rkEs :+ rtE).filter(_.nullable)
    def anyNull(row: InternalRow, es: Array[Expression]): Boolean =
      es.exists(_.eval(row) == null)
    left.execute().zipPartitions(right.execute()) { (li, ri) =>
      val joined = new JoinedRow
      // identity projection: emit UnsafeRows downstream operators expect
      val project = UnsafeProjection.create(allOut.map(a => a: Expression), allOut)
      @inline def longAt(row: InternalRow, o: Int, e: Expression): Long =
        if (o >= 0) row.getLong(o) else e.eval(row).asInstanceOf[Long]
      def readKeys(row: InternalRow, os: Array[Int], es: Array[Expression],
          out: Array[Long]): Unit = {
        var i = 0
        while (i < arity) { out(i) = longAt(row, os(i), es(i)); i += 1 }
      }
      // lexicographic tuple compare: <0, 0, >0
      def cmp(a: Array[Long], b: Array[Long]): Int = {
        var i = 0
        while (i < arity) {
          if (a(i) < b(i)) return -1
          if (a(i) > b(i)) return 1
          i += 1
        }
        0
      }
      // the carried row must survive the sorter reusing its row buffer,
      // so admitted rows are copied OUT of the iterator — but into ONE
      // reused UnsafeRow buffer (copyFrom), not a fresh copy() per
      // admitted row: zero steady-state allocation in the zipper
      var carried: InternalRow = null
      var carriedBuf: UnsafeRow = null
      val carriedKey = new Array[Long](arity)
      val lKey = new Array[Long](arity)
      val rKey = new Array[Long](arity)
      var rNext: InternalRow = null // lookahead (right rows not yet admitted)
      def admit(): Unit = {
        rNext match {
          case u: UnsafeRow =>
            if (carriedBuf == null) carriedBuf = u.copy()
            else carriedBuf.copyFrom(u)
            carried = carriedBuf
          case other => carried = other.copy()
        }
        System.arraycopy(rKey, 0, carriedKey, 0, arity)
        rNext = null
      }
      def advanceRight(lt: Long): Unit = {
        var continue = true
        while (continue) {
          while (rNext == null && ri.hasNext) {
            val r = ri.next()
            if (!anyNull(r, rNullable)) {
              rNext = r
              readKeys(rNext, rkOs, rkEs, rKey)
            }
          }
          if (rNext == null) continue = false
          else {
            val c = cmp(rKey, lKey)
            if (c < 0 || (c == 0 && longAt(rNext, rtO, rtE) <= lt)) admit()
            else continue = false
          }
        }
      }
      li.filterNot(anyNull(_, lNullable)).flatMap { lrow =>
        readKeys(lrow, lkOs, lkEs, lKey)
        val lt = longAt(lrow, ltO, ltE)
        advanceRight(lt)
        if (carried != null && cmp(carriedKey, lKey) == 0)
          Iterator.single(project(joined(lrow, carried)))
        else Iterator.empty
      }
    }
  }

  // ------------------------- codegen -------------------------
  // Modeled on SortMergeJoinExec: both children arrive as plain
  // iterators (inputs[0]/inputs[1]); WholeStageCodegenExec zips the
  // two input RDDs partition-by-partition exactly like doExecute.

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    left.execute() :: right.execute() :: Nil

  // the carried row is a reused mutable buffer, so rows leaving the
  // stage must be copied before any parent buffers them
  override def needCopyResult: Boolean = true

  override protected def doProduce(ctx: CodegenContext): String = {
    val arity = nKeys
    val leftInput = ctx.addMutableState("scala.collection.Iterator", "asofLeftInput",
      v => s"$v = inputs[0];", forceInline = true)
    val rightInput = ctx.addMutableState("scala.collection.Iterator", "asofRightInput",
      v => s"$v = inputs[1];", forceInline = true)
    val leftRow = ctx.addMutableState("InternalRow", "asofLeftRow")
    val rNextRow = ctx.addMutableState("InternalRow", "asofRNextRow")
    val rNextKeys = (0 until arity).map(i => ctx.addMutableState("long", s"asofRNextKey$i"))
    val rNextTime = ctx.addMutableState("long", "asofRNextTime")
    val carried = ctx.addMutableState(
      "org.apache.spark.sql.catalyst.expressions.UnsafeRow", "asofCarried")
    val carriedValid = ctx.addMutableState("boolean", "asofCarriedValid")
    val carriedKeys = (0 until arity).map(i => ctx.addMutableState("long", s"asofCarriedKey$i"))

    ctx.currentVars = null
    ctx.INPUT_ROW = leftRow
    val lkCodes = leftKeys.map(k =>
      BindReferences.bindReference(k, left.output).genCode(ctx))
    val ltCode = BindReferences.bindReference(leftTime, left.output).genCode(ctx)
    ctx.INPUT_ROW = rNextRow
    val rkCodes = rightKeys.map(k =>
      BindReferences.bindReference(k, right.output).genCode(ctx))
    val rtCode = BindReferences.bindReference(rightTime, right.output).genCode(ctx)
    // output columns as variables: left side straight off the streamed
    // row, right side off the carried buffer — the parent consumes them
    // directly, so no joined row is ever materialized here
    ctx.INPUT_ROW = leftRow
    val leftVars = left.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    ctx.INPUT_ROW = carried
    val rightVars = right.output.zipWithIndex.map { case (a, i) =>
      BoundReference(i, a.dataType, a.nullable).genCode(ctx)
    }
    val lks = (0 until arity).map(i => ctx.freshName(s"lk$i"))
    val lt = ctx.freshName("lt")

    val lkDecls = lks.zip(lkCodes).map { case (v, c) =>
      s"final long $v = ${c.value};"
    }.mkString("\n")
    val anyLkNull = lkCodes.map(_.isNull.toString).filterNot(_ == "false")
    val anyRkNull = rkCodes.map(_.isNull.toString).filterNot(_ == "false")
    val lkNullCheck =
      if (anyLkNull.isEmpty && ltCode.isNull.toString == "false") ""
      else s"if (${(anyLkNull :+ ltCode.isNull.toString).mkString(" || ")}) continue;"
    val rkNullCheck =
      if (anyRkNull.isEmpty && rtCode.isNull.toString == "false") ""
      else s"if (${(anyRkNull :+ rtCode.isNull.toString).mkString(" || ")}) { $rNextRow = null; continue; }"
    val rkAssigns = rNextKeys.zip(rkCodes).map { case (v, c) =>
      s"$v = ${c.value};"
    }.mkString("\n")
    // admissible ⇔ rKeys < lKeys lexicographically, or equal and rt <= lt
    def admissible(i: Int): String =
      if (i == arity) s"$rNextTime <= $lt"
      else s"${rNextKeys(i)} < ${lks(i)} || (${rNextKeys(i)} == ${lks(i)} && (${admissible(i + 1)}))"
    val carriedAssigns = carriedKeys.zip(rNextKeys).map { case (c, r) =>
      s"$c = $r;"
    }.mkString("\n")
    val carriedMatch = (carriedValid +: carriedKeys.zip(lks).map { case (c, l) =>
      s"$c == $l"
    }).mkString(" && ")

    s"""
       |while ($leftInput.hasNext()) {
       |  $leftRow = (InternalRow) $leftInput.next();
       |  ${lkCodes.map(_.code).mkString("\n")}
       |  ${ltCode.code}
       |  $lkNullCheck
       |  $lkDecls
       |  final long $lt = ${ltCode.value};
       |  while (true) {
       |    if ($rNextRow == null) {
       |      if (!$rightInput.hasNext()) break;
       |      $rNextRow = (InternalRow) $rightInput.next();
       |      ${rkCodes.map(_.code).mkString("\n")}
       |      ${rtCode.code}
       |      $rkNullCheck
       |      $rkAssigns
       |      $rNextTime = ${rtCode.value};
       |    }
       |    if (${admissible(0)}) {
       |      // admit: copy out of the sorter's reused buffer, into ONE
       |      // reused UnsafeRow (copyFrom) — zero steady-state allocation
       |      if ($carried == null) {
       |        $carried = ((org.apache.spark.sql.catalyst.expressions.UnsafeRow) $rNextRow).copy();
       |      } else {
       |        $carried.copyFrom((org.apache.spark.sql.catalyst.expressions.UnsafeRow) $rNextRow);
       |      }
       |      $carriedValid = true;
       |      $carriedAssigns
       |      $rNextRow = null;
       |    } else {
       |      break;
       |    }
       |  }
       |  if ($carriedMatch) {
       |    ${consume(ctx, leftVars ++ rightVars)}
       |    if (shouldStop()) return;
       |  }
       |}
     """.stripMargin
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
