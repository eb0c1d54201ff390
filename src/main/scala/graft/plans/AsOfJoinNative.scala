package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.plans.physical.{AllTuples, ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** The (c)-tier custom operator (SURVEY §7.3, guide preference order): a
  * whole-operator backward as-of join as a first-class Catalyst citizen —
  * logical node, planner strategy (registered by [[graft.GraftExtensions]]),
  * and a sort-merge physical operator.
  *
  * Where the composed union-sentinel version ([[graft.operators.TemporalJoins
  * .asOfJoinBackwardComposed]], the (a)-tier) shuffles the UNION of both sides and
  * runs a running-`last` window, this operator asks Catalyst for
  * co-partitioned, co-sorted children (EnsureRequirements inserts the
  * exchanges/sorts) and then streams one merge pass per partition: O(1)
  * state per key, no window buffering, no union materialization — the plan
  * a native engine would run, with the same single-shuffle cost.
  *
  * Semantics are identical to the composed version (equivalence-tested and
  * oracle-checked by q53): most recent right row with rTime ≤ lTime per
  * key, optional tolerance, right rows with null time ignored, null keys
  * grouping together (window-partition semantics, not join-equality).
  */
object AsOfJoinNative {

  /** Match direction. Backward = most recent right row at or before the
    * left time (the classic as-of); Forward = earliest at or after;
    * Nearest = closer of the two, ties backward, with an extra
    * `asof_direction` output ('b'/'f'/null).
    */
  sealed trait AsOfMode
  case object Backward extends AsOfMode
  case object Forward extends AsOfMode
  case object Nearest extends AsOfMode

  /** Logical node. `asofOutput` are the fresh output attributes
    * (`asof_<col>`, nullable; plus `asof_direction` for Nearest) resolved
    * at construction time.
    */
  final case class AsOfJoinPlan(left: LogicalPlan, right: LogicalPlan,
                                leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                                lTime: Attribute, rTime: Attribute,
                                rightValues: Seq[Attribute],
                                asofOutput: Seq[Attribute],
                                toleranceUs: Option[Long],
                                mode: AsOfMode = Backward) extends BinaryNode {
    override def output: Seq[Attribute] = left.output ++ asofOutput
    // asof_* attributes are minted by this operator, not read from children
    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOutput)
    override protected def withNewChildrenInternal(
        newLeft: LogicalPlan, newRight: LogicalPlan): LogicalPlan =
      copy(left = newLeft, right = newRight)
  }

  /** Planner strategy: one physical candidate, children planned lazily. */
  object AsOfJoinStrategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case AsOfJoinPlan(l, r, lk, rk, lt, rt, rv, out, tol, mode) =>
        AsOfJoinExec(lk, rk, lt, rt, rv, out, tol, mode,
          planLater(l), planLater(r)) :: Nil
      case _ => Nil
    }
  }

  /** Sort-merge as-of physical operator. */
  final case class AsOfJoinExec(leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
                                lTime: Attribute, rTime: Attribute,
                                rightValues: Seq[Attribute],
                                asofOutput: Seq[Attribute],
                                toleranceUs: Option[Long],
                                mode: AsOfMode,
                                left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

    override def output: Seq[Attribute] = left.output ++ asofOutput

    override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
      org.apache.spark.sql.catalyst.expressions.AttributeSet(asofOutput)

    override def requiredChildDistribution: Seq[Distribution] =
      if (leftKeys.isEmpty) Seq(AllTuples, AllTuples)
      else Seq(ClusteredDistribution(leftKeys), ClusteredDistribution(rightKeys))

    // The right side additionally sorts by its value columns so the LAST row
    // among equal (key, time) is deterministic — matching the composed
    // version's ascending-struct tie-break (max values win). Without it the
    // surviving candidate would follow shuffle-fetch order.
    override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
      (leftKeys :+ lTime).map(a => SortOrder(a, Ascending)),
      ((rightKeys :+ rTime) ++ rightValues).map(a => SortOrder(a, Ascending)))

    override def outputOrdering: Seq[SortOrder] =
      (leftKeys :+ lTime).map(a => SortOrder(a, Ascending))

    override protected def doExecute(): RDD[InternalRow] = {
      val lOut = left.output
      val rOut = right.output
      val lTimeIdx = lOut.indexWhere(_.exprId == lTime.exprId)
      val rTimeIdx = rOut.indexWhere(_.exprId == rTime.exprId)
      val keyTypes = leftKeys.map(_.dataType)
      val valTypes = rightValues.map(_.dataType)
      val nVals = rightValues.size
      val tol = toleranceUs
      val m = mode
      val lKeyExprs: Seq[Expression] = leftKeys
      val rKeyExprs: Seq[Expression] = rightKeys
      val rValExprs: Seq[Expression] = rightValues
      val outAttrs = output
      val lAttrs = lOut
      val asofAttrs = asofOutput
      left.execute().zipPartitions(right.execute()) { (lIt, rIt) =>
        val lKeyProj = UnsafeProjection.create(lKeyExprs, lAttrs)
        val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
        val rValProj = UnsafeProjection.create(rValExprs, rOut)
        val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
        val resultProj = UnsafeProjection.create(outAttrs, lAttrs ++ asofAttrs)
        // Nearest appends the direction field after the value columns
        val outWidth = if (m == Nearest) nVals + 1 else nVals
        val nullVals = new GenericInternalRow(outWidth)
        val outVals = new GenericInternalRow(outWidth)
        val dirB = org.apache.spark.unsafe.types.UTF8String.fromString("b")
        val dirF = org.apache.spark.unsafe.types.UTF8String.fromString("f")
        val joined = new JoinedRow
        val rBuf = rIt.buffered

        // backward candidate: last consumed right row with non-null time
        var backKey: InternalRow = null
        var backTime: Long = 0L
        var backVals: InternalRow = null
        // forward candidate: LAST row of the earliest not-yet-passed
        // (key, time) run — consuming the whole run keeps the max-values
        // tie-break identical to the composed window version, and is
        // lossless for later backward candidacy (the demotion below)
        var fwdKey: InternalRow = null
        var fwdTime: Long = 0L
        var fwdVals: InternalRow = null

        lIt.map { lRow =>
          val lKey = lKeyProj(lRow)
          val lNull = lTimeIdx >= 0 && lRow.isNullAt(lTimeIdx)
          val lT = if (lNull) Long.MinValue else lRow.getLong(lTimeIdx)

          // demote a stale forward run: a key change kills it; a run the
          // frontier has reached becomes the backward candidate (at or
          // behind for Nearest — ties go backward; strictly behind for
          // Forward, where an exact-time run is still a forward match)
          if (fwdKey != null) {
            if (keyOrd.compare(fwdKey, lKey) != 0) fwdKey = null
            else if (!lNull && (if (m == Forward) fwdTime < lT else fwdTime <= lT)) {
              backKey = fwdKey; backTime = fwdTime; backVals = fwdVals
              fwdKey = null
            }
          }

          // advance right across everything behind the as-of frontier:
          // (rKey < lKey), null right times (sorted first; no place on the
          // axis), and same-key rows at/before lT (strictly before for
          // Forward). Each consumed timed row becomes the backward
          // candidate — sorted (key, time, values) makes the last one the
          // max-values tie-break winner, matching the composed version.
          var advance = true
          while (advance && rBuf.hasNext) {
            val rHead = rBuf.head
            val rNullT = rHead.isNullAt(rTimeIdx)
            val cmp = keyOrd.compare(rKeyProj(rHead), lKey)
            val behind = cmp < 0 || (cmp == 0 && (rNullT || (!lNull && {
              val rt = rHead.getLong(rTimeIdx)
              if (m == Forward) rt < lT else rt <= lT
            })))
            if (behind) {
              val r = rBuf.next()
              if (!rNullT) {
                backKey = rKeyProj(r).copy()
                backTime = r.getLong(rTimeIdx)
                backVals = rValProj(r).copy()
              }
            } else advance = false
          }

          // pull the next forward run when needed: head is the earliest
          // same-key row ahead of the frontier; consume its whole
          // (key, time) run so the surviving row is the max-values one
          if (m != Backward && fwdKey == null && !lNull && rBuf.hasNext &&
              !rBuf.head.isNullAt(rTimeIdx) &&
              keyOrd.compare(rKeyProj(rBuf.head), lKey) == 0) {
            val first = rBuf.next()
            fwdKey = rKeyProj(first).copy()
            fwdTime = first.getLong(rTimeIdx)
            fwdVals = rValProj(first).copy()
            var run = true
            while (run && rBuf.hasNext) {
              val h = rBuf.head
              if (!h.isNullAt(rTimeIdx) && h.getLong(rTimeIdx) == fwdTime &&
                  keyOrd.compare(rKeyProj(h), lKey) == 0)
                fwdVals = rValProj(rBuf.next()).copy()
              else run = false
            }
          }

          val db = lT - backTime
          val df = fwdTime - lT
          val okB = m != Forward && backKey != null && !lNull &&
            keyOrd.compare(backKey, lKey) == 0 && tol.forall(db <= _)
          val okF = m != Backward && fwdKey != null && !lNull &&
            keyOrd.compare(fwdKey, lKey) == 0 && tol.forall(df <= _)

          val row = m match {
            case Backward => if (okB) backVals else nullVals
            case Forward => if (okF) fwdVals else nullVals
            case Nearest =>
              val useB = okB && (!okF || db <= df)
              val vals = if (useB) backVals else if (okF) fwdVals else null
              var i = 0
              while (i < nVals) {
                outVals.update(i, if (vals == null) null else vals.get(i, valTypes(i)))
                i += 1
              }
              outVals.update(nVals,
                if (useB) dirB else if (okF) dirF else null)
              outVals
          }
          resultProj(joined(lRow, row))
        }
      }
    }

    override protected def withNewChildrenInternal(
        newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
      copy(left = newLeft, right = newRight)
  }

  /** DataFrame-level API: same contract as
    * [[graft.operators.TemporalJoins.asOfJoinBackward]].
    */
  def asOfJoin(left: DataFrame, lTimeCol: String,
               right: DataFrame, rTimeCol: String,
               keys: Seq[String], rightValueCols: Seq[String],
               toleranceSeconds: Option[Long] = None,
               mode: AsOfMode = Backward): DataFrame = {
    val lPlan = left.queryExecution.analyzed
    // re-alias the right side so a self-join never shares expression ids
    val rAliased = Project(
      right.queryExecution.analyzed.output.map(a => Alias(a, a.name)()),
      right.queryExecution.analyzed)
    val rPlan: LogicalPlan = rAliased
    val rOut = rAliased.output.map(_.asInstanceOf[Attribute])
    def lAttr(n: String): Attribute = lPlan.output.find(_.name == n)
      .getOrElse(sys.error(s"left column not found: $n"))
    def rAttr(n: String): Attribute = rOut.find(_.name == n)
      .getOrElse(sys.error(s"right column not found: $n"))
    val rightValues = rightValueCols.map(rAttr)
    val asofOutput = rightValues.map(a =>
      AttributeReference(s"asof_${a.name}", a.dataType, nullable = true)()) ++
      (if (mode == Nearest)
        Seq(AttributeReference("asof_direction",
          org.apache.spark.sql.types.StringType, nullable = true)())
      else Nil)
    GraftBridge.ofRows(left.sparkSession, AsOfJoinPlan(
      lPlan, rPlan,
      keys.map(lAttr), keys.map(rAttr),
      lAttr(lTimeCol), rAttr(rTimeCol),
      rightValues, asofOutput,
      toleranceSeconds.map(_ * 1000000L), mode))
  }
}
