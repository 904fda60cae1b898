package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, GenericInternalRow, JoinedRow, MutableProjection, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** As-of join as a first-class Catalyst operator (SURVEY §2-C
  * `rel_join_asof`, custom-operator path (c)).
  *
  * Semantics (pandas `merge_asof` surface): for each left row, attach the
  * payload of the right row with the same key that is
  *  - `backward` (default): the LATEST with `rightTs <= leftTs` — among
  *    equal-ts right rows the greatest `rightTiebreak` wins;
  *  - `forward`: the EARLIEST with `rightTs >= leftTs` — among equal-ts
  *    right rows the smallest `rightTiebreak` wins;
  *  - `nearest`: whichever of the two is closer in time (ties go
  *    backward; requires an integral-backed ts type);
  * optionally rejecting matches farther than `tolerance` (in the
  * timestamp's native unit: µs for timestamps, days for dates).
  * Nulls when no match. Null keys group together; a null ts sorts (and
  * compares) before everything — both as in the window emulation that
  * serves as this operator's oracle.
  *
  * Physical shape — the one that survives 100 TB: each side shuffles
  * ONCE on its key (`ClusteredDistribution`, so EnsureRequirements
  * co-partitions the children), sorts within partitions by (key, ts),
  * and a single merge pass emits every left row with its matched right
  * payload. Per-key work is linear; no window materialization of the
  * unioned stream, no broadcast-nested-loop.
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    payload: Seq[Attribute],
    rightTiebreak: Seq[Attribute],
    direction: String = "backward",
    tolerance: Option[Long] = None)
    extends BinaryNode {

  require(leftKeys.nonEmpty && leftKeys.size == rightKeys.size, "as-of join needs equi keys")
  require(Set("backward", "forward", "nearest")(direction), s"bad direction: $direction")

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

object AsOfJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case j: AsOfJoin =>
      AsOfJoinExec(j.leftKeys, j.rightKeys, j.leftTs, j.rightTs, j.payload,
        j.rightTiebreak, j.direction, j.tolerance,
        planLater(j.left), planLater(j.right)) :: Nil
    case _ => Nil
  }
}

case class AsOfJoinExec(
    leftKeys: Seq[Attribute],
    rightKeys: Seq[Attribute],
    leftTs: Attribute,
    rightTs: Attribute,
    payload: Seq[Attribute],
    rightTiebreak: Seq[Attribute],
    direction: String,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan)
    extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ payload.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending)),
    (rightKeys ++ Seq(rightTs) ++ rightTiebreak).map(SortOrder(_, Ascending)))

  // left rows pass through in their sorted order, partitioning untouched
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys; val rKeys = rightKeys
    val rTs = rightTs
    val pay = payload
    val out = output
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val lTsIdx = lOut.indexWhere(_.exprId == leftTs.exprId)
    val forward = direction == "forward"
    val nearest = direction == "nearest"
    val tol = tolerance
    require(lTsIdx >= 0, s"left ts $leftTs not in left output")

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeys, lOut)
      val rKeyProj = UnsafeProjection.create(rKeys, rOut)
      val rTsIdx = rOut.indexWhere(_.exprId == rTs.exprId)
      require(rTsIdx >= 0, s"right ts $rTs not in right output")
      val payProj = UnsafeProjection.create(pay, rOut)
      val resultProj = UnsafeProjection.create(out, out)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = TypeUtils.getInterpretedOrdering(tsType)
      // fast path: every timestamp-ish type is long/int-backed — compare
      // primitives and skip the boxing of the generic ordering
      val tsIsIntegral = tsType match {
        case org.apache.spark.sql.types.LongType | org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType |
             org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.ShortType => true
        case _ => false
      }
      // numeric view of the ts for primitive compares and tolerance
      // (µs for timestamps, days for dates, raw for integral sort keys)
      def tsLong(v: Any): Long = v match {
        case l: java.lang.Long => l
        case i: java.lang.Integer => i.toLong
        case s: java.lang.Short => s.toLong
        case b: java.lang.Byte => b.toLong
        case other => sys.error(s"as-of tolerance unsupported for $tsType value $other")
      }
      def tsCmpLteq(a: Any, b: Any): Boolean =
        if (tsIsIntegral) tsLong(a) <= tsLong(b) else tsOrd.lteq(a, b)
      def tsCmpLt(a: Any, b: Any): Boolean =
        if (tsIsIntegral) tsLong(a) < tsLong(b) else tsOrd.lt(a, b)
      val joined = new JoinedRow
      val nullPay = new GenericInternalRow(pay.length)
      def withinTol(early: Any, late: Any): Boolean = tol match {
        case None => true
        case Some(t) =>
          if (early == null && late == null) true
          else if (early == null || late == null) false
          else tsLong(late) - tsLong(early) <= t
      }

      // right-side cursor: key and ts are projected/read ONCE per right
      // row (the old BufferedIterator form re-projected the head on
      // every comparison). rRow/rKey are views into reused buffers —
      // valid until the next advanceRight, which is all the merge needs.
      var rRow: InternalRow = null
      var rKey: InternalRow = null
      var rTsV: Any = null
      def advanceRight(): Unit =
        if (rIter.hasNext) {
          rRow = rIter.next()
          rKey = rKeyProj(rRow)
          rTsV = if (rRow.isNullAt(rTsIdx)) null else rRow.get(rTsIdx, tsType)
        } else { rRow = null; rKey = null; rTsV = null }
      advanceRight()

      // carried backward candidate. Fixed-width payloads write into one
      // reused mutable row; variable-width payloads (strings, binary,
      // nested) go through the codegen'd UnsafeProjection and then
      // UnsafeRow.copyFrom into OUR reused byte buffer — the buffer only
      // grows when a larger payload arrives, so both paths are
      // zero-allocation in the steady state (the old form allocated a
      // fresh UnsafeRow copy per consumed right row).
      val payFixedWidth = pay.forall(a => UnsafeRow.isFixedLength(a.dataType))
      val matchBuf = new GenericInternalRow(pay.length)
      val matchProj: InternalRow => InternalRow =
        if (payFixedWidth) {
          val mp = MutableProjection.create(pay, rOut).target(matchBuf)
          r => mp(r)
        } else {
          val carried = new UnsafeRow(pay.length)
          carried.pointTo(new Array[Byte](64), 64)
          r => { carried.copyFrom(payProj(r)); carried }
        }
      var matchPay: InternalRow = null
      var matchTs: Any = null
      // left key of the group the carried match belongs to; the match
      // resets when the left key changes (one copy per key group, not
      // one compare-and-copy per row)
      var groupKey: InternalRow = null

      lIter.map { l =>
        val lk = lKeyProj(l)
        val lt: Any = if (l.isNullAt(lTsIdx)) null else l.get(lTsIdx, tsType)
        if (groupKey == null || keyOrd.compare(lk, groupKey) != 0) {
          matchPay = null; matchTs = null
          groupKey = lk.copy()
        }
        var scan = true
        if (!forward) {
          // backward and nearest both consume rights with ts <= lt,
          // carrying the last as the backward candidate; nearest then
          // weighs that candidate against the (unconsumed) cursor row.
          while (scan && rRow != null) {
            val cmp = keyOrd.compare(rKey, lk)
            if (cmp < 0) advanceRight() // right key already passed — discard
            else if (cmp == 0) {
              // null ts sorts (and matches) before everything: null <= any
              if (rTsV == null || (lt != null && tsCmpLteq(rTsV, lt))) {
                matchTs = rTsV
                matchPay = matchProj(rRow)
                advanceRight()
              } else scan = false
            } else scan = false
          }
          val backHit = matchPay != null && withinTol(matchTs, lt)
          val fwdCloser = nearest && rRow != null &&
            keyOrd.compare(rKey, lk) == 0 &&
            withinTol(lt, rTsV) && rTsV != null && lt != null &&
            (!backHit || matchTs == null ||
              tsLong(rTsV) - tsLong(lt) < tsLong(lt) - tsLong(matchTs))
          val pay2 =
            if (fwdCloser) payProj(rRow)
            else if (backHit) matchPay
            else nullPay
          resultProj(joined(l, pay2))
        } else {
          // forward: drop rights strictly before lt, then match the cursor
          // (not consumed — later left rows have ts >= lt and may reuse it)
          while (scan && rRow != null) {
            val cmp = keyOrd.compare(rKey, lk)
            if (cmp < 0) advanceRight()
            else if (cmp == 0) {
              val rtBeforeLt =
                if (lt == null) false       // null lt is minimal: keep all
                else if (rTsV == null) true // null rt sorts first: useless
                else tsCmpLt(rTsV, lt)
              if (rtBeforeLt) advanceRight() else scan = false
            } else scan = false
          }
          val hit = rRow != null && keyOrd.compare(rKey, lk) == 0 &&
            withinTol(lt, rTsV)
          resultProj(joined(l, if (hit) payProj(rRow) else nullPay))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** DataFrame-level entry for the native as-of join. */
object AsOf {

  /** Join `left` to the matching `right` row per key ([[AsOfJoin]]
    * semantics); right columns in `payload` are appended (nullable).
    * `tiebreak` orders equal-ts right rows. Works on any session — the
    * planner strategy and rules are installed on the fly
    * ([[graft.GraftExtensions.install]]).
    *
    * @param direction "backward" (latest right ≤ left ts), "forward"
    *                  (earliest right ≥ left ts), or "nearest"
    *                  (closer of the two; ties go backward)
    * @param tolerance max |leftTs - rightTs| in the ts type's native unit
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      payload: Seq[String],
      tiebreak: Seq[String] = Nil,
      direction: String = "backward",
      tolerance: Option[Long] = None): DataFrame = {
    val spark: SparkSession = left.sparkSession
    graft.GraftExtensions.install(spark)
    val lPlan = GraftSqlBridge.analyzed(left)
    // Re-alias every right column so the right subtree carries fresh
    // exprIds: with a shared lineage (self-as-of) the analyzer's
    // DeduplicateRelations would re-id the right child underneath us,
    // orphaning the attributes this node captured.
    val rPlan = GraftSqlBridge.analyzed(
      right.select(right.columns.toIndexedSeq.map(c =>
        org.apache.spark.sql.functions.col(c).as(c)): _*))
    def attr(p: LogicalPlan, name: String): Attribute =
      p.output.find(_.name == name).getOrElse(
        sys.error(s"as-of join: no column '$name' in ${p.output.map(_.name).mkString(", ")}"))
    val node = AsOfJoin(
      lPlan, rPlan,
      keys.map(attr(lPlan, _)), keys.map(attr(rPlan, _)),
      attr(lPlan, leftTs), attr(rPlan, rightTs),
      payload.map(attr(rPlan, _)), tiebreak.map(attr(rPlan, _)),
      direction, tolerance)
    GraftSqlBridge.ofRows(spark, node)
  }
}
