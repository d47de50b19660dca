package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute,
  BindReferences, Expression, GenericInternalRow, JoinedRow, RowOrdering,
  SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution,
  Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

/** Physical sort-merge AS-OF join.
  *
  * For every left row, emits the single right row with equal join keys and
  * the greatest right time `<=` the left time (`<` when `allowEqual` is
  * false); `leftOuter` keeps unmatched left rows with a null right side.
  *
  * Execution model (the reason this is a custom `SparkPlan` and not a
  * composition): both sides are hash-clustered on the join keys
  * (`ClusteredDistribution`, so Catalyst's EnsureRequirements co-partitions
  * them exactly as it does for a shuffled equi-join) and sorted by
  * `(keys..., time)`; one forward-only merge pass per partition then pairs
  * each left row with its as-of match. Cost is one shuffle + sort per side
  * and O(|L|+|R|) merge work — no time-range blowup, no window over a
  * unioned table, and the right cursor never rewinds. This is the shape
  * that survives 100 TB: it is exactly sort-merge-join cost, and a side
  * already clustered+sorted (e.g. a bucketed table) skips its exchange.
  *
  * Null semantics (matching equi-join conventions): a null in a join key
  * matches nothing; a null time on the left matches nothing (row is kept
  * with a null right side under `leftOuter`); null right times never match.
  * Ties on right `(keys, time)` are resolved to the last row in sort order
  * — deduplicate the right side if that matters.
  */
case class AsOfJoinExec(
    // dup_check: allow 7 these fields are the operator's explain-visible
    // arguments; AsOfMergeIterator takes the same values as plain fields
    // so that the task closure carries no plan tree
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    allowEqual: Boolean,
    leftOuter: Boolean,
    tolerance: Option[Long],
    left: SparkPlan,
    right: SparkPlan)
  extends BinaryExecNode {

  require(leftKeys.length == rightKeys.length && leftKeys.nonEmpty,
    "as-of join needs at least one equi key per side")

  override def output: Seq[Attribute] =
    left.output ++ (if (leftOuter) right.output.map(_.withNullability(true))
                    else right.output)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    (leftKeys :+ leftTime).map(SortOrder(_, Ascending)),
    (rightKeys :+ rightTime).map(SortOrder(_, Ascending)))

  // inner/left-outer both preserve the left side's rows-per-partition
  // placement, so the left partitioning (and the required ordering)
  // remain valid for downstream operators
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = requiredChildOrdering.head

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"))

  override protected def doExecute(): RDD[InternalRow] = {
    val numOutputRows = longMetric("numOutputRows")
    // local copies so the task closure doesn't drag the plan tree along
    val lOut = left.output
    val rOut = right.output
    val lKeys = leftKeys
    val rKeys = rightKeys
    val lTime = leftTime
    val rTime = rightTime
    val eq = allowEqual
    val outer = leftOuter
    val tol = tolerance
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      new AsOfMergeIterator(lIter, rIter, lOut, rOut, lKeys, rKeys,
        lTime, rTime, eq, outer, tol, outAttrs, numOutputRows)
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Forward-only merge over two `(keys..., time)`-sorted partitions.
  *
  * Invariants the single pass relies on:
  *   - left times ascend within a key, so a buffered match stays valid for
  *     subsequent left rows of the same key until a later right row
  *     supersedes it;
  *   - the right cursor is monotone: a right row behind the current left
  *     key can never match a future left row, so it is discarded;
  *   - every buffered right row is a copy (sort iterators reuse row
  *     objects).
  */
private final class AsOfMergeIterator(
    lIter: Iterator[InternalRow],
    rIter: Iterator[InternalRow],
    lOut: Seq[Attribute],
    rOut: Seq[Attribute],
    // dup_check: allow 7 AsOfJoinExec's fields (see there)
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftTime: Expression,
    rightTime: Expression,
    allowEqual: Boolean,
    leftOuter: Boolean,
    tolerance: Option[Long],
    out: Seq[Attribute],
    numOutputRows: SQLMetric)
  extends Iterator[InternalRow] {

  // tolerance applies to integral/timestamp-backed times (internal value
  // is a numeric); it VALIDATES the as-of match rather than changing it:
  // if the latest match is older than `tolerance` units, the row is
  // unmatched (no fallback to an even older row)
  private def withinTolerance(lt: Any, mt: Any): Boolean = tolerance match {
    case None => true
    case Some(tol) =>
      // saturating subtraction: Long.MIN/MAX-adjacent times must not
      // throw mid-join — an overflowing (lt - mt) gap saturates to
      // MaxValue (i.e. "too stale"), which is the semantically right
      // answer for a staleness bound
      val l = lt.asInstanceOf[Number].longValue()
      val m = mt.asInstanceOf[Number].longValue()
      val diff = l - m
      val overflowed = ((l ^ m) & (l ^ diff)) < 0
      (if (overflowed) { if (diff < 0) Long.MaxValue else Long.MinValue }
       else diff) <= tol
  }

  private val lKeyProj = UnsafeProjection.create(leftKeys, lOut)
  // two independent projections (separate result buffers): one tracks the
  // cursor row, one re-derives the buffered match's key at emit time
  private val rKeyProjCursor = UnsafeProjection.create(rightKeys, rOut)
  private val rKeyProjMatched = UnsafeProjection.create(rightKeys, rOut)
  private val lTimeBound = BindReferences.bindReference(leftTime, lOut)
  private val rTimeBound = BindReferences.bindReference(rightTime, rOut)
  private val keyOrd =
    RowOrdering.createNaturalAscendingOrdering(leftKeys.map(_.dataType))
  private val timeOrd = TypeUtils.getInterpretedOrdering(leftTime.dataType)
  private val joined = new JoinedRow
  private val nullRight = new GenericInternalRow(rOut.size)
  // bind against `out` itself (same exprIds/positions as lOut ++ rOut):
  // under leftOuter the right attributes are nullable there, so the bound
  // references read the all-null right row correctly
  private val resultProj = UnsafeProjection.create(out, out)

  private var rRow: InternalRow = null // lookahead (always a copy)
  private var rTimeVal: Any = null
  private var rExhausted = !rIter.hasNext
  private var matched: InternalRow = null

  private var nextRow: InternalRow = null
  private var ready = false

  if (!rExhausted) fetchRight()

  private def fetchRight(): Unit = {
    if (rIter.hasNext) {
      rRow = rIter.next().copy()
      rTimeVal = rTimeBound.eval(rRow)
    } else {
      rRow = null
      rExhausted = true
    }
  }

  private def emit(l: InternalRow, r: InternalRow): Unit = {
    nextRow = resultProj(joined(l, r))
    numOutputRows += 1
    ready = true
  }

  private def advance(): Boolean = {
    ready = false
    while (!ready && lIter.hasNext) {
      val l = lIter.next()
      val lk = lKeyProj(l)
      val lt = lTimeBound.eval(l)
      if (lk.anyNull || lt == null) {
        // null key or null left time: matches nothing
        if (leftOuter) emit(l, nullRight)
      } else {
        // pull the right cursor up to (and through) everything this left
        // row may match; null right times sort first and are discarded
        var cursorDone = false
        while (!cursorDone && rRow != null) {
          val c = keyOrd.compare(rKeyProjCursor(rRow), lk)
          if (c < 0) fetchRight()
          else if (c == 0) {
            if (rTimeVal == null) fetchRight()
            else {
              val tc = timeOrd.compare(rTimeVal, lt)
              if (tc < 0 || (allowEqual && tc == 0)) {
                matched = rRow
                fetchRight()
              } else cursorDone = true
            }
          } else cursorDone = true
        }
        val m =
          if (matched != null && keyOrd.compare(rKeyProjMatched(matched), lk) == 0 &&
              withinTolerance(lt, rTimeBound.eval(matched))) matched
          else null
        if (m != null) emit(l, m)
        else if (leftOuter) emit(l, nullRight)
      }
    }
    ready
  }

  override def hasNext: Boolean = ready || advance()

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException("empty iterator")
    ready = false
    nextRow
  }
}
