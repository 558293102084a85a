package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, Expression, GenericInternalRow, JoinedRow, RowOrdering, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}

/** Whole-operator Catalyst extension (tier c of SURVEY §7.3): a native
  * left as-of join — for each left row, the value of the latest right
  * row (per key) whose timestamp is `<=` the left timestamp.
  *
  * The composed form ([[graft.operators.AsofJoin.lastValue]]) unions
  * both sides and window-scans; this node instead keeps the sides
  * separate and streams them through ONE ordered merge per partition —
  * the sort-merge-join cost shape with O(1) state (one buffered key +
  * value), no union materialization, no window frame machinery:
  *
  *  - `requiredChildDistribution` co-partitions both sides on the join
  *    keys (EnsureRequirements inserts/reuses compatible hash
  *    exchanges — an already-partitioned child shuffles nothing);
  *  - `requiredChildOrdering` demands (keys, ts) order per partition
  *    (plus explicit tiebreak columns on the right so equal-timestamp
  *    right rows resolve deterministically — the last one in tiebreak
  *    order wins, matching the composed form's window order);
  *  - `doExecute` zips the co-partitions and advances two cursors, so
  *    each partition pair is processed in one pass with constant
  *    memory — at 100 TB this is one shuffle of each side and a
  *    streaming merge, never a quadratic probe or a driver collect.
  *
  * Null semantics match the composed/window form: null keys group
  * together (a window `PARTITION BY` puts them in one partition) and a
  * matched right row whose value is NULL yields NULL (the match is on
  * rows, not non-null values).
  */
case class AsofJoinNode(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightValue: Expression, rightTieBreak: Seq[Expression],
    outAttr: AttributeReference)
  extends BinaryNode {

  // Builtin joins get analyzer type coercion; a custom node does NOT —
  // an int-vs-long key would hash to DIFFERENT partitions and the
  // left-typed orderings would misread the right side's unsafe rows:
  // silently wrong/NULL as-of values. Validate eagerly (the API
  // builder constructs this node from resolved frames; unresolved
  // expressions are skipped and re-checked once resolution completes).
  {
    val exprs = (leftKeys ++ rightKeys) :+ leftTs :+ rightTs
    if (exprs.forall(_.resolved)) {
      require(leftKeys.length == rightKeys.length,
        s"as-of join key arity mismatch: ${leftKeys.length} left vs " +
          s"${rightKeys.length} right")
      leftKeys.zip(rightKeys).foreach { case (l, r) =>
        require(l.dataType.catalogString == r.dataType.catalogString,
          "as-of join key type mismatch (no implicit coercion on a " +
            s"native node): ${l.sql}: ${l.dataType.catalogString} vs " +
            s"${r.sql}: ${r.dataType.catalogString} — cast explicitly")
      }
      require(leftTs.dataType.catalogString == rightTs.dataType.catalogString,
        "as-of join timestamp type mismatch (no implicit coercion on " +
          s"a native node): ${leftTs.sql}: ${leftTs.dataType.catalogString}" +
          s" vs ${rightTs.sql}: ${rightTs.dataType.catalogString} — " +
          "cast explicitly")
    }
  }

  override def output: Seq[Attribute] = left.output :+ outAttr

  // outAttr is generated by this node, not consumed from a child
  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttr)

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsofJoinNode]] as [[AsofJoinExec]]; registered as an
  * `experimental.extraStrategies` entry by `GraftSession.local`/`prepare`.
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsofJoinNode(l, r, lk, rk, lt, rt, rv, tb, out) =>
      AsofJoinExec(planLater(l), planLater(r), lk, rk, lt, rt, rv, tb, out) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Expression], rightKeys: Seq[Expression],
    leftTs: Expression, rightTs: Expression,
    rightValue: Expression, rightTieBreak: Seq[Expression],
    outAttr: AttributeReference)
  extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output :+ outAttr

  override def producedAttributes: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    org.apache.spark.sql.catalyst.expressions.AttributeSet(outAttr)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def leftOrder: Seq[SortOrder] =
    (leftKeys :+ leftTs).map(SortOrder(_, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftOrder,
    (rightKeys ++ (rightTs +: rightTieBreak)).map(SortOrder(_, Ascending)))

  // pass-through: downstream operators keep the left side's
  // partitioning and (keys, ts) order — a following per-key op
  // re-sorts/re-shuffles nothing
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = leftOrder

  override protected def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val lKeyExprs = leftKeys
    val rKeyExprs = rightKeys
    val lTsExpr = leftTs
    val rTsExpr = rightTs
    val rValExpr = rightValue
    val keyTypes = leftKeys.map(_.dataType)
    val tsType = leftTs.dataType
    val outAttrs = output

    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lKeyExprs, lOut)
      val rKeyProj = UnsafeProjection.create(rKeyExprs, rOut)
      val lTsProj = UnsafeProjection.create(Seq(lTsExpr), lOut)
      val rTsProj = UnsafeProjection.create(Seq(rTsExpr), rOut)
      val rValProj = UnsafeProjection.create(Seq(rValExpr), rOut)
      val outProj = UnsafeProjection.create(outAttrs, lOut :+ outAttr)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(keyTypes)
      val tsOrd = RowOrdering.createNaturalAscendingOrdering(Seq(tsType))
      val joined = new JoinedRow
      val noMatch: InternalRow = new GenericInternalRow(Array[Any](null))

      // lookahead right cursor: only the three small projections are
      // copied (the key copy is reused until the key advances)
      var pendKey: UnsafeRow = null
      var pendTs: UnsafeRow = null
      var pendVal: UnsafeRow = null
      var bufKey: UnsafeRow = null
      var bufVal: UnsafeRow = null

      def advanceRight(): Unit = {
        val r = rIter.next()
        pendKey = rKeyProj(r).copy()
        pendTs = rTsProj(r).copy()
        pendVal = rValProj(r).copy()
      }

      lIter.map { l =>
        val lk = lKeyProj(l)
        val lt = lTsProj(l)
        var advancing = true
        while (advancing) {
          if (pendKey == null && rIter.hasNext) advanceRight()
          if (pendKey != null) {
            val kc = keyOrd.compare(pendKey, lk)
            if (kc < 0 || (kc == 0 && tsOrd.compare(pendTs, lt) <= 0)) {
              bufKey = pendKey; bufVal = pendVal
              pendKey = null; pendTs = null; pendVal = null
            } else advancing = false
          } else advancing = false
        }
        val v =
          if (bufKey != null && keyOrd.compare(bufKey, lk) == 0) bufVal
          else noMatch
        outProj(joined(l, v))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)
}
