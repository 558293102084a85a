package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, GenericInternalRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Whole-operator Catalyst extension (second tier-4 node after
  * [[AsofJoinNode]]): PPJoin prefix-filtered candidate generation as a
  * physical operator over a SINGLE shuffled posting relation.
  *
  * The composed form self-joins the prefix postings on the token
  * ([[graft.ext.PpJoin.candidatesComposed]]): correct, but the
  * physical shape pays for generality —
  *
  *  - the sort-merge join sorts the SAME posting relation twice (one
  *    shuffle is deduped by ReuseExchange, the two `Sort` operators
  *    are not);
  *  - it materializes every ordered pair (a,b) AND (b,a) per shared
  *    token and filters half away (`id_a < id_b`);
  *  - the within-token pair loop cannot exploit the size order, so
  *    every same-token pair is generated before the length filter
  *    rejects it.
  *
  * This node takes the postings ONCE — `requiredChildDistribution`
  * clusters by token, `requiredChildOrdering` asks for (token, size) —
  * and streams each token group through the classic AllPairs loop:
  * sizes ascending, a monotone start pointer skips every partner below
  * the length bound `|y| >= ceil(t*|x|)` WITHOUT generating the pair,
  * each unordered pair is visited exactly once, and the positional
  * filter (`min(szx-px, szy-py) >= ceil(t/(1+t)*(szx+szy) - 1e-9)`,
  * bit-identical to the composed predicate) prunes before emission.
  * One shuffle, one sort, half the pair generation, early termination
  * on the long tail — the wins compose multiplicatively on hot tokens.
  *
  * Memory: one token group is buffered at a time (three primitive
  * arrays), the same worst case as the sort-merge join's one-side
  * group buffer; rare-first canonical ordering keeps prefix-token
  * groups small by construction. Output pairs stream lazily — a hot
  * group's quadratic candidate set is never materialized.
  *
  * Child contract (validated once resolved): output is positionally
  * `(token: binary-stable atomic, id: long, size: int, pos: int)`.
  * Group boundaries are detected by BINARY equality of the sorted
  * token values, so the token type must be one where sort equality
  * implies byte equality (string/binary/integral/date/timestamp —
  * floats are rejected: -0.0 and 0.0 sort together but differ in
  * bytes, which would split a group and drop pairs). Null tokens and
  * null ids are the builder's concern (the composed join drops both;
  * [[graft.ext.PpJoin]] filters them before the node).
  */
case class PrefixPairsNode(threshold: Double, child: LogicalPlan,
    idA: AttributeReference, idB: AttributeReference)
  extends UnaryNode {

  require(threshold > 0.0 && threshold <= 1.0,
    s"prefix-pairs threshold must be in (0, 1]: $threshold")
  if (child.resolved) {
    require(child.output.length == 4,
      s"prefix-pairs child must be (token, id, size, pos): ${child.output}")
    require(child.output(1).dataType == LongType &&
      child.output(2).dataType == IntegerType &&
      child.output(3).dataType == IntegerType,
      "prefix-pairs child types must be (_, long, int, int): " +
        child.output.map(_.dataType.catalogString).mkString(", "))
    // group equality is byte equality of the sorted token — only types
    // where sort-equal implies byte-equal are safe (floats: -0.0/0.0)
    require(PrefixPairsNode.binaryStable(child.output.head.dataType),
      "prefix-pairs token type must be binary-stable (string/binary/" +
        s"integral/date/timestamp): ${child.output.head.dataType.catalogString}")
  }

  override def output: Seq[Attribute] = Seq(idA, idB)
  override def producedAttributes: AttributeSet = AttributeSet(output)
  override protected def withNewChildInternal(
      newChild: LogicalPlan): PrefixPairsNode = copy(child = newChild)
}

object PrefixPairsNode {
  import org.apache.spark.sql.types._
  /** Sort-equal implies byte-equal — the token types the group-boundary
    * byte compare is safe for.
    */
  def binaryStable(dt: DataType): Boolean = dt match {
    case StringType | BinaryType | BooleanType | ByteType | ShortType |
         IntegerType | LongType | DateType | TimestampType |
         TimestampNTZType => true
    case _ => false
  }
}

/** Plans [[PrefixPairsNode]] as [[PrefixPairsExec]]; registered by
  * `GraftSession.local`/`prepare` alongside [[AsofJoinStrategy]].
  */
object PrefixPairsStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case PrefixPairsNode(t, child, a, b) =>
      PrefixPairsExec(t, planLater(child), a, b) :: Nil
    case _ => Nil
  }
}

case class PrefixPairsExec(threshold: Double, child: SparkPlan,
    idA: AttributeReference, idB: AttributeReference)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = Seq(idA, idB)
  override def producedAttributes: AttributeSet = AttributeSet(output)

  // the pruning story is the operator's reason to exist — surface it
  // in the UI/metrics like a builtin join reports its build side
  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" ->
      SQLMetrics.createMetric(sparkContext, "output rows"),
    "numGroups" ->
      SQLMetrics.createMetric(sparkContext, "token groups (size >= 2)"),
    "prunedLength" ->
      SQLMetrics.createMetric(sparkContext, "pairs skipped by length bound"),
    "prunedPositional" ->
      SQLMetrics.createMetric(sparkContext, "candidates cut by positional filter"))

  private def tokenAttr = child.output.head
  private def sizeAttr = child.output(2)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(tokenAttr)) :: Nil

  // (token, size): group-contiguous AND size-ascending within a group —
  // the AllPairs early-termination order
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(Seq(SortOrder(tokenAttr, Ascending), SortOrder(sizeAttr, Ascending)))

  override protected def doExecute(): RDD[InternalRow] = {
    val t = threshold
    val posCoef = t / (1.0 + t) // precomputed ONCE, like the composed lit()
    val childOutput = child.output
    val outTypes = output.map(_.dataType).toArray
    val mOut = longMetric("numOutputRows")
    val mGroups = longMetric("numGroups")
    val mPrunedLen = longMetric("prunedLength")
    val mPrunedPos = longMetric("prunedPositional")

    child.execute().mapPartitions({ iter =>
      val tokProj = UnsafeProjection.create(Seq(childOutput.head), childOutput)
      val outProj = UnsafeProjection.create(outTypes)
      val outRow = new GenericInternalRow(2)

      new Iterator[InternalRow] {
        private var pending: InternalRow =
          if (iter.hasNext) iter.next() else null
        private var gIds = new Array[Long](64)
        private var gSzs = new Array[Int](64)
        private var gPs = new Array[Int](64)
        private var gLen = 0
        private var j = 0 // current larger-set index
        private var i = 0 // current partner index, in [s, j)
        private var s = 0 // monotone start pointer (length filter)
        private var ready = false

        private def grow(): Unit = {
          val n = gIds.length * 2
          gIds = java.util.Arrays.copyOf(gIds, n)
          gSzs = java.util.Arrays.copyOf(gSzs, n)
          gPs = java.util.Arrays.copyOf(gPs, n)
        }

        /** Buffer the next token group with >= 2 postings; false at
          * input end. Field access is by ordinal, no row retention.
          */
        private def loadGroup(): Boolean = {
          while (pending != null) {
            val tok = tokProj(pending).copy()
            gLen = 0
            var same = true
            while (same) {
              if (gLen == gIds.length) grow()
              gIds(gLen) = pending.getLong(1)
              gSzs(gLen) = pending.getInt(2)
              gPs(gLen) = pending.getInt(3)
              gLen += 1
              pending = if (iter.hasNext) iter.next() else null
              same = pending != null && tokProj(pending) == tok
            }
            if (gLen >= 2) { j = 1; s = 0; i = 0; mGroups.add(1); return true }
          }
          false
        }

        private def advance(): Boolean = {
          while (true) {
            if (gLen < 2 && !loadGroup()) return false
            while (j < gLen) {
              // partners for j start at the first index whose size
              // reaches the length bound; monotone in j (sizes sorted)
              val req = math.ceil(t * gSzs(j)).toLong
              while (s < j && gSzs(s) < req) s += 1
              if (i < s) i = s
              while (i < j) {
                val ii = i; i += 1
                val need = math.ceil(
                  posCoef * (gSzs(ii) + gSzs(j)) - 1e-9).toLong
                // same-id candidates (duplicate postings fed directly
                // to the node) are skipped OUTSIDE the positional tally
                if (gIds(ii) != gIds(j)) {
                  if (math.min(gSzs(ii) - gPs(ii), gSzs(j) - gPs(j))
                      >= need) {
                    outRow.setLong(0, math.min(gIds(ii), gIds(j)))
                    outRow.setLong(1, math.max(gIds(ii), gIds(j)))
                    return true
                  }
                  mPrunedPos.add(1)
                }
              }
              mPrunedLen.add(s) // partners [0, s) never materialized for this j
              j += 1
              i = s // clamped up again after s advances for the new j
            }
            gLen = 0 // group exhausted
          }
          false // unreachable
        }

        override def hasNext: Boolean = {
          if (!ready) ready = advance()
          ready
        }

        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          ready = false
          mOut.add(1)
          outProj(outRow)
        }
      }
    }, preservesPartitioning = true)
  }

  override protected def withNewChildInternal(
      newChild: SparkPlan): PrefixPairsExec = copy(child = newChild)
}
