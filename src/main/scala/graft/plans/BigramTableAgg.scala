package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `graft_bigram_table(bc)` — the global bigram count table as ONE
  * imperative aggregate over the per-document count arrays
  * ([[BigramCounts]] output), replacing the two-exchange chain
  * `explode(bc) → groupBy(bg).sum → agg(sort_array(collect_list))`:
  * per-partition hash maps merge bigram counts map-side, ONE exchange
  * moves one vocab-sized buffer per partition, and the final merge
  * emits the bg-sorted `array<struct<bg, c2>>` the
  * [[PerplexityModel]] fold consumes — bit-identical to the
  * sort_array form (UTF8String binary order, summed longs).
  *
  * At 100 TB the exchange moves |partitions| × |bigram vocab| buffer
  * bytes instead of a vocab-grain row stream plus a one-task
  * re-gather+sort; the buffer is vocab-bounded BY CONSTRUCTION (the
  * model must broadcast back anyway, so vocab-sized state per task is
  * already this operator family's admission ticket) — and ENFORCED:
  * the `vocabCap` constructor parameter (default 2²⁴ distinct bigrams
  * ≈ 1-2 GB of per-task map) fails loud with the parameter's name in
  * `update`/`merge` instead of letting a caller who feeds an
  * unbounded-vocab corpus grow the map until the task OOMs
  * undiagnosed.
  */
case class BigramTableAgg(
    child: Expression,
    vocabCap: Long = BigramTableAgg.DefaultVocabCap,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[java.util.HashMap[UTF8String, Long]] {

  override def children: Seq[Expression] = Seq(child)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StructType(Array(StructField(_, StringType, _, _),
        StructField(_, StringType, _, _),
        StructField(_, LongType, _, _))), _) =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_bigram_table expects array<struct<w1, bg, c>> " +
        s"(graft_bigram_counts output), got $t")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("bg", StringType, nullable = false),
    StructField("c2", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean = false

  override def createAggregationBuffer(): java.util.HashMap[UTF8String, Long] =
    new java.util.HashMap[UTF8String, Long]()

  private def checkCap(buf: java.util.HashMap[UTF8String, Long]): Unit =
    require(buf.size <= vocabCap,
      s"graft_bigram_table buffer exceeds vocabCap ($vocabCap distinct " +
        "bigrams): this corpus's bigram vocabulary is not bounded " +
        "enough for a per-task model buffer — pass a larger vocabCap " +
        "if the driver/executors can hold it, or prune the vocabulary " +
        "upstream")

  override def update(buf: java.util.HashMap[UTF8String, Long],
      input: InternalRow): java.util.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val arr = v.asInstanceOf[ArrayData]
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        // a caller-built input array may carry null struct elements
        // (graft_bigram_counts itself never emits them) — skip, don't
        // NPE in an executor
        if (!arr.isNullAt(i)) {
          val e = arr.getStruct(i, 3)
          // copy: the UTF8String points into a reused unsafe buffer.
          // getOrDefault, never get-then-null-check: the map's value
          // type is a primitive scala.Long, so `get` unboxes an absent
          // key's null to 0L and a null check would be dead code
          val bg0 = e.getUTF8String(1)
          if (bg0 != null && !e.isNullAt(2)) {
            val bg = bg0.copy()
            buf.put(bg, buf.getOrDefault(bg, 0L) + e.getLong(2))
          }
        }
        i += 1
      }
      checkCap(buf)
    }
    buf
  }

  override def merge(a: java.util.HashMap[UTF8String, Long],
      b: java.util.HashMap[UTF8String, Long]):
      java.util.HashMap[UTF8String, Long] = {
    val it = b.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      a.put(e.getKey, a.getOrDefault(e.getKey, 0L) + e.getValue)
    }
    checkCap(a)
    a
  }

  override def eval(buf: java.util.HashMap[UTF8String, Long]): Any = {
    val keys = new java.util.ArrayList[UTF8String](buf.keySet())
    java.util.Collections.sort(keys) // UTF8String binary order ==
    // sort_array's struct-by-first-field string order
    val out = new Array[Any](keys.size())
    var i = 0
    while (i < out.length) {
      val k = keys.get(i)
      out(i) = new GenericInternalRow(Array[Any](k, buf.get(k)))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(buf: java.util.HashMap[UTF8String, Long]):
      Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeInt(buf.size())
    val it = buf.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val bytes = e.getKey.getBytes
      out.writeInt(bytes.length)
      out.write(bytes)
      out.writeLong(e.getValue)
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]):
      java.util.HashMap[UTF8String, Long] = {
    val in = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = new java.util.HashMap[UTF8String, Long](
      Math.max(16, n * 2))
    var i = 0
    while (i < n) {
      val len = in.readInt()
      val kb = new Array[Byte](len)
      in.readFully(kb)
      buf.put(UTF8String.fromBytes(kb), in.readLong())
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BigramTableAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): BigramTableAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BigramTableAgg =
    copy(child = newChildren.head)

  override def prettyName: String = "graft_bigram_table"
}

object BigramTableAgg {
  /** 2²⁴ distinct bigrams — far above any bounded-vocab model (BPE
    * vocabs are ≤10⁶; their bigram tables a few ×10⁶) yet small
    * enough that a buffer at the cap still fits a task. The cap
    * exists so a past-cap corpus fails with a NAME, not a task OOM.
    */
  val DefaultVocabCap: Long = 1L << 24
}
