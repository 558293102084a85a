package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Brute-force thresholded-edit-distance pair kernel for salted block
  * decomposition: `graft_edit_pairs(a, b, same, maxDist)` with
  * `a`/`b: array<struct<id: long, p: string>>` emits
  * `array<struct<id_a, id_b, edit_dist>>` — all pairs whose banded
  * Levenshtein distance is at most `maxDist`. `same = true` pairs
  * within `a` only (each unordered pair once); otherwise the full
  * `a × b` cross. Pair ids are emitted (least, greatest), and pairs
  * whose two ids are EQUAL are skipped — matching the joined form's
  * strict `id_a < id_b` filter even when duplicate ids appear in one
  * block (reachable only via the public `fuzzyPairsBlocked` API on
  * dirty data; all engine callers feed unique ids).
  *
  * Same family as [[CosinePairs]] (the r16 embedding rewrite, salted
  * upstream by [[graft.ext.Dedup.fuzzyPairsBlocked]]): strings are
  * unpacked ONCE per group, and the n²/2 distance calls run in a
  * tight loop instead of per-pair join-row machinery, which the r16
  * profiling measured at ~2 µs/pair — several times the banded DP's
  * own cost on 40-char prefixes. The distance itself is Spark's OWN
  * `UTF8String.levenshteinDistance(other, threshold)` (the exact
  * function the `levenshtein(l, r, k)` expression evaluates), so the
  * kernel is bit-parity with the joined twin by construction,
  * including the code-point semantics and the −1 above-threshold
  * early exit.
  */
case class EditPairs(first: Expression, second: Expression,
    third: Expression, maxDist: Int)
  extends TernaryExpression {

  private def okList(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
      StructField(_, StringType, _, _))), _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (okList(first.dataType) && okList(second.dataType) &&
        third.dataType == BooleanType && maxDist >= 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "graft_edit_pairs expects (array<struct<id, p>>, " +
        "array<struct<id, p>>, boolean, maxDist >= 0), got " +
        s"(${first.dataType}, ${second.dataType}, ${third.dataType}, $maxDist)")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id_a", LongType, nullable = false),
    StructField("id_b", LongType, nullable = false),
    StructField("edit_dist", LongType, nullable = false))),
    containsNull = false)

  override def nullable: Boolean =
    first.nullable || second.nullable || third.nullable

  override protected def nullSafeEval(a: Any, b: Any, s: Any): Any =
    EditPairs.compute(a.asInstanceOf[ArrayData],
      b.asInstanceOf[ArrayData], s.asInstanceOf[Boolean], maxDist)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, s) =>
      s"${ev.value} = graft.plans.EditPairs.compute($a, $b, $s, " +
        s"${maxDist});")

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): EditPairs =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "graft_edit_pairs"
}

object EditPairs {

  private def unpack(arr: ArrayData):
      (Array[Long], Array[UTF8String], Array[Boolean]) = {
    val n = arr.numElements()
    val ids = new Array[Long](n)
    val ps = new Array[UTF8String](n)
    val ascii = new Array[Boolean](n)
    var i = 0
    while (i < n) {
      val e = arr.getStruct(i, 2)
      ids(i) = e.getLong(0)
      // clone: getUTF8String may point into a buffer the row iterator
      // reuses, and the kernel holds every group string for the whole
      // n² loop (CosinePairs' toDoubleArray copies for the same reason)
      val s = e.getUTF8String(1).clone()
      ps(i) = s
      ascii(i) = isAscii(s)
      i += 1
    }
    (ids, ps, ascii)
  }

  private def isAscii(s: UTF8String): Boolean = {
    val n = s.numBytes
    var i = 0
    while (i < n) {
      if ((s.getByte(i) & 0x80) != 0) return false
      i += 1
    }
    true
  }

  /** Thresholded Levenshtein over raw BYTES — exact for ASCII strings
    * (byte == code point), same contract as Spark's
    * `UTF8String.levenshteinDistance(other, k)`: the exact distance
    * when ≤ k, −1 past it. Ukkonen band (|i−j| ≤ k) with common
    * prefix/suffix trimming and row-min early abandon — ~6× cheaper
    * per rejected pair than the general code-point path (measured
    * 3.8–4.4 µs per pair, graft.Bench `dedup_fuzzy`), because the hot loop reads
    * bytes straight from the UTF8String with no code-point decode.
    * `dp` is caller-provided scratch (reused across the group's n²/2
    * pairs). Non-ASCII strings never reach this path.
    */
  private def asciiLevenshtein(a: UTF8String, b: UTF8String, k: Int,
      dp: Array[Int]): Int = {
    var aLo = 0
    var bLo = 0
    var aHi = a.numBytes
    var bHi = b.numBytes
    // trim common prefix and suffix (edits can't live there)
    while (aLo < aHi && bLo < bHi && a.getByte(aLo) == b.getByte(bLo)) {
      aLo += 1; bLo += 1
    }
    while (aHi > aLo && bHi > bLo &&
        a.getByte(aHi - 1) == b.getByte(bHi - 1)) {
      aHi -= 1; bHi -= 1
    }
    // orient so the row (second) side is the longer string
    val n = aHi - aLo
    val m = bHi - bLo
    if (n <= m) asciiLevenshteinCore(a, aLo, n, b, bLo, m, k, dp)
    else asciiLevenshteinCore(b, bLo, m, a, aLo, n, k, dp)
  }

  /** Core band DP: `a` (length n, offset aOff) is the shorter side.
    * Requires n <= m; dp.length >= m + 1.
    */
  private def asciiLevenshteinCore(a: UTF8String, aOff: Int, n: Int,
      b: UTF8String, bOff: Int, m: Int, k: Int, dp: Array[Int]): Int = {
    if (m - n > k) return -1
    if (n == 0) return if (m <= k) m else -1
    val inf = k + 1
    var j = 0
    while (j <= m) { dp(j) = if (j <= k) j else inf; j += 1 }
    var i = 1
    while (i <= n) {
      val lo = if (i - k > 1) i - k else 1
      val hi = if (i + k < m) i + k else m
      var diag = dp(lo - 1) // dp[i-1][lo-1]
      dp(lo - 1) = if (lo == 1) (if (i <= k) i else inf) else inf
      var rowMin = inf
      val ca = a.getByte(aOff + i - 1)
      j = lo
      while (j <= hi) {
        val old = dp(j) // dp[i-1][j]
        var v = if (ca == b.getByte(bOff + j - 1)) diag else diag + 1
        val del = old + 1
        if (del < v) v = del
        val ins = dp(j - 1) + 1
        if (ins < v) v = ins
        if (v > inf) v = inf
        dp(j) = v
        diag = old
        if (v < rowMin) rowMin = v
        j += 1
      }
      // the cell right of the band was computed two rows ago (or
      // never): it is outside row i's band, i.e. provably > k
      if (hi < m) dp(hi + 1) = inf
      if (rowMin > k) return -1
      i += 1
    }
    if (dp(m) > k) -1 else dp(m)
  }

  def compute(aArr: ArrayData, bArr: ArrayData, same: Boolean,
      maxDist: Int): GenericArrayData = {
    val (aIds, aPs, aAscii) = unpack(aArr)
    val out = new scala.collection.mutable.ArrayBuffer[Any]()
    var dpLen = 1
    var i0 = 0
    while (i0 < aPs.length) {
      if (aPs(i0).numBytes + 1 > dpLen) dpLen = aPs(i0).numBytes + 1
      i0 += 1
    }
    var dp: Array[Int] = null // sized once both sides are known
    def emit(ida: Long, idb: Long, pa: UTF8String, pb: UTF8String,
        asciiA: Boolean, asciiB: Boolean): Unit = {
      // the joined twin filters id_a < id_b strictly: equal ids
      // (duplicate ids in one block) must not self-pair
      if (ida == idb) return
      val d =
        if (asciiA && asciiB) asciiLevenshtein(pa, pb, maxDist, dp)
        else pa.levenshteinDistance(pb, maxDist)
      if (d >= 0) {
        out += new GenericInternalRow(Array[Any](
          Math.min(ida, idb), Math.max(ida, idb), d.toLong))
      }
    }
    if (same) {
      dp = new Array[Int](dpLen)
      var i = 0
      while (i < aIds.length) {
        var j = i + 1
        while (j < aIds.length) {
          emit(aIds(i), aIds(j), aPs(i), aPs(j), aAscii(i), aAscii(j))
          j += 1
        }
        i += 1
      }
    } else {
      val (bIds, bPs, bAscii) = unpack(bArr)
      var j0 = 0
      while (j0 < bPs.length) {
        if (bPs(j0).numBytes + 1 > dpLen) dpLen = bPs(j0).numBytes + 1
        j0 += 1
      }
      dp = new Array[Int](dpLen)
      var i = 0
      while (i < aIds.length) {
        var j = 0
        while (j < bIds.length) {
          emit(aIds(i), bIds(j), aPs(i), bPs(j), aAscii(i), bAscii(j))
          j += 1
        }
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }
}
