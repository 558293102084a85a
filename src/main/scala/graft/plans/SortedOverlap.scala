package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}

/** `graft_sorted_overlap(a, b, req)` — exact intersection COUNT of two
  * ascending-sorted distinct `array<string>` columns by linear merge,
  * with a provably-safe early exit: the moment the best still
  * achievable count (`cnt + min(remaining_a, remaining_b)`) falls
  * below `req`, the merge stops and returns −1.
  *
  * This is the PPJoin verify kernel (ext/PpJoin.scala): the r18 shape
  * ran `size(array_intersect(ta, tb))` per candidate pair — a
  * per-row hash-set build over every element of both arrays — and the
  * r19 phase split of graft.Bench `dedup_ppjoin` measured that at ~95% of the
  * verify stage's cost. The merge does zero allocation, compares
  * binary UTF8 order (exactly `array_sort`'s), and for dissimilar
  * pairs the bound trips long before the arrays are exhausted.
  *
  * Contract: −1 is returned ONLY when the true count is provably
  * `< req` (the bound is an upper bound on the final count), so a
  * caller filtering at `count >= req` loses nothing; any returned
  * value `>= req` is the EXACT count. `req <= 0` disables the exit
  * (the full exact count always returns). Inputs must be sorted
  * ascending by Spark's binary string order with distinct elements —
  * [[graft.ext.PpJoin]] builds them with `sort_array` (the native
  * SortArray ordering, NOT the lambda-comparator `array_sort`) — and the
  * result is undefined otherwise (garbage-in; never a crash). NULL
  * arrays yield NULL; a NULL ELEMENT reached by the merge yields NULL
  * deterministically (the null check runs before the early-exit bound,
  * so `req` cannot turn a null-poisoned compare into a −1). A null
  * element past the point where one side exhausts is never inspected —
  * acceptable because the producing `sort_array` pipeline never emits
  * null elements. Note this null-poisoning deliberately DIFFERS from
  * `array_intersect`, which treats NULL as a matchable element and
  * returns a non-null count; here a null element signals a violated
  * input contract, and poisoning is the loud response.
  */
case class SortedOverlap(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, r) => TypeCheckResult.TypeCheckFailure(
        "graft_sorted_overlap expects (array<string>, array<string>, " +
          s"bigint), got ($a, $b, $r)")
    }

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any, q: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val req = q.asInstanceOf[Long]
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var cnt = 0
    while (i < na && j < nb) {
      if (a.isNullAt(i) || b.isNullAt(j)) return null
      if (cnt + math.min(na - i, nb - j) < req) return -1
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { cnt += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    cnt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, req) => {
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val i = ctx.freshName("i")
      val j = ctx.freshName("j")
      val cnt = ctx.freshName("cnt")
      val c = ctx.freshName("c")
      val rem = ctx.freshName("rem")
      s"""
         |int $na = $a.numElements();
         |int $nb = $b.numElements();
         |int $i = 0; int $j = 0; int $cnt = 0;
         |while ($i < $na && $j < $nb) {
         |  if ($a.isNullAt($i) || $b.isNullAt($j)) { ${ev.isNull} = true; break; }
         |  int $rem = ($na - $i < $nb - $j) ? $na - $i : $nb - $j;
         |  if ($cnt + $rem < $req) { $cnt = -1; break; }
         |  int $c = $a.getUTF8String($i).compareTo($b.getUTF8String($j));
         |  if ($c == 0) { $cnt++; $i++; $j++; }
         |  else if ($c < 0) { $i++; } else { $j++; }
         |}
         |${ev.value} = $cnt;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newFirst: Expression,
      newSecond: Expression, newThird: Expression): SortedOverlap =
    copy(first = newFirst, second = newSecond, third = newThird)

  override def prettyName: String = "graft_sorted_overlap"
}
