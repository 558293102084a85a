package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Word n-gram shingles as one codegen'd pass — semantics identical to
  * the HOF formulation `graft.ref.TextRef.shinglesHof` (test scope;
  * `transform(sequence(...), i -> concat_ws(" ", slice(toks, i, n)))`
  * with the shorter-than-n whole-text fallback), but without the
  * per-shingle lambda frame, slice allocation and separate concat walk
  * the interpreted HOF pipeline pays. This feeds every dedup signature
  * (minhash, ngram-jaccard, fingerprints), so it is the single hottest
  * per-row loop in the corpus queries.
  *
  * `concat_ws` parity: null tokens are skipped, not rendered.
  */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) if n > 0 => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"graft_shingles expects (array<string>, n > 0), got ($t, $n)")
    }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullable: Boolean = child.nullable

  override def nullSafeEval(v: Any): Any =
    Shingles.compute(v.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.plans.Shingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object Shingles {

  private val space = UTF8String.fromString(" ")

  /** Join elements [from, from+len) with single spaces, skipping nulls
    * (concat_ws semantics).
    */
  private def join(arr: ArrayData, from: Int, len: Int): UTF8String = {
    val parts = new java.util.ArrayList[UTF8String](len)
    var i = 0
    while (i < len) {
      if (!arr.isNullAt(from + i)) parts.add(arr.getUTF8String(from + i))
      i += 1
    }
    UTF8String.concatWs(space, parts.toArray(new Array[UTF8String](parts.size())): _*)
  }

  def compute(toks: ArrayData, n: Int): GenericArrayData = {
    val m = toks.numElements()
    if (m >= n) {
      val out = new Array[Any](m - n + 1)
      var i = 0
      while (i <= m - n) {
        out(i) = join(toks, i, n)
        i += 1
      }
      new GenericArrayData(out)
    } else {
      new GenericArrayData(Array[Any](join(toks, 0, m)))
    }
  }
}
