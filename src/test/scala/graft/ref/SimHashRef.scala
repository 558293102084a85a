package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-scope reference forms of [[graft.functions.SimHash]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object SimHashRef {

  /** Signature width of [[graft.functions.SimHash.simhash32]]. */
  val Bits = 32

  /** Builtin-HOF simhash (no extension registration needed). */
  def simhash32Hof(toks: Column): Column = {
    val votes = aggregate(
      toks,
      array_repeat(lit(0), Bits),
      (acc, t) => {
        val h = md5(t)
        zip_with(acc,
          transform(sequence(lit(1), lit(Bits)),
            j => when(h.substr(j, lit(1)) >= "8", 1).otherwise(-1)),
          (a, b) => a + b)
      })
    concat_ws("", transform(votes, v => when(v > 0, lit("1")).otherwise(lit("0"))))
  }

  /** Hamming distance between two equal-length bit strings. */
  def hammingDistance(a: Column, b: Column): Column =
    size(filter(zip_with(split(a, ""), split(b, ""), (x, y) => x =!= y), b => b))
}
