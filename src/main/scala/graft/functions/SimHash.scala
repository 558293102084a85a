package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.SimHashExpr

/** SimHash near-duplicate fingerprinting: each token votes +1/-1 on
  * every signature bit according to its hash; the signature bit is 1
  * where the vote total is positive. Near-identical documents differ
  * in few bits.
  *
  * Bits are derived from the token's md5 hex digits (digit >= '8'
  * &harr; high bit set), giving a 32-bit signature that any engine with
  * md5 reproduces exactly — same portability argument as [[MinHash]].
  *
  * Computed per row by a native expression — no explode, no shuffle:
  * at 100 TB this is pure map-side work.
  */
object SimHash {

  /** 32-char '0'/'1' signature string for a token array. Duplicate
    * tokens vote multiple times (term frequency weighting). Computed
    * by the native [[graft.plans.SimHashExpr]] (one loop over digest
    * nibbles); `graft.ref.SimHashRef.simhash32Hof` is the
    * byte-identical builtin fold it is spec-checked against
    * (interpreted lambda frames + a fresh
    * 32-element array per token — measured 9.2 s vs sub-second at
    * bench sf0.1).
    */
  def simhash32(toks: Column): Column =
    column(SimHashExpr(expression(toks)))
}
