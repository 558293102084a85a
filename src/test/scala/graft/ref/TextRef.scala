package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-scope reference forms of [[graft.functions.Text]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object TextRef {

  /** Builtin-HOF shingles (no extension registration needed). */
  def shinglesHof(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))

  /** Builtin-HOF collapse (no extension registration needed): keeps
    * each token not null-safe-equal to its predecessor. The position-0
    * disjunct is NOT redundant: `get` is null out-of-bounds, so for a
    * NULL first token `t <=> get(toks, -1)` is `null <=> null` = TRUE
    * and the bare predicate would drop the run's first element — the
    * native [[graft.plans.CollapseRepeats]] (correctly) keeps the
    * first element of every run, null runs included.
    */
  def collapseRepeatsHof(toks: Column): Column =
    filter(toks, (t, i) => (i === lit(0)) || !(t <=> get(toks, i - lit(1))))

  /** Winnowing (local-min fingerprint selection over a sliding window
    * of shingle hashes): the standard rolling-fingerprint dedup trick —
    * returns the distinct window-minimum hashes.
    */
  def winnow(shingleHashes: Column, window: Int): Column =
    array_distinct(
      when(size(shingleHashes) >= window,
        transform(sequence(lit(1), size(shingleHashes) - (window - 1)),
          i => array_min(slice(shingleHashes, i, lit(window)))))
        .otherwise(array(array_min(shingleHashes))))
}
