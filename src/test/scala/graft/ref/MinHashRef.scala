package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-scope reference forms of [[graft.functions.MinHash]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object MinHashRef {

  /** Builtin-HOF md5 signature — byte-identical to
    * [[graft.functions.MinHash.signature]]; the cross-check the spec
    * compares the native expression against.
    */
  def signatureHof(shingleSet: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      i => array_min(transform(shingleSet,
        s => md5(concat(i.cast("string"), lit("|"), s)))))
}
