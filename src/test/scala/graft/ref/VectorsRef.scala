package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test-scope reference forms of [[graft.functions.Vectors]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object VectorsRef {

  /** Builtin-HOF dot product (no extension registration needed). */
  def dotHof(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
}
