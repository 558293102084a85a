package graft.ref

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.ext.Hll.rho

/** Test-scope reference forms of [[graft.ext.Hll]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object HllRef {

  /** The portable hex-string register derivation — the formulation the
    * DuckDB oracle replays and [[graft.plans.HllReg]] is spec-checked
    * bit-equal against. Schema: (bucket, rho).
    */
  def hexRegister(value: Column): Column = {
    val hex = md5(value.cast("string"))
    struct(
      conv(substring(hex, 1, 2), 16, 10).cast("int").as("bucket"),
      rho(hex).as("rho"))
  }
}
