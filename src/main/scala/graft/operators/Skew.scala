package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation. AQE's runtime skew-join splitting (enabled in
  * [[graft.GraftSession]]) handles most cases; [[saltedJoin]] is the
  * explicit tool for planned skew — a handful of keys carrying a large
  * fraction of a 100 TB fact table: the big side is salted with a
  * deterministic hash of a spreading column; the small side is
  * replicated once per salt. A hot key's rows then spread over `salts`
  * reducers instead of one.
  */
object Skew {

  /** Equi-join `big ⋈ small` on `keys`, salted `salts` ways.
    * `spread` must be a deterministic expression over `big`'s columns
    * (e.g. a row id) that distributes a hot key's rows.
    */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
      spread: Column, salts: Int): DataFrame = {
    val bigS = big.withColumn("_salt", pmod(hash(spread), lit(salts)))
    val smallS = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    bigS.join(smallS, keys :+ "_salt").drop("_salt")
  }
}
