package graft.ref

import org.apache.spark.sql.DataFrame

import graft.ext.PpJoin.{canonicalFromLex, lexSets}

/** Test-scope reference forms of [[graft.ext.PpJoin]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object PpJoinRef {

  /** [[graft.ext.PpJoin.canonicalFromLex]] over a raw document frame — the
    * audit/spec entry point ([[graft.ext.PpJoin.candidates]]' input shape).
    */
  def canonicalSets(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    canonicalFromLex(lexSets(df, idCol, textCol, shingleN))
}
