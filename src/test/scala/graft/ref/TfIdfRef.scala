package graft.ref

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Text

/** Test-scope reference forms of [[graft.ext.TfIdf]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object TfIdfRef {

  /** The exploded-postings + window form of
    * [[graft.ext.TfIdf.bm25TopTerms]] — the derivation the DuckDB oracle
    * replays, kept as the equality twin for the native rewrite's spec and
    * scale A/B.
    */
  def bm25TopTermsComposed(docs: DataFrame, idCol: String,
      textCol: String, k: Int, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    // drop the empty-string pseudo-term a cleaned-to-empty document
    // emits (split("", " ") = [""]): it would otherwise acquire a df
    // and rank as a "term" (same convention as Bpe.wordCounts; dl
    // deliberately stays size(tokens) on both engine and oracle sides)
    val toks = docs.select(col(idCol),
        explode(Text.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) >= 1)
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col(idCol)).as("df"))
    val dl = docs.select(col(idCol), size(Text.tokens(col(textCol))).cast("long").as("dl"))
    val stats = docs.agg(countDistinct(col(idCol)).as("n_docs"))
      .crossJoin(dl.agg(avg(col("dl")).as("avgdl")))
    val scored = tf.join(df, "term").join(dl, idCol)
      .crossJoin(broadcast(stats))
      .withColumn("idf", log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1))
      .withColumn("bm25", round(
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + col("dl") * b / col("avgdl"))), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(round(col("bm25"), 9).desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("bm25"))
  }

  /** The exploded-postings + window form of [[graft.ext.TfIdf.topTerms]] — the
    * derivation the DuckDB oracle replays, kept as the equality twin.
    */
  def topTermsComposed(docs: DataFrame, idCol: String,
      textCol: String, k: Int): DataFrame = {
    // same empty-pseudo-term guard as [[graft.ext.TfIdf.bm25TopTerms]]
    val toks = docs.select(col(idCol),
        explode(Text.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) >= 1)
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df = toks.groupBy(col("term")).agg(countDistinct(col(idCol)).as("df"))
    val n = docs.agg(countDistinct(col(idCol)).as("n_docs"))
    val scored = tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
    val w = Window.partitionBy(col(idCol))
      .orderBy(round(col("tfidf"), 9).desc, col("term").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tfidf"))
  }
}
