package graft.ref

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Text

/** Test-scope reference forms of [[graft.queries.TextQueries]]: the
  * formulations its production code is spec-checked against. Nothing
  * outside the specs runs them.
  */
object TextQueriesRef {

  /** The exploded-bigram + model-join form of
    * [[graft.queries.TextQueries.textPerplexity]] — the derivation the
    * DuckDB oracle replays, kept as the equality twin for the native
    * rewrite's spec and scale A/B.
    */
  def textPerplexityComposed(spark: SparkSession,
      dir: String): DataFrame = {
    val t = col("_t")
    val docs = Tables.documents(spark, dir)
    val toks = docs.select(col("doc_id"), Text.tokens(col("text")).as("_t"))
    val bg = toks.filter(size(t) >= 2)
      .select(col("doc_id"), explode(arrays_zip(
        slice(t, lit(1), size(t) - 1).as("w1"),
        slice(t, lit(2), size(t) - 1).as("w2"))).as("_bg"))
      .select(col("doc_id"), col("_bg.w1").as("w1"),
        concat_ws(" ", col("_bg.w1"), col("_bg.w2")).as("bg"))
    val c2 = bg.groupBy("bg").agg(count(lit(1)).as("_c2"))
    val c1 = bg.groupBy("w1").agg(count(lit(1)).as("_c1"))
    val v = toks.select(explode(t).as("_tok"))
      .agg(countDistinct(col("_tok")).as("_vs"))
    val scored = bg
      .join(c2, "bg").join(c1, "w1")
      .crossJoin(broadcast(v))
      .withColumn("_lp", log((col("_c2") + lit(1)).cast("double") /
        (col("_c1") + col("_vs")).cast("double")))
    val agg = scored.groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(-sum(col("_lp")) / count(lit(1)), 4).as("avg_nll"))
    docs.select(col("doc_id"))
      .join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"), col("avg_nll"))
      .orderBy("doc_id")
  }

  /** The composed (explode + shuffle-count) form of
    * [[graft.queries.TextQueries.textRepetition]] — the derivation the
    * DuckDB oracle replays, kept as the equality twin for the native
    * expression's spec and A/B profile.
    */
  def textRepetitionComposed(spark: SparkSession,
      dir: String): DataFrame = {
    // project the token array ONCE: n-gram lambdas below index into it
    // per element, and indexing an attribute is O(1) while indexing the
    // `split(...)` expression would re-split the document per element
    // (O(len²) per doc — measured 27 s → 2 s at sf0.1)
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("w"))
    val w = col("w")
    def gram(n: Int): Column = {
      val g = transform(sequence(lit(1), size(w) - lit(n - 1)), i =>
        struct(lit(n).as("n"),
          concat_ws(" ", (0 until n).map(k => element_at(w, i + lit(k))): _*)
            .as("gram")))
      if (n == 1) g
      else when(size(w) >= lit(n), g)
        .otherwise(expr("CAST(array() AS array<struct<n:int,gram:string>>)"))
    }
    docs
      .select(col("doc_id"),
        explode(concat(gram(1), gram(2), gram(3))).as("g"))
      .select(col("doc_id"), col("g.n").as("n"), col("g.gram").as("gram"))
      .groupBy(col("doc_id"), col("n"), col("gram"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
      .agg(max(col("c")).as("top"), sum(col("c")).as("tot"),
        sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup"))
      .groupBy(col("doc_id"))
      .agg(
        max(when(col("n") === 1, col("tot"))).as("n_words"),
        max(when(col("n") === 1, col("top"))).as("_m1"),
        max(when(col("n") === 2, col("top"))).as("_m2"),
        max(when(col("n") === 2, col("tot"))).as("_t2"),
        max(when(col("n") === 3, col("top"))).as("_m3"),
        max(when(col("n") === 3, col("tot"))).as("_t3"),
        max(when(col("n") === 3, col("dup"))).as("_d3"))
      .select(col("doc_id"), col("n_words"),
        (col("_m1").cast("double") / col("n_words")).as("top_word_frac"),
        (col("_m2").cast("double") / col("_t2")).as("top_bigram_frac"),
        (col("_m3").cast("double") / col("_t3")).as("top_trigram_frac"),
        (col("_d3").cast("double") / col("_t3")).as("dup_trigram_frac"))
      .orderBy("doc_id")
  }
}
