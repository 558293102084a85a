package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Text
import graft.plans.{Bm25TopK, TermCounts, TfIdfTopK}

/** TF-IDF term scoring over a document corpus — the standard
  * quality/topicality signal for training-data curation.
  *
  * Shuffle shape at scale: one explode to (doc, term) postings, one
  * (doc, term) count aggregation (map-side combined), one term-level
  * document-frequency aggregation, a join of postings to the term
  * frequencies, and a per-doc top-k window. The df table is |vocab|
  * rows; the corpus count is a broadcast 1-row aggregate, never a
  * driver-side collect. Scores are rounded (ranking at 9 decimals with
  * a term tie-break, output at 6) so results are reproducible across
  * engines and float-summation orders.
  *
  * PRECONDITION: `idCol` is the unique document key (the same contract
  * every dedup/shard operator carries) — the corpus size is counted as
  * `count(1)`, not a distinct aggregate.
  */
object TfIdf {

  /** The corpus scalars (`n_docs`, and for BM25 `Σdl`) ride the df
    * exchange as ONE per-doc sentinel entry (NULL term) appended to
    * the per-doc count array — no separate corpus-count job, no
    * crossJoin barrier (30× A/B: tfidf 0.81 → 0.68 s, bm25 0.83 →
    * 0.69 s medians, graft.Bench `text_tfidf`/`text_bm25`). The
    * coalesce keeps a null-text document's sentinel (its tc is NULL):
    * n_docs counts every document, exactly like the count it replaced.
    */
  private val EmptyTc = "array<struct<term:string,tf:bigint>>"
  private def withSentinel(tc: org.apache.spark.sql.Column,
      dl: org.apache.spark.sql.Column) =
    concat(coalesce(tc, array().cast(EmptyTc)),
      array(struct(lit(null).cast("string").as("term"), dl.as("tf"))))

  /** Guard on the documented unique-`idCol` precondition behind
    * `n_docs = count(1)`-style corpus counting: setting
    * `spark.graft.checkUniqueIds=true` (debug aid) adds a distinct
    * count and a runtime `assert_true` — re-paying the two-phase
    * exchange the contract lets the fast path delete — so a caller
    * passing a non-unique id column fails loud instead of silently
    * inflating n_docs (and so every IDF/BM25 score). The assertion is
    * woven into the n_docs column itself so pruning can't drop it.
    */
  private def withUniqueIdCheck(fold: DataFrame, pc: DataFrame,
      idCol: String): DataFrame = {
    val checked = pc.sparkSession.conf
      .getOption("spark.graft.checkUniqueIds").contains("true")
    if (!checked) fold
    else fold.crossJoin(pc.agg(count(lit(1)).as("_n"),
        countDistinct(col(idCol)).as("_nd")))
      .withColumn("n_docs", when(assert_true(col("_n") === col("_nd"),
        lit(s"graft.TfIdf: id column '$idCol' is not unique — " +
          "n_docs (and every IDF/BM25 score) would be silently " +
          "inflated; dedupe ids or pass the document key")).isNull,
        col("n_docs")))
      .drop("_n", "_nd")
  }

  /** Okapi BM25 top-k terms per document:
    * `idf = ln((N - df + 0.5) / (df + 0.5) + 1)` (the standard
    * non-negative variant) and the saturating, length-normalized
    * `tf' = tf (k1+1) / (tf + k1 (1 - b + b dl/avgdl))`.
    *
    * Round-14 shape (the `text_repetition` family fix applied to
    * scoring): ONE tokenize+count pass produces per-doc
    * `graft_term_counts` arrays (persisted — every downstream
    * consumer reads the pass, the corpus is never re-tokenized); the
    * only exchange is the vocab-sized document-frequency aggregation,
    * folded with (N, avgdl) into a ONE-ROW model and broadcast back
    * (J3 pattern); scoring + per-doc top-k selection happen map-side
    * in the native [[graft.plans.Bm25TopK]] expression. Nothing
    * document-grain ever shuffles — the composed form moved the token
    * stream through two exchanges and the scored stream through two
    * more (`graft.ref.TfIdfRef.bm25TopTermsComposed`, the test-scope
    * equality twin).
    */
  def bm25TopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val toks = Text.tokens(col(textCol))
    // deliberately LAZY (no checkpoint, no cache): the count pass is a
    // cheap codegen'd map over the scan, and materializing its
    // doc-grain count arrays costs more in stored/re-read bytes than
    // recomputing it inline under each consumer — measured 1.45 s
    // (localCheckpoint) vs 0.98 s (lazy) for the tfidf sibling on a
    // 30× corpus, alternating A/B. Nothing touches the session
    // CacheManager (CacheHygieneSpec pins the contract).
    val pc = docs.select(col(idCol),
        column(TermCounts(expression(toks))).as("tc"),
        size(toks).cast("long").as("dl"))
    // the (n_docs, Σdl) scalars ride the SAME exchange as the df rows
    // via the per-doc sentinel (withSentinel) — the r15 separate
    // corpus pass (a full tokenize) and its crossJoin barrier are
    // gone. Sentinel rows group under the NULL term; avgdl divides by
    // the non-null-dl sentinel count so a null-text document (dl
    // NULL) counts in n_docs but not in the average, exactly like the
    // avg() it replaced. n_docs stays count-not-distinct (the unique
    // document-key contract — assertable via spark.graft.checkUniqueIds;
    // the distinct's extra two-phase exchange measured 0.50 vs 0.11 s
    // at 30×).
    val ex = pc.select(explode(withSentinel(col("tc"), col("dl"))).as("e"))
      .filter(col("e.term").isNull || length(col("e.term")) >= 1)
      .select(col("e.term").as("term"), col("e.tf").as("tf"))
    val g = ex.groupBy(col("term"))
      .agg(count(lit(1)).as("cnt"), sum(col("tf")).as("stf"),
        count(col("tf")).as("ndl"))
    val fold = g.agg(
        sort_array(collect_list(when(col("term").isNotNull,
          struct(col("term"), col("cnt").as("df"))))).as("dfarr"),
        max(when(col("term").isNull, col("cnt"))).as("n_docs"),
        (max(when(col("term").isNull, col("stf"))).cast("double") /
          max(when(col("term").isNull, col("ndl")))).as("avgdl"))
    val model = withUniqueIdCheck(fold, pc, idCol)
      .select(struct(col("dfarr"), col("n_docs"), col("avgdl")).as("model"))
    pc.crossJoin(broadcast(model))
      .select(col(idCol), explode(column(Bm25TopK(expression(col("tc")),
        expression(col("dl")), expression(col("model")), k, k1, b)))
        .as("r"))
      .select(col(idCol), col("r.rank").as("rank"),
        col("r.term").as("term"), col("r.bm25").as("bm25"))
  }

  /** Top-k terms per document by `tf * ln(N / df)` — same one-pass
    * count + one-row broadcast model + map-side selection shape as
    * [[bm25TopTerms]] (native [[graft.plans.TfIdfTopK]]); the
    * exploded-postings window form is the test-scope
    * `graft.ref.TfIdfRef.topTermsComposed`.
    */
  def topTerms(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    // deliberately lazy count pass — see bm25TopTerms (measured A/B)
    val pc = docs.select(col(idCol),
        column(TermCounts(expression(Text.tokens(col(textCol))))).as("tc"))
    // n_docs rides the df exchange as the per-doc sentinel row — see
    // bm25TopTerms (count-not-distinct contract assertable via
    // spark.graft.checkUniqueIds; 30× A/B: graft.Bench `text_tfidf`)
    val ex = pc.select(explode(withSentinel(col("tc"), lit(0L))).as("e"))
      .filter(col("e.term").isNull || length(col("e.term")) >= 1)
      .select(col("e.term").as("term"))
    val g = ex.groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val fold = g.agg(
        sort_array(collect_list(when(col("term").isNotNull,
          struct(col("term"), col("cnt").as("df"))))).as("dfarr"),
        max(when(col("term").isNull, col("cnt"))).as("n_docs"))
    val model = withUniqueIdCheck(fold, pc, idCol)
      .select(struct(col("dfarr"), col("n_docs")).as("model"))
    pc.crossJoin(broadcast(model))
      .select(col(idCol), explode(column(TfIdfTopK(expression(col("tc")),
        expression(col("model")), k))).as("r"))
      .select(col(idCol), col("r.rank").as("rank"),
        col("r.term").as("term"), col("r.tfidf").as("tfidf"))
  }
}
