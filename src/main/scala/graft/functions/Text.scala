package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.{CollapseRepeats, Fingerprint, Shingles, TextStats}

/** Text-analysis column functions for the training-data pipeline
  * extensions (BASELINE.json north star): tokenization, shingling,
  * quality metrics, marker-based language ID and winnowing
  * fingerprints.
  *
  * Everything here is built from codegen'd builtin functions and
  * higher-order array functions — no UDFs — so the expressions inline
  * into WholeStageCodegen and run at scan speed; at 100 TB these are
  * embarrassingly parallel per-row transforms with zero shuffle.
  */
object Text {

  /** Whitespace tokenization (the corpus is single-space normalized;
    * for raw text compose with `regexp_replace` normalization first).
    */
  def tokens(text: Column): Column = split(text, " ")

  /** PII scrub: replace emails, international-format phone numbers and
    * IPv4 addresses with typed placeholder tokens. The patterns are
    * RE2-safe (no backrefs/lookaround) so the DuckDB oracle applies the
    * byte-identical regexes; replacement is global in both engines.
    * Map-only — composes with [[cleanText]] in the corpus pipeline.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{3,6}"
  val Ipv4Re = "\\b([0-9]{1,3}\\.){3}[0-9]{1,3}\\b"

  def redactPii(text: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_replace(text, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      Ipv4Re, "<IP>")

  /** Word n-gram shingles. Documents shorter than `n` tokens collapse
    * to a single whole-text shingle so every document has a non-empty
    * shingle set. Computed by the codegen'd native
    * [[graft.plans.Shingles]] expression (the hottest per-row loop in
    * the dedup queries); `graft.ref.TextRef.shinglesHof` is the
    * byte-identical builtin formulation it is spec-checked against.
    */
  def shingles(toks: Column, n: Int): Column =
    column(Shingles(expression(toks), n))

  /** BPE-ish subword count heuristic: word tokens plus an extra token
    * per 6 characters of word length beyond the first 6 (long words
    * split into multiple subwords under byte-pair encodings).
    */
  def approxBpeTokenCount(toks: Column): Column =
    aggregate(toks, lit(0L),
      (acc, t) => acc + lit(1L) +
        floor((length(t) - lit(1)).cast("double") / lit(6.0)).cast("long"))

  /** Count of tokens belonging to a fixed word set. */
  def countIn(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => words.map(w => t === lit(w)).reduce(_ || _)))

  /** Mean token length = (chars - separators) / tokens, computed
    * exactly from the already-available lengths.
    */
  def avgTokenLen(text: Column, toks: Column): Column =
    (length(text) - (size(toks) - lit(1))).cast("double") / size(toks).cast("double")

  /** Marker-word language scores: count of per-language stopword hits.
    * Deterministic argmax with lexicographic tie-break on the language
    * code. The marker variant is SQL-expressible for the oracle gate.
    */
  def langScores(toks: Column, markers: Map[String, Seq[String]]): Map[String, Column] =
    markers.map { case (lang, words) => lang -> countIn(toks, words) }

  def argmaxLang(scores: Map[String, Column]): Column = {
    // greatest-by with lexicographic tie-break: fold over langs sorted
    // descending so earlier codes win ties.
    val sorted = scores.toSeq.sortBy(_._1).reverse
    sorted.tail.foldLeft((lit(sorted.head._1), sorted.head._2)) {
      case ((bestLang, bestScore), (lang, score)) =>
        (when(score >= bestScore, lit(lang)).otherwise(bestLang),
          when(score >= bestScore, score).otherwise(bestScore))
    }._1
  }

  /** Adjacent-repeat collapse: drops each token equal to its
    * predecessor ("batch batch batch" → "batch") — the cheap
    * boilerplate/stutter normalization every corpus-cleaning pass
    * runs before dedup. Computed by the codegen'd native
    * [[graft.plans.CollapseRepeats]] (the HOF formulation
    * `graft.ref.TextRef.collapseRepeatsHof` evaluates an interpreted
    * lambda frame per token; spec-checked equal). Pure per-row array work — map-only,
    * zero shuffle.
    */
  def collapseRepeats(toks: Column): Column =
    column(CollapseRepeats(expression(toks)))

  /** One-pass native token statistics
    * ([[graft.plans.TextStats]]): struct(n_tokens, n_distinct,
    * n_stop, n_repeat).
    */
  def tokenStats(toks: Column, stopwords: Seq[String]): Column =
    column(TextStats(expression(toks), stopwords))

  /** PII/noise scrub patterns (RE2-safe so the same pattern runs in
    * any engine): URLs, emails and long digit runs replaced by typed
    * placeholder tokens. Order matters — URLs first so their digits
    * are not half-eaten by the digit-run rule.
    */
  val scrubPatterns: Seq[(String, String)] = Seq(
    "https?://[^ ]+" -> "<URL>",
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+" -> "<EMAIL>",
    "[0-9]{7,}" -> "<NUM>")

  def scrub(text: Column): Column =
    scrubPatterns.foldLeft(text) { case (c, (pat, rep)) =>
      regexp_replace(c, pat, rep)
    }

  /** One-pass native fingerprint over SHINGLES (not hashes):
    * `struct(min_shingle_hash, n_winnow)` ==
    * `(array_min(transform(sh, md5)), size(winnow(transform(sh, md5),
    * w)))` with `winnow` the sliding-window-minimum selection of
    * `graft.ref.TextRef.winnow` — [[graft.plans.Fingerprint]],
    * spec-checked equal to the
    * HOF composition it replaces on the corpus hot path (the HOF form
    * pays interpreted lambda frames + three intermediate arrays per
    * row).
    */
  def fingerprint(shingles: Column, window: Int): Column =
    column(Fingerprint(expression(shingles), Literal(window)))
}
