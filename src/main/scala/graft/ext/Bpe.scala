package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The corpus-scale step of BPE tokenizer training (Sennrich et al.
  * 2016, "Neural Machine Translation of Rare Words with Subword
  * Units"): compress the corpus to a (word, frequency) table, then
  * count adjacent symbol pairs over the DISTINCT words weighted by
  * their frequencies — the statistic the first merge is chosen from.
  *
  * Scale architecture: BPE training touches the corpus exactly once
  * (the word-count groupBy — a shuffle of (word, partial count) pairs
  * with map-side combine). Everything after operates on the
  * vocab-sized word table (≪ corpus, Heaps' law), which is why BPE
  * trains in minutes on corpora that take hours to scan: iterations
  * 2..N re-pair only words containing the previous merge, never the
  * corpus. This module computes the corpus pass + the first pair
  * statistic distributedly; the ranking is a distributed top-k
  * (TakeOrderedAndProject), never a global sort.
  */
object Bpe {

  /** Frequency-weighted word table: one row per distinct word. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(graft.functions.Text.tokens(col(textCol))).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wf"))

  /** Adjacent character-pair counts over the word table, each pair
    * weighted by its word's corpus frequency. A word of length L
    * contributes its L-1 adjacent 2-grams (`substr(word, i, 2)` IS
    * the pair) — map-side explode over vocab-sized input, one
    * partial-agg'd shuffle of (pair, partial sum).
    */
  def pairCounts(words: DataFrame): DataFrame =
    words.filter(length(col("word")) >= 2)
      .select(col("wf"), explode(
        transform(sequence(lit(1), length(col("word")) - 1),
          i => col("word").substr(i, lit(2)))).as("pair"))
      .groupBy("pair").agg(sum(col("wf")).as("pair_count"))

  /** Symbol-boundary wrappers for the iterative merge loop: every
    * symbol is stored as `⟨sym⟩` (chr 28 / chr 29 — RESERVED control
    * chars, enforced in [[wrappedWords]]), so a merge pattern
    * `⟨a⟩⟨b⟩ → ⟨ab⟩` can only match FULL adjacent symbols — `⟨xa⟩⟨b⟩`
    * never matches `⟨a⟩⟨b⟩` — and consecutive occurrences merge
    * independently (the replacement shares no boundary characters with
    * the next match), reproducing BPE's left-to-right non-overlapping
    * application exactly. Both engines' `replace` scans left-to-right
    * non-overlapping, so the oracle replays the loop verbatim.
    */
  val Open = "\u001c"
  val Close = "\u001d"

  /** (wrapped-word, wf): each character wrapped as one initial symbol.
    * The boundary chars are control chars, NOT whitespace, so a
    * pathological token CAN contain them — and would corrupt the
    * symbol encoding silently and IDENTICALLY on both engines (the
    * oracle could not catch it). Enforced loudly instead (the
    * mixtureShards raise_error idiom).
    */
  def wrappedWords(docs: DataFrame, textCol: String): DataFrame =
    wordCounts(docs, textCol)
      .select(
        // The guard covers ALL control + line-terminator characters,
        // not just the two reserved boundary chars: the `(.)` wrap
        // regex does not match \n (silent identical mis-encoding on
        // both engines), and \r / U+0085 / U+2028 / U+2029 differ
        // between Java regex and DuckDB RE2 — either way the answer
        // is a readable error, never a hash mismatch.
        when(col("word").rlike("[\\x00-\\x1f\\x7f\\u0085\\u2028\\u2029]"),
          raise_error(lit("Bpe: token contains a control or line-" +
            "terminator character (the symbol wrap cannot encode it " +
            "portably) - clean the corpus first")))
          .otherwise(regexp_replace(col("word"), "(.)", s"$Open$$1$Close"))
          .as("w"),
        col("wf"))

  /** Adjacent SYMBOL pairs of the wrapped vocab, frequency-weighted. */
  private def symbolPairs(words: DataFrame): DataFrame =
    words
      .select(col("wf"),
        split(expr("substring(w, 2, length(w) - 2)"), s"$Close$Open").as("s"))
      .filter(size(col("s")) >= 2)
      .select(col("wf"), explode(
        transform(sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("a"),
            element_at(col("s"), i + 1).as("b")))).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("wf")).as("cnt"))

  /** Full iterative BPE merge training (the loop [[pairCounts]] is the
    * first step of): `iters` rounds of argmax-pair → apply-merge over
    * the VOCAB-SIZED wrapped word table. Ties break (count DESC,
    * symbol_a, symbol_b) so the trajectory is deterministic and
    * SQL-replayable (the oracle unrolls the same rounds as chained
    * CTEs with scalar-subquery replaces).
    *
    * Scale shape: the corpus is touched exactly once (wordCounts);
    * every iteration is one vocab-sized aggregation plus one map-only
    * replace, checkpointed per round like the other iterative
    * operators (KMeans, Clusters); the driver holds only the k winning
    * merges (metadata-sized, the watermark-scalar precedent).
    *
    * @return the merge table (iter, symbol_a, symbol_b, pair_count) —
    *         possibly fewer than `iters` rows when the vocab runs out
    *         of adjacent pairs — and the final wrapped vocab.
    */
  def trainMerges(docs: DataFrame, textCol: String, iters: Int)
      : (Seq[(Long, String, String, Long)], DataFrame) = {
    var words = wrappedWords(docs, textCol).localCheckpoint()
    val merges = scala.collection.mutable.Buffer[(Long, String, String, Long)]()
    var exhausted = false
    for (it <- 1 to iters if !exhausted) {
      val best = symbolPairs(words)
        .orderBy(col("cnt").desc, col("a"), col("b")).limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val (a, b, cnt) =
          (best(0).getString(0), best(0).getString(1), best(0).getLong(2))
        merges += ((it.toLong, a, b, cnt))
        words = words
          .withColumn("w", org.apache.spark.sql.functions.replace(col("w"),
            lit(s"$Open$a$Close$Open$b$Close"), lit(s"$Open$a$b$Close")))
          .localCheckpoint()
      }
    }
    (merges.toSeq, words)
  }

  /** Final-vocab subword table: explode the trained wrapped vocab back
    * to (subword, n = Σ wf) rows — the tokenizer's corpus-frequency
    * table after `iters` merges. Map-only over the vocab table.
    */
  def subwordCounts(finalWords: DataFrame): DataFrame =
    finalWords
      .select(col("wf"),
        explode(split(expr("substring(w, 2, length(w) - 2)"),
          s"$Close$Open")).as("subword"))
      .groupBy("subword").agg(sum(col("wf")).as("n"))
}
