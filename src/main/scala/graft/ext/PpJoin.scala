package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Text
import graft.plans.SortedOverlap

/** Prefix-filtered set-similarity self-join — the PPJoin candidate
  * discipline (Xiao et al., WWW 2008; public literature), the scale
  * upgrade over full posting-list joins for thresholded Jaccard.
  *
  * The full posting-list join ([[Dedup.jaccardPairsBlocked]]) indexes
  * EVERY token of every document, so two documents sharing any one
  * common token become a candidate pair. The prefix filter exploits
  * the threshold: order every document's token set by one global
  * canonical order (ascending document frequency — rarest first,
  * 64-bit token hash as tie-break; see [[canonicalFromLex]]) and index
  * only the first
  * `|x| - ceil(t*|x|) + 1` tokens. If `J(x, y) >= t`, the two prefixes
  * MUST share a token (pigeonhole on the canonical order), so pruned
  * candidates are provably safe — no false negatives. Rare-first
  * ordering makes the shared-prefix event rare for dissimilar pairs:
  * at sf0.01 / t=0.5 the candidate set is ~0.6% of all pairs (772 of
  * 124,750), two orders of magnitude less join fan-out than the
  * all-token posting join, and the gap widens with corpus size —
  * the 100 TB shape.
  *
  * Length filter on top: `J(x, y) >= t` implies
  * `t*|x| <= |y| <= |x|/t`, applied symmetrically at candidate time;
  * the positional filter (see [[candidates]]) then bounds achievable
  * overlap per prefix match — the full PPJoin discipline.
  *
  * Stages (shuffle audit):
  *  1. lex sets — the corpus is shingled ONCE, map-side, into
  *     checkpointed lexicographically-sorted distinct sets (the shape
  *     the verify kernel consumes);
  *  2. document frequency — one (token-HASH) groupBy of the postings
  *     derived from the lex sets, partial-agg map-side;
  *  3. canonical sort — postings re-keyed by doc, one (id) groupBy
  *     re-collecting each set sorted by (df, hash): 8-byte keys ride
  *     the dfreq groupBy, the df join and the per-doc canonical sort
  *     instead of shingle strings (the r20 sets-build cut — the build
  *     was the dominant phase at scale after the r19 verify fix);
  *  4. prefix candidates — self-join on prefix hash only, skinny
  *     (hash, id, size) rows;
  *  5. exact verify — candidate pairs join the LEX sets back BY ID
  *     (candidate-bounded), overlap counted by the native
  *     zero-allocation merge kernel ([[graft.plans.SortedOverlap]])
  *     with a rounding-safe early exit — the r19 cut: the former
  *     per-pair `array_intersect` hash-set build was ~95% of this
  *     stage.
  *
  * Hash safety: the canonical order only has to be one GLOBAL total
  * order shared by all documents for the prefix pigeonhole to hold —
  * (df', hash) is one, even under 64-bit collisions (a CROSS-document
  * collision can merge two tokens' df counts, which only shifts the
  * shared order, or add a candidate the `distinct()` folds) — and the
  * verify stage compares the REAL shingle strings and sizes from the
  * lex sets. An INTRA-document collision is the one case that could
  * bite: it would duplicate a hash in `_stoks` and inflate the
  * hash-side `_sz`, TIGHTENING the length/positional bounds enough to
  * drop a borderline true pair — so [[canonicalFromLex]] dedupes the
  * canonical array (`array_distinct` on the sorted structs) and `_sz`
  * is the hash-SET cardinality by construction. With that dedup the
  * output is identical to the string-keyed build unless a collision
  * makes a document's hash-set strictly smaller than its shingle set
  * (probability ~2^-64 per token pair), where the filters only get
  * WEAKER — extra candidates the string-exact verify kills; no false
  * negatives in either case (cross-checked by the r20 A/B harness and
  * the brute-force spec).
  */
object PpJoin {

  /** Per-doc lex-sorted distinct shingle sets: (_id, _lex, _sz) —
    * the ONE shingle pass over the corpus, materialized
    * (localCheckpoint, GC released — not `.cache()`) because three
    * consumers read it: the posting derivation and both verify sides.
    * `sort_array`'s binary-string ascending order is exactly the
    * order [[graft.plans.SortedOverlap]] requires.
    */
  private[graft] def lexSets(df: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame =
    df.select(col(idCol).as("_id"),
        sort_array(array_distinct(
          Text.shingles(Text.tokens(col(textCol)), shingleN))).as("_lex"))
      .withColumn("_sz", size(col("_lex")))
      .localCheckpoint()

  /** Per-doc canonically-sorted shingle-HASH sets: (_id, _stoks, _sz)
    * with `_stoks: array<bigint>` in ascending-(df, hash) order.
    * Token order (explode of the lex array) is irrelevant to the df
    * counts; the canonical struct sort compares (long, long) — no
    * string compares anywhere in the build, and the checkpoint stores
    * 8-byte hashes instead of shingle strings. Measured (r20 A/B,
    * alternating reps): sets build 3.93 → 2.53 s and full query
    * 10.24 → 8.44 s at a 10× corpus; also faster at sf0.1 once the
    * lex pass is shared (2.97 → 2.40 s full).
    */
  private[graft] def canonicalFromLex(lex: DataFrame): DataFrame = {
    val post = lex.select(col("_id"), explode(col("_lex")).as("_tok"))
      .select(col("_id"), xxhash64(col("_tok")).as("_h"))
    val dfreq = post.groupBy("_h").agg(count(lit(1)).as("_df"))
    post.join(dfreq, "_h")
      .groupBy(col("_id"))
      // sort_array, not array_sort: identical field-by-field struct
      // order, but SortArray compares with the native interpreted
      // ordering while array_sort evaluates a lambda comparator per
      // comparison (the r19 verify-side finding, same hazard here on
      // the per-doc canonical sort)
      // array_distinct AFTER the sort: an intra-document 64-bit hash
      // collision would otherwise duplicate an entry and inflate _sz,
      // TIGHTENING the length/positional filters past the point where
      // a borderline true pair survives (see the object doc's hash-
      // safety paragraph). Duplicates are identical (same _h ⇒ same
      // _df) and adjacent post-sort; array_distinct keeps first
      // occurrences, so the array stays canonically sorted.
      .agg(array_distinct(
        sort_array(collect_list(struct(col("_df"), col("_h"))))).as("_st"))
      .select(col("_id"),
        transform(col("_st"), s => s.getField("_h")).as("_stoks"))
      .withColumn("_sz", size(col("_stoks")))
      .localCheckpoint()
  }

  /** The prefix posting relation (token, id, size, 0-based position)
    * both candidate forms consume; prefix length
    * L = sz - ceil(t*sz) + 1 (>= 1 for t <= 1).
    */
  private def prefixPostings(sets: DataFrame, minJaccard: Double): DataFrame =
    sets.select(col("_id"), col("_sz"),
      posexplode(slice(col("_stoks"), lit(1),
        (col("_sz") - ceil(lit(minJaccard) * col("_sz")) + 1).cast("int")))
        .as(Seq("_p", "_ptok")))

  /** Candidate pairs (id_a < id_b) after prefix + length + positional
    * filtering — exposed so audits/specs can measure the pruning
    * ratio. Through the native [[graft.plans.PrefixPairsNode]]
    * physical operator when the id is a bigint (every caller in this
    * engine): ONE shuffle + ONE sort of the posting relation (the
    * composed self-join reuses the exchange but sorts twice), each
    * unordered pair generated once, length filter applied by early
    * termination on the size-sorted group instead of per-pair
    * predicate evaluation. Same pairs as [[candidatesComposed]]
    * (spec-asserted set equality + the shared dedup_ppjoin oracle);
    * the null-token/null-id filters mirror the inner join's and
    * `id_a < id_b`'s null-dropping semantics. Any other id type falls
    * back to the type-generic composed form rather than narrowing the
    * public [[pairs]] contract.
    */
  private[graft] def candidates(sets: DataFrame,
      minJaccard: Double): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.types.LongType
    if (sets.schema("_id").dataType != LongType)
      return candidatesComposed(sets, minJaccard)
    val pre = prefixPostings(sets, minJaccard)
      .filter(col("_ptok").isNotNull && col("_id").isNotNull)
      .select(col("_ptok"), col("_id"), col("_sz"), col("_p"))
    val node = graft.plans.PrefixPairsNode(minJaccard,
      pre.queryExecution.analyzed,
      AttributeReference("id_a", LongType, nullable = false)(),
      AttributeReference("id_b", LongType, nullable = false)())
    org.apache.spark.sql.graft.PlanDsl.ofRows(sets.sparkSession, node)
      .distinct()
  }

  /** The composed (self-join) candidate form — the A/B reference the
    * native node is spec-gated against, the shape a plain-Spark
    * deployment without the extension would run, and the fallback for
    * non-bigint id columns.
    *
    * The positional filter (shared by both forms, bit-identical
    * arithmetic) is what upgrades AllPairs to PPJoin proper: a prefix
    * token matched at (0-based) positions `pa`/`pb` of the two
    * canonically-sorted sets bounds the achievable overlap at
    * `min(sza - pa, szb - pb)` (this token plus everything after it),
    * while `J >= t` requires overlap `>= t/(1+t) * (sza+szb)`. Matches
    * whose bound can't reach the requirement are dropped BEFORE the
    * pair ever materializes. Lossless: for a qualifying pair the
    * earliest shared prefix token always satisfies the bound. The
    * `1e-9` slack keeps FP rounding of `t/(1+t)` from ever
    * STRENGTHENING the requirement (an over-tight ceil would drop true
    * pairs; a slightly-weak one only admits a candidate the verify
    * stage kills).
    */
  private[graft] def candidatesComposed(sets: DataFrame,
      minJaccard: Double): DataFrame = {
    val pre = prefixPostings(sets, minJaccard)
    val a = pre.select(col("_ptok"), col("_id").as("id_a"),
      col("_sz").as("_sza"), col("_p").as("_pa"))
    val b = pre.select(col("_ptok"), col("_id").as("id_b"),
      col("_sz").as("_szb"), col("_p").as("_pb"))
    val reqOverlap = ceil(
      lit(minJaccard / (1.0 + minJaccard)) * (col("_sza") + col("_szb"))
        - lit(1e-9))
    a.join(b, Seq("_ptok"))
      .filter(col("id_a") < col("id_b") &&
        col("_szb") >= ceil(lit(minJaccard) * col("_sza")) &&
        col("_sza") >= ceil(lit(minJaccard) * col("_szb")) &&
        least(col("_sza") - col("_pa"), col("_szb") - col("_pb"))
          >= reqOverlap)
      .select("id_a", "id_b").distinct()
  }

  /** All pairs with shingle-set Jaccard >= `minJaccard`, global (no
    * blocking column) — exact results through provably-safe pruning.
    * Output: (id_a, id_b, jaccard), id_a < id_b.
    *
    * PRECISION CAVEAT: the final compare quantizes Jaccard to 4
    * decimals (the engine-portability convention every dedup verify in
    * this repo shares — the DuckDB oracle replays the identical
    * round). "Exact" therefore means exact AT THAT QUANTIZATION: with
    * a threshold that is itself not 4-decimal-representable (e.g.
    * 1/3), a pair whose true J lies in [t, round-up boundary) can
    * round below t and be dropped. Use 4-decimal-representable
    * thresholds (0.5, 0.3333) — the pruning stages are strictly safe
    * either way; only the last compare quantizes.
    */
  def pairs(df: DataFrame, idCol: String, textCol: String, shingleN: Int,
      minJaccard: Double): DataFrame = {
    val lex = lexSets(df, idCol, textCol, shingleN)
    val sets = canonicalFromLex(lex)
    // verify ships each set LEXICOGRAPHICALLY sorted so the overlap
    // is a native zero-allocation merge (graft_sorted_overlap) rather
    // than a per-pair hash-set build — the r19 phase split measured
    // array_intersect at ~95% of the verify stage, which is ~80% of
    // the whole query. The sides read the CHECKPOINTED lex sets
    // directly (r20): the former shape re-sorted the canonical arrays
    // once per side; the sort now happens exactly once, in the one
    // shingle pass lexSets materializes. The merge early-exits once
    // the pair provably can't reach the threshold: the exit bound
    // uses t − 5e-5 (the final compare quantizes jaccard to 4
    // decimals HALF_UP, so J >= t − 5e-5 is exactly "rounded
    // J >= t") minus the same 1e-9 FP slack the candidate filter
    // documents — it can only be WEAK, never drop a qualifying pair;
    // any kept pair's count is exact.
    //
    // shuffle_hash, not the planner's default: `lex` is a
    // localCheckpoint with no honest stats, so Spark BROADCASTS this
    // side at any corpus size — 450 MB per side at a 30× corpus
    // (driver collect + every-worker ship; on a real cluster, an OOM
    // waiting for a bigger corpus). The measured trade (r19,
    // graft.Bench `dedup_ppjoin`): a wash at sf0.1 (1.07 vs 1.12 s), and at 30×
    // the shuffle is STABLE (14.5/15.1 s) where the broadcast is
    // bimodal (10.6 s in a clean JVM, 76.8 s under the driver GC
    // churn the 2×450 MB relations themselves cause). The exchange
    // ships |pairs|·array once — bounded by the candidate discipline
    // — instead of |workers|·|docs|·array.
    val xa = lex.select(col("_id").as("id_a"),
        col("_lex").as("_ta"), col("_sz").as("_verify_sza"))
      .hint("shuffle_hash")
    val xb = lex.select(col("_id").as("id_b"),
        col("_lex").as("_tb"), col("_sz").as("_verify_szb"))
      .hint("shuffle_hash")
    val tq = minJaccard - 5e-5
    val req = ceil(lit(tq / (1.0 + tq)) *
      (col("_verify_sza") + col("_verify_szb")) - lit(1e-9))
    candidates(sets, minJaccard)
      .join(xa, "id_a").join(xb, "id_b")
      .withColumn("_inter",
        column(SortedOverlap(expression(col("_ta")), expression(col("_tb")),
          expression(req))))
      .withColumn("jaccard", round(col("_inter").cast("double") /
        (col("_verify_sza") + col("_verify_szb") - col("_inter"))
          .cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }
}
