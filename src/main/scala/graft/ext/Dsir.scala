package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Text
import graft.plans.{DsirBuckets, DsirScore}

/** Data Selection via Importance Resampling — hashed n-gram importance
  * weights (Xie et al., NeurIPS 2023; public literature): score every
  * raw document by how much its hashed-token distribution looks like a
  * TARGET domain versus the raw corpus, then keep the top fraction.
  * The standard data-selection pass of an LLM pretraining pipeline:
  * "select web documents that look like the high-quality target set".
  *
  * Model: tokens hash into 256 buckets (first two md5 hex chars — the
  * engine-portable convention shared with [[Sampling]]); bucket
  * unigram probabilities with add-1 smoothing estimated for the target
  * slice and for the full raw corpus; a document's score is the summed
  * per-token log-likelihood ratio `ln p_target(b) - ln p_raw(b)`.
  *
  * Determinism discipline: each bucket's log-ratio is rounded ONCE to
  * an integer micro unit (1e-6), and per-document scores are BIGINT
  * sums of those micro units — order-independent across partitionings
  * and engines (summing raw doubles would vary with reduce order; the
  * [[graft.queries]] oracle-parity rule). Selection is derandomized:
  * instead of Gumbel-noise resampling, keep documents at or above the
  * exact `quantile` score threshold — reproducible, and the
  * production-sensible policy when the selection runs once per corpus
  * snapshot.
  *
  * Shape at 100 TB: token explode is map-side; bucket counts are one
  * 256-row groupBy (partial agg); the log-ratio table and the scalar
  * threshold are broadcast; per-doc scoring is one (id) groupBy.
  * Nothing scales with corpus size except the two linear passes.
  */
object Dsir {

  /** Score and select: (id, score, selected) per input row.
    * @param isTarget  boolean column marking the target-domain slice
    *                  (evaluated on `df`'s rows)
    * @param quantile  selection threshold quantile over scores
    *                  (0.8 = keep top 20%)
    */
  def scoreAndSelect(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, quantile: Double): DataFrame = {
    // round-14 shape: ONE tokenize+md5 pass builds a per-doc sparse
    // bucket histogram (native graft_dsir_buckets, persisted — the
    // bucket-count pass and the scoring pass both read it; the
    // composed form exploded and re-hashed the token stream twice);
    // scoring is then map-side integer arithmetic against the
    // broadcast 1-row log-ratio model (graft_dsir_score) — the
    // per-token join + per-doc re-aggregation disappear. Exchanges:
    // 256-bucket partials and two 1-row aggregates, nothing doc-grain.
    // deliberately LAZY bucket pass (no checkpoint, no cache): the
    // sparse histogram is a cheap codegen'd map over the scan, and
    // recomputing it under each consumer measured faster than
    // materializing doc-grain arrays (TfIdf.bm25TopTerms records the
    // 30× A/B; the dsir pair was 1.57 vs 1.38 s)
    val pc = df.select(col(idCol).as("_id"), isTarget.as("_tgt"),
        column(DsirBuckets(expression(
          Text.tokens(coalesce(col(textCol), lit("")))))).as("_bc"))
    // The model is ≤ 256 rows BY CONSTRUCTION (the bucket space), so
    // it folds on the driver: collect the bucket counts (one map-side
    // partial-aggregated job — the only corpus-sized pass besides
    // scoring), compute totals and the micro-int log ratios in place,
    // and inline the bucket-sorted table as a literal. This deletes
    // the totals-aggregate and model-fold jobs plus their broadcast
    // (r15: two of the five sequential barriers the query paid; the
    // arithmetic — ln and HALF_UP micro rounding — is replicated
    // exactly, and the oracle hash-gate holds it to the composed
    // form). Scale-safe BECAUSE the grain is the fixed bucket space,
    // never documents or vocabulary.
    val counts = pc.select(col("_tgt"), explode(col("_bc")).as("e"))
      .groupBy(col("e.bucket").as("_bucket")).agg(
        sum(col("e.c")).as("_cr"),
        sum(when(col("_tgt"), col("e.c")).otherwise(0L)).as("_ct"))
      .collect()
    val nr = counts.map(_.getLong(1)).sum
    val nt = counts.map(_.getLong(2)).sum
    val lrArr: Seq[(String, Long)] = counts.toSeq.map { r =>
      val v = 1e6 * (math.log((r.getLong(2) + 1.0) / (nt + 256.0)) -
        math.log((r.getLong(1) + 1.0) / (nr + 256.0)))
      // Spark round(double) = BigDecimal HALF_UP at scale 0 — replicated
      (r.getString(0), java.math.BigDecimal.valueOf(v)
        .setScale(0, java.math.RoundingMode.HALF_UP).longValue())
    }.sortBy(_._1) // 2-char lowercase hex: JVM string order = UTF8 binary
    // localCheckpoint (GC-released, never an unpersisted cache): the
    // scored table is TWO fixed-width columns — ~16 bytes/doc — while
    // recomputing it means re-running the tokenize+md5 kernel, the
    // family's priciest map work, under BOTH remaining consumers (the
    // percentile pass and the final select). Unlike the doc-grain
    // _bc ARRAYS (lazy won that A/B — see the note above), storing
    // the scores wins: 30× A/B 1.06 → 1.01 s median
    // (graft.Bench `select_dsir`), and the kernel now runs exactly twice
    // (model pass + scoring pass), the floor for a two-phase
    // model-then-score plan.
    val scored = pc
      .select(col("_id"),
        column(DsirScore(expression(col("_bc")), expression(typedlit(lrArr))))
          .as("_score_micro"))
      .localCheckpoint()
    val thr = scored.agg(
      expr(s"percentile(_score_micro, $quantile)").as("_thr"))
    scored.crossJoin(broadcast(thr))
      .select(col("_id").as(idCol),
        round(col("_score_micro") / lit(1e6), 6).as("score"),
        when(col("_score_micro") >= col("_thr"), 1).otherwise(0)
          .as("selected"))
  }
}
