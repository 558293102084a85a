package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Vectors
import graft.operators.Joins
import graft.plans.PqAdc

/** Product-quantization ANN (ADC flavor): vectors are split into `m`
  * subspaces, each subspace gets a small codebook, and every corpus
  * vector is stored as `m` small codes. A query builds a lookup table
  * (dot product of its subvector against every codeword, per
  * subspace); scoring a corpus vector is then `m` table lookups + adds
  * instead of a full-dimension dot product — the classic memory/compute
  * trade (Jégou et al., "Product Quantization for Nearest Neighbor
  * Search", reference: the ANN scale path beside IVF in
  * `Similarity.ivfTopK`).
  *
  * Codebooks here are per-block subspace means (one Lloyd update from
  * the `blockCol` partition — same deterministic-training simplification
  * as `ivfTopK`'s cells, rounded to 4 decimals), so encoding, LUTs and
  * ADC scores are all exactly reproducible and the whole approximate
  * pipeline is oracle-checkable. Ranking rounds at 9 decimals with id
  * tie-break, like every ranked operator in the engine.
  *
  * Build/probe split (the 100 TB lifecycle): [[trainCodebook]] and
  * [[encode]] produce plain DataFrames — the PQ INDEX — that a caller
  * persists once (e.g. as parquet in a `Persisted` dir) and probes
  * many times via [[adcProbe]], which builds a pure plan: broadcast
  * LUTs + map-only scoring, ZERO jobs at construction and no
  * index-rebuild work.
  * [[adcTopK]] composes all three for the one-shot convenience path.
  *
  * Scale shape: codebooks and query LUTs are tiny and broadcast; the
  * corpus is touched twice at BUILD time — once to train, once to
  * encode (a one-time cost in production) — and probing is map-only
  * over the broadcast LUTs with no shuffle before the per-query top-k
  * window, which moves only k rows per partition.
  */
object Pq {

  /** (id, sub, subvec) — one row per subspace slice of `_uv`. */
  private def subs(df: DataFrame, id: String, m: Int, w: Int): DataFrame =
    df.select(col(id),
      posexplode(array((0 until m).map(s =>
        slice(col("_uv"), s * w + 1, w)): _*)).as(Seq("sub", "_sv")))

  /** Codebook training from pre-sliced (_cell, sub, _sv) rows — the
    * shared core of [[trainCodebook]] and the slice-reusing
    * [[adcTopK]] path. Semantics (4-decimal codeword rounding, dense
    * positional codes) are byte-identical either way.
    */
  private def trainFromSubs(sl: DataFrame): DataFrame =
    sl.select(col("_cell"), col("sub"),
        posexplode(col("_sv")).as(Seq("_pos", "_x")))
      .groupBy(col("sub"), col("_cell").as("cw"), col("_pos"))
      .agg(round(avg(col("_x")), 4).as("_mv"))
      .groupBy(col("sub"), col("cw"))
      // sort_array, not array_sort, here and at every (key, value)
      // struct re-collect in this family: the sort key is a unique
      // non-null ordinal per list, so the native SortArray ordering is
      // exactly array_sort's — minus the per-comparison lambda
      // evaluation (the r19 PPJoin finding: ~3 ns vs ~200 ns/compare)
      .agg(sort_array(collect_list(struct(col("_pos"), col("_mv")))).as("_pm"))
      .select(col("sub"), col("cw"),
        transform(col("_pm"), s => s.getField("_mv")).as("_cw"))
      // dense positional code per subspace: the LUT below is ordered by
      // cw, so lookups must use the cw's POSITION, not its raw value
      .withColumn("code", row_number().over(
        Window.partitionBy(col("sub")).orderBy(col("cw"))) - 1)

  /** Encoding from pre-sliced (c_id, sub, _sv) rows — the shared core
    * of [[encode]] and the slice-reusing [[adcTopK]] path.
    */
  private def encodeFromSubs(sl: DataFrame, codebook: DataFrame): DataFrame = {
    // fail LOUDLY outside the pack's 16-bit code capacity: a codebook
    // with >= 2^16 codewords in one subspace would bleed code bits
    // into the distance bits and `_pk % 65536` would recover the
    // WRONG code — and a NEGATIVE code (only possible from a
    // caller-supplied codebook; [[trainFromSubs]] emits row_number-1
    // >= 0) corrupts the same way from the other side (d2*65536 - 1
    // recovers code 65535 and shifts the distance bits). Guarded on
    // the tiny broadcast side (per codebook row, not per corpus row),
    // mirroring mixtureShards' weight guard.
    val guarded = codebook.withColumn("code",
      when(col("code") >= 0 && col("code") < 65536, col("code"))
        .otherwise(raise_error(concat(
          lit("Pq.encode: codebook code outside [0, 65536) in subspace "),
          col("sub").cast("string")))))
    // |sv|² varies per (row, sub) and |cw|² per codebook row — hoist
    // both OUT of the (row, sub) × codewords joined hot path, which
    // then computes only the one cross-term dot per candidate. The
    // combination (a - 2b) + c keeps the exact float-op order of the
    // inline form, so every _d2 bit (and the 9-decimal rounding on it)
    // is unchanged.
    val cb2 = broadcast(guarded.withColumn("_cw2",
      Vectors.dot(col("_cw"), col("_cw"))))
    sl.withColumn("_sv2", Vectors.dot(col("_sv"), col("_sv")))
      .join(cb2, Seq("sub"))
      .withColumn("_d2",
        col("_sv2")
          - lit(2) * Vectors.dot(col("_sv"), col("_cw"))
          + col("_cw2"))
      .withColumn("_pk",
        // round(_d2, 9) FIRST — the exact quantization the oracle (and
        // the old window) ranked by; the outer round only recovers the
        // integer from (k/1e9)*1e9's last-ulp wobble. Rounding the
        // scaled product directly could land one quantum off the
        // 9-decimal half-up boundary and pick a different codeword
        // than the SQL replay.
        greatest(round(round(col("_d2"), 9) * lit(1e9)), lit(0.0))
          .cast("long") * lit(65536L) + col("code"))
      .groupBy(col("c_id"), col("sub"))
      .agg(min(col("_pk")).as("_pk"))
      .withColumn("code", (col("_pk") % 65536L).cast("int"))
      .groupBy(col("c_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("code")))).as("_sc"))
      .select(col("c_id"),
        transform(col("_sc"), s => s.getField("code")).as("_codes"))
  }

  /** Train the codebook: per (subspace, block) positional mean, rounded
    * to 4 decimals so the codewords are deterministic across
    * partitionings/engines, plus a dense positional `code` per
    * subspace (block ids are any orderable values, not 0..n-1).
    *
    * Pure plan — no action; callers materialize (checkpoint/persist)
    * as their lifecycle requires. Schema: (sub, cw, _cw, code).
    */
  def trainCodebook(corpus: DataFrame, vecCol: String, blockCol: String,
      m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val w = dim / m
    trainFromSubs(Vectors.unitized(corpus, vecCol, blockCol -> "_cell")
      .select(col("_cell"),
        posexplode(array((0 until m).map(s =>
          slice(col("_uv"), s * w + 1, w)): _*)).as(Seq("sub", "_sv"))))
  }

  /** Slice-stream partition count for the encode stage, from plan
    * statistics (ZERO jobs): the nearest-codeword search fans every
    * slice row out to |codewords| candidates map-side, so balance is
    * set by SLICE partitioning, not by however few splits the corpus
    * scan produced (a single parquet file would otherwise run the
    * whole candidate scan on one core — measured 2× the entire encode
    * at bench scale). Target ~2k slice rows per partition, capped at
    * the session shuffle width; the clamp keeps a bad estimate
    * harmless.
    */
  private def sliceParts(corpus: DataFrame, m: Int, cap: Long): Int =
    // BigInt: estimatedRows clamps to Long.MaxValue on degenerate
    // stats, and `rows * m` would overflow NEGATIVE — collapsing the
    // encode stage to 1 partition, the exact serial pathology this
    // sizing exists to fix
    ((BigInt(Joins.estimatedRows(corpus)) * m / 2000)
      .min(BigInt(cap)).max(BigInt(1))).toInt

  /** Encode the corpus against a trained codebook: nearest codeword per
    * (row, subspace) by L2 on the subvector, codes packed into one
    * array per row in subspace order. Pure plan. Schema: (c_id, _codes).
    */
  def encode(corpus: DataFrame, cId: String, vecCol: String,
      codebook: DataFrame, m: Int, dim: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val w = dim / m
    val parts = sliceParts(corpus, m,
      corpus.sparkSession.conf.get("spark.sql.shuffle.partitions").toLong)
    // Arg-min codeword per (row, subspace) as min(packed long), NOT a
    // row_number window: the window sorts |corpus|·m·|codewords| rows
    // on one exchange, while min(long) partial-aggregates map-side
    // through a HashAggregate (min(struct) would force SortAggregate —
    // same packing trick as record_linkage). The 9-decimal-quantized
    // distance occupies the high bits, the dense code the low 16, so
    // packed order == (round(d2,9) asc, code asc) — and code order ==
    // cw order by construction ([[trainCodebook]]), matching the
    // documented (d2, cw) tie-break exactly. d2 of unit-vector slices
    // is ≤ 4, so the pack stays far inside Long range; the 2^16
    // codewords-per-subspace capacity is ENFORCED in
    // [[encodeFromSubs]] (raise_error on the broadcast codebook), not
    // merely assumed.
    encodeFromSubs(
      subs(Vectors.unitized(corpus, vecCol, cId -> "c_id"), "c_id", m, w)
        .repartition(parts),
      codebook)
  }

  /** Probe a prebuilt index: query LUTs against the broadcast codebook,
    * then m lookups + adds per (query, corpus row) in fixed subspace
    * order (bit-reproducible float sum). Pure plan — constructing it
    * launches ZERO jobs and never rebuilds the index (PqSpec pins
    * this), so a persisted index amortizes across every probe.
    *
    * @param codebook output of [[trainCodebook]] (or a persisted copy)
    * @param codes    output of [[encode]] (or a persisted copy)
    */
  def adcProbe(queries: DataFrame, qId: String, vecCol: String,
      codebook: DataFrame, codes: DataFrame, m: Int, dim: Int,
      k: Int): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val w = dim / m
    // query LUT: lut[sub][cw] = dot(q subvector, codeword) — nested
    // array ordered by (sub, cw) so ADC is pure positional lookup
    val qlut = subs(Vectors.unitized(queries, vecCol, qId -> "q_id"),
        "q_id", m, w)
      .join(broadcast(codebook), Seq("sub"))
      .withColumn("_dp", Vectors.dot(col("_sv"), col("_cw")))
      .groupBy(col("q_id"), col("sub"))
      .agg(sort_array(collect_list(struct(col("cw"), col("_dp")))).as("_cd"))
      .withColumn("_l", transform(col("_cd"), s => s.getField("_dp")))
      .groupBy(col("q_id"))
      .agg(sort_array(collect_list(struct(col("sub"), col("_l")))).as("_sl"))
      .select(col("q_id"),
        transform(col("_sl"), s => s.getField("_l")).as("_lut"))
    // ADC: m lookups + adds per (query, corpus row), fixed subspace
    // order so the float sum is bit-reproducible. ONE codegen'd loop
    // expression ([[graft.plans.PqAdc]]), NOT an unrolled m-term
    // element_at chain: at m = 32 the chain's ~64 call sites in one
    // generated method blow past the JIT/Janino limits and drop the
    // whole scoring stage out of whole-stage codegen into interpreted
    // eval (~6 µs/pair measured — the 2×-gate miss this replaces;
    // PqSpec pins the compiled form).
    val adc: Column = column(PqAdc(expression(col("_codes")), expression(col("_lut"))))
    val rankW = Window.partitionBy(col("q_id"))
      .orderBy(round(col("_adc"), 9).desc, col("c_id").asc)
    codes.join(broadcast(qlut), col("q_id") =!= col("c_id"))
      .withColumn("_adc", adc)
      .withColumn("rank", row_number().over(rankW).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"),
        round(col("_adc"), 6).as("adc_cosine"))
  }

  /** One-shot convenience: train + encode (materialized under
    * graph-sized shuffles) + probe. The unitized subspace slices are
    * computed ONCE and shared by training and encoding (the separable
    * [[trainCodebook]]/[[encode]] path pays that explode twice — fine
    * when the index is built once and persisted, waste inside a
    * single call).
    *
    * @param dim embedding dimensionality; pass it when known (the
    *            usual case — it is part of the table contract) so the
    *            call launches NO pre-shuffle sizing jobs. Left at -1,
    *            a 1-row probe job reads it from the data.
    * @param trainHex non-empty → train the codebook on the
    *            deterministic md5 hash-sample of the corpus whose
    *            [[Sampling.hashBucket]] is <= this hex threshold
    *            (e.g. "32" ≈ 20%) — the codebook is a set of per-cell
    *            MEANS, so a uniform sample moves the 4-decimal-rounded
    *            codewords little while cutting the training explode by
    *            the sample rate; encoding/probing always cover the
    *            FULL corpus. SQL-replayable (the `Sampling.sample`
    *            idiom), so the oracle samples identically.
    * @return (q_id, rank, neighbor_id, adc_cosine) — approximate
    *         cosine top-k per query via asymmetric distance computation.
    */
  def adcTopK(queries: DataFrame, corpus: DataFrame, qId: String,
      cId: String, vecCol: String, blockCol: String, m: Int,
      k: Int, dim: Int = -1, trainHex: String = ""): DataFrame = {
    val spark = corpus.sparkSession
    val d = if (dim > 0) dim
      else {
        // probe a NON-NULL vector (size(null) = -1; same guard as
        // SignLsh.resolveDim — a failed-embedding first row must not
        // poison the subspace split)
        val probed = corpus.filter(col(vecCol).isNotNull)
          .select(size(col(vecCol))).take(1)
        require(probed.nonEmpty,
          s"cannot resolve embedding dim: no non-null $vecCol rows")
        probed.head.getInt(0)
      }
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val w = d / m
    // the index-build shuffles move (id, sub, code/dot) triples — size
    // them to corpus × m, not the session-wide batch setting. Sizing
    // comes from plan statistics (Joins.estimatedRows): ZERO jobs, and
    // both clamps keep a bad estimate harmless (floor 4, cap = session
    // setting).
    val sessionWidth = spark.conf.get("spark.sql.shuffle.partitions").toLong
    // BigInt for the same overflow reason as [[sliceParts]]
    val sized = PlanDsl.withConf(spark, "spark.sql.shuffle.partitions" ->
      (BigInt(Joins.estimatedRows(corpus)) * m / 100000)
        .min(BigInt(sessionWidth)).max(BigInt(4)).toString)
    // ONE explode serves both train and encode: (c_id, _cell, sub,
    // _sv) slices, materialized — this barrier is also the index
    // build's working set, so it is corpus × m rows by construction.
    // Repartitioned to the candidate-balanced width ([[sliceParts]])
    // BEFORE the barrier, so the nearest-codeword map stage never
    // inherits a narrow corpus scan's split count.
    val slices = Vectors.unitized(corpus, vecCol, cId -> "c_id",
        blockCol -> "_cell")
      .select(col("c_id"), col("_cell"),
        posexplode(array((0 until m).map(s =>
          slice(col("_uv"), s * w + 1, w)): _*)).as(Seq("sub", "_sv")))
      .repartition(sliceParts(corpus, m, sessionWidth))
    val sl = PlanDsl.ofRows(sized, slices.queryExecution.analyzed)
      .localCheckpoint()
    val trainSl = if (trainHex.isEmpty) sl
      else sl.filter(Sampling.hashBucket(col("c_id")) <= lit(trainHex))
    // SCOPE of the sized width: the two barriers that run on the
    // clone — the slice checkpoint above (whose width [[sliceParts]]
    // sets explicitly anyway) and the codebook build. The lazy encode
    // + probe stages run on the caller's session at its width —
    // deliberately: the sizing only ever SHRINKS below the session
    // setting, so session width is never under-parallel for them, AQE
    // coalesces the over-split tails, and a codes barrier here would
    // cost a full extra job for a result the one-shot probe consumes
    // exactly once (measured +0.5–1 s on the pq family at sf0.1).
    // Callers that probe repeatedly persist the separable
    // [[trainCodebook]]/[[encode]] outputs instead.
    val codebook = PlanDsl.ofRows(spark,
      trainFromSubs(trainSl).localCheckpoint().queryExecution.analyzed)
    val codes = encodeFromSubs(PlanDsl.ofRows(spark, sl.queryExecution.analyzed)
      .select(col("c_id"), col("sub"), col("_sv")), codebook)
    adcProbe(queries, qId, vecCol, codebook, codes, m, d, k)
  }
}
