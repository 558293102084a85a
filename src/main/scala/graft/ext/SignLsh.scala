package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Vectors
import graft.plans.FirstCollision

/** Sign-random-projection LSH over embeddings — the UNBLOCKED
  * near-duplicate scale path (no label/cluster column needed): each
  * vector's bucket is the sign pattern of its dot products with a
  * fixed set of random hyperplanes; cosine-similar vectors land in the
  * same bucket with probability `(1 - θ/π)^bits`. Candidates come from
  * a bucket equi-join (shuffles (id, bucket) pairs, never vector
  * pairs), then exact cosine verifies.
  *
  * The hyperplanes are deterministic (seeded Gaussian, rounded to 6
  * decimals) so signatures are reproducible across engines and runs;
  * the sign test uses a 9-decimal rounding so a borderline-zero dot
  * cannot bucket differently under engine-specific float summation.
  */
object SignLsh {

  /** Deterministic Gaussian hyperplanes (seed fixed, 6-decimal). */
  def hyperplanes(bits: Int, dim: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(math.rint(rnd.nextGaussian() * 1e6) / 1e6))
  }

  /** Bit-string bucket signature of a (unit) vector column. */
  def signature(vec: Column, planes: Seq[Seq[Double]]): Column =
    concat_ws("", planes.map { p =>
      when(round(Vectors.dot(vec, typedlit(p)), 9) >= 0, lit("1")).otherwise(lit("0"))
    }: _*)

  /** Hyperplane dimensionality: caller-passed when known (the usual
    * case — it is part of the embedding table's contract) so signature
    * building launches NO pre-plan sizing job; left at -1, a 1-row
    * probe job reads it from the data (limit pushes into the scan).
    * Probing beats hardcoding — a wrong dim would silently bucket
    * non-matching embeddings on a truncated/null prefix — but it is a
    * driver-blocking job per call, the pattern the index specs guard
    * against everywhere else.
    */
  private[graft] def resolveDim(df: DataFrame, vecCol: String, dim: Int): Int = {
    if (dim > 0) return dim
    // probe a NON-NULL vector: size(null) = -1, and a -1 dim would
    // build empty hyperplanes → every row signs to the same bucket →
    // the bucket self-join silently degenerates to the full n² cross
    // join the LSH exists to avoid. Empty/all-null input fails loudly.
    val probed = df.filter(col(vecCol).isNotNull)
      .select(size(col(vecCol)).as("_d")).take(1)
    require(probed.nonEmpty,
      s"cannot resolve embedding dim: no non-null $vecCol rows")
    val d = probed.head.getInt(0)
    require(d > 0, s"cannot resolve embedding dim: first $vecCol is empty")
    d
  }

  /** Near-duplicate pairs above `minCosine`, candidates from shared
    * LSH buckets (pairs in different buckets are missed — that is the
    * approximation; raise recall with fewer bits or multiple tables).
    *
    * @param dim embedding dimensionality — pass it when known so the
    *            call launches no sizing job (see [[resolveDim]])
    */
  def nearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, minCosine: Double, dim: Int = -1): DataFrame = {
    val planes = hyperplanes(bits, resolveDim(df, vecCol, dim))
    // [[Vectors.unitized]] is the ONE definition of the oracle-
    // sensitive normalize-with-zero-passthrough arithmetic
    val e = Vectors.unitized(df, vecCol, idCol -> idCol)
      .withColumnRenamed("_uv", "_u")
      .withColumn("_bucket", signature(col("_u"), planes))
    // the candidate verify runs through the salted grouped pair
    // kernel ([[graft.ext.Dedup.embeddingNearDupsUnit]]): the bucket
    // self-join capped parallelism at 2^bits (16 at the 4-bit
    // default) and paid per-pair join machinery for ~n²/2^bits
    // verified dots — the r16 cosine-dedup finding, 6.9× on
    // graft.Bench `dedup_embedding_lsh`. Each vector has one
    // bucket, so the pair set is unchanged.
    graft.ext.Dedup.embeddingNearDupsUnit(e, idCol, "_u", "_bucket",
        minCosine)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Multi-table variant — the standard LSH recall lever: `tables`
    * independent hyperplane sets (seeds 42, 43, …), a pair is a
    * candidate if it collides in ANY table. Pair recall rises roughly
    * as 1-(1-p)^tables for per-table collision probability p, at
    * `tables`× the candidate-generation cost — still (id, bucket)
    * postings, never vector pairs: the bucket self-join moves skinny
    * (table, bucket, id) rows and the exact-cosine verify joins unit
    * vectors back BY ID only for surviving candidates (the
    * posting-list discipline; the single-table path can afford to
    * carry vectors through its one join, this one cannot).
    *
    * The engine's recall gate (`similarity_recall`) measures both
    * variants side by side — the multi-table path exists because the
    * gate showed the single-table recall floor.
    *
    * Pair dedup (r14): a near-identical pair collides in MANY tables,
    * so the bucket join regenerates it up to `tables` times and the
    * composed plan paid a pair-grain `distinct` exchange — the single
    * largest exchange in the whole operator on a near-dup-heavy
    * corpus. Now each posting carries its id's full array of `tables`
    * bucket CODES (ints — bijective with the bit-strings for bits <=
    * 31, a tables-sized array, not pair-grain state) and a pair
    * generated in table t survives only when t is its FIRST colliding
    * table (`graft_first_collision`, codegen'd) — unique by
    * construction, dedup runs map-side inside the join stage, and the
    * pair-grain exchange disappears from the plan. `firstCollision =
    * false` keeps the joined+distinct form as the equality twin
    * (SimilaritySpec).
    */
  def nearDupPairsMulti(df: DataFrame, idCol: String, vecCol: String,
      bits: Int, tables: Int, minCosine: Double, dim: Int = -1,
      firstCollision: Boolean = true): DataFrame = {
    require(tables >= 1, "need at least one hash table")
    val d = resolveDim(df, vecCol, dim)
    val spark = df.sparkSession
    import spark.implicits._
    val e = Vectors.unitized(df, vecCol, idCol -> idCol)
      .withColumnRenamed("_uv", "_u")
    // Hyperplanes as broadcast ROWS (one native dot per (vector,
    // plane)), not as per-plane literal expression trees: tables ×
    // bits inlined [[signature]] columns blow the signature stage out
    // of whole-stage codegen — measured 4.5× slower than this
    // data-driven form at 12 × 6 (round 9, graft.Bench `dedup_embedding_lsh_multi`). The
    // groupBy collapses map-side (each vector's plane rows are
    // partition-local under the cross join, so partial aggregation
    // finishes before the exchange) — the shuffle moves exactly the
    // (id, table, bucket) postings the bucket join needs anyway.
    // `_w` = 2^(bits-1-p): the plane's bit weight in the bucket CODE,
    // carried on the broadcast row so the first-collision path can sum
    // codes directly (below) instead of building bit-strings.
    val planes = (for {
      t <- 0 until tables
      (p, i) <- hyperplanes(bits, d, 42L + t).zipWithIndex
    } yield (t, i, 1L << (bits - 1 - i), p)).toDF("_t", "_p", "_w", "_plane")
    def planeRows = e.select(col(idCol), col("_u"))
      .crossJoin(broadcast(planes))
    // bit-string buckets — the equality-twin/spec form (and any
    // bits > 31 caller): per (id, table), collect the bits in plane
    // order and concatenate
    def sig = planeRows
      .withColumn("_bit",
        when(round(Vectors.dot(col("_u"), col("_plane")), 9) >= 0, lit("1"))
          .otherwise(lit("0")))
      .groupBy(col(idCol), col("_t"))
      .agg(concat_ws("", transform(
        sort_array(collect_list(struct(col("_p"), col("_bit")))),
        s => s.getField("_bit"))).as("_bucket"))
    val va = e.select(col(idCol).as("id_a"), col("_u").as("_ua"))
    val vb = e.select(col(idCol).as("id_b"), col("_u").as("_ub"))
    if (firstCollision) {
      // per-id bucket-code vector: one more (tiny) aggregation from
      // the (id, table) grain down to the id grain — 1/tables the
      // rows, a tables-length int array each. conv(bits, 2, 10) is
      // bijective for bits <= 31, so code equality IS bucket equality
      // — and ONLY then: past 31 bits the int cast would overflow and
      // silently alias buckets, so the bound is enforced loudly.
      require(bits <= 31, s"first-collision dedup packs bucket bit-strings " +
        s"into ints and is exact only for bits <= 31 (got $bits); " +
        "call with firstCollision = false for wider buckets")
      // Bucket CODES summed directly from the plane rows (r21): the
      // bit at (0-based) plane position p contributes 2^(bits-1-p), so
      // sum(_w · [dot >= 0]) IS conv(bit-string, 2, 10) — the former
      // string build (collect_list(struct) + sort_array + concat_ws,
      // then a per-row base-2 string parse) fed three non-codegen-
      // friendly steps into the hottest aggregation in the operator
      // and shipped bit-strings through the (id, t) exchange where an
      // 8-byte sum rides it now (the PPJoin hash-key discipline,
      // VERDICT r20 #6). Measured (graft.Bench `dedup_embedding_lsh`, alternating reps,
      // exceptAll-equality cross-checked both ways before timing):
      // codes stage 0.58 → 0.43 s at sf0.1, 1.11 → 0.63 s at a 30×
      // corpus; the downstream stages are untouched.
      //
      // checkpointed: the codes frame feeds the pre-flight estimate
      // AND both self-join sides (different projections of one frame —
      // exchange reuse alone would re-sign the corpus once per side)
      val codes = planeRows
        .groupBy(col(idCol), col("_t"))
        .agg(sum(when(
          round(Vectors.dot(col("_u"), col("_plane")), 9) >= 0, col("_w"))
          .otherwise(lit(0L))).cast("int").as("_code"))
        .groupBy(col(idCol))
        .agg(transform(sort_array(collect_list(struct(col("_t"), col("_code")))),
          s => s.getField("_code")).as("_codes"))
        .localCheckpoint()
      val posts = codes.select(col(idCol),
        posexplode(col("_codes")).as(Seq("_t", "_code")), col("_codes"))
      // PRE-FLIGHT (r15 verdict #4): the verify volume is knowable
      // BEFORE any join runs — Σ over (table, bucket) of sz·(sz−1)/2,
      // one tiny aggregation over the checkpointed postings. A
      // pathological corpus (m² near-identical vectors) used to
      // DISCOVER its ~2B candidate pairs by sorting them through the
      // by-id verify join until the scratch disk died hours in. The
      // estimate now picks the verify PLAN by regime:
      //
      //  - within budget: the posting-list verify (skinny candidate
      //    pairs join unit vectors back BY ID) — optimal when the pair
      //    stream is a small multiple of the corpus, and the 10×-curve
      //    shape r14 measured.
      //  - over budget: the IN-JOIN verify — postings carry their unit
      //    vectors, and first-collision + exact cosine run INSIDE the
      //    candidate join stage, so the pair stream exists only as an
      //    iterator through the filters. The exchanges are corpus-
      //    sized (postings × vector), never pair-grain: a 2B-pair
      //    workload becomes bounded CPU, not a 266 GB sort. (A chunked
      //    by-id verify was tried first and still died: each chunk's
      //    surviving join leg sorts candidate×vector rows — bounding
      //    the count doesn't shrink the 500-byte pair rows.)
      //  - past `maxVerifyPairs × failCapChunks` (absurd volume, e.g.
      //    a degenerate all-one-bucket signature): fail in seconds
      //    with the estimate and the knobs in the message.
      // budget denominated in ESTIMATED CANDIDATES: the by-id verify's
      // scratch footprint is its wide join leg — surviving unique
      // pairs × (ids + unit vector) ≈ 0.5 KB each at 64 dims — so the
      // default keeps that leg in the tens of GB; size to deployment
      // scratch. (Measured boundary on this host: 42M candidates ran
      // by-id in seconds, 380M died mid-sort with 78 GB of scratch.)
      val est = estimatePairs(posts)
      val maxPairs = spark.conf
        .get("spark.graft.slsh.maxVerifyPairs", "100000000").toLong
      val failCap = maxPairs * spark.conf
        .get("spark.graft.slsh.failCapChunks", "64").toLong
      require(est <= failCap,
        s"sign-LSH verify pre-flight estimates $est candidate pairs, " +
          s"past the hard cap $failCap (spark.graft.slsh.maxVerifyPairs " +
          s"× spark.graft.slsh.failCapChunks); raise the caps, raise " +
          "bits, or reduce tables — refusing a verify that large")
      if (est <= maxPairs) {
        val a = posts.select(col("_t"), col("_code"),
          col(idCol).as("id_a"), col("_codes").as("_ca"))
        val b = posts.select(col("_t"), col("_code"),
          col(idCol).as("id_b"), col("_codes").as("_cb"))
        // the first-collision filter runs INSIDE the join's codegen
        // stage: regenerated copies of a pair (tables t > first) die
        // map-side, nothing pair-grain ever shuffles again
        a.join(b, Seq("_t", "_code"))
          .filter(col("id_a") < col("id_b"))
          .filter(column(FirstCollision(expression(col("_ca")),
            expression(col("_cb")))) === col("_t"))
          .select("id_a", "id_b")
          .join(va, "id_a")
          .join(vb, "id_b")
          .withColumn("cosine", round(Vectors.dot(col("_ua"), col("_ub")), 4))
          .filter(col("cosine") >= minCosine)
          .select(col("id_a"), col("id_b"), col("cosine"))
      } else {
        val vecs = e.select(col(idCol), col("_u"))
        val aV = posts.join(vecs, Seq(idCol)).select(col("_t"), col("_code"),
          col(idCol).as("id_a"), col("_codes").as("_ca"), col("_u").as("_ua"))
        val bV = posts.join(vecs, Seq(idCol)).select(col("_t"), col("_code"),
          col(idCol).as("id_b"), col("_codes").as("_cb"), col("_u").as("_ub"))
        aV.join(bV, Seq("_t", "_code"))
          .filter(col("id_a") < col("id_b"))
          .filter(column(FirstCollision(expression(col("_ca")),
            expression(col("_cb")))) === col("_t"))
          .withColumn("cosine", round(Vectors.dot(col("_ua"), col("_ub")), 4))
          .filter(col("cosine") >= minCosine)
          .select(col("id_a"), col("id_b"), col("cosine"))
      }
    } else {
      val s = sig // one plan instance so the self-join reuses the exchange
      val a = s.select(col("_t"), col("_bucket"), col(idCol).as("id_a"))
      val b = s.select(col("_t"), col("_bucket"), col(idCol).as("id_b"))
      a.join(b, Seq("_t", "_bucket"))
        .filter(col("id_a") < col("id_b"))
        .select("id_a", "id_b").distinct()
        .join(va, "id_a").join(vb, "id_b")
        .withColumn("cosine", round(Vectors.dot(col("_ua"), col("_ub")), 4))
        .filter(col("cosine") >= minCosine)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
  }

  /** Candidate-pair volume of a bucket self-join, from the postings'
    * bucket-size histogram: Σ over (table, bucket) of sz·(sz−1)/2 —
    * exactly the `id_a < id_b` join output BEFORE first-collision
    * dedup, which is the volume the verify stage must bound. One
    * aggregation over (id, table, bucket) postings; never pair-grain.
    */
  private[graft] def estimatePairs(posts: DataFrame): Long = {
    val r = posts.groupBy(col("_t"), col("_code"))
      .agg(count(lit(1)).as("_n"))
      .agg(sum(col("_n") * (col("_n") - lit(1L)) / lit(2.0)).as("_pairs"))
      .head()
    if (r.isNullAt(0)) 0L else r.getDouble(0).toLong
  }

  /** The hyperplanes as DuckDB array literals (oracle parity). */
  def planesSql(planes: Seq[Seq[Double]]): Seq[String] =
    planes.map(_.mkString("[", ",", "]::DOUBLE[]"))
}
