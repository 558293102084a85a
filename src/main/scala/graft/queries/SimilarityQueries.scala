package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ext.{Dedup, KMeans, Pq, Sampling, SignLsh, Similarity}
import graft.functions.Vectors

/** Similarity-search surface over the `embeddings` table: brute-force
  * cosine top-k (exact baseline, oracle-checked), IVF-style probe
  * search (scale path, approximate — checked by a recall test against
  * brute force, see SimilaritySpec), and embedding-cosine near-dup
  * pairs.
  */
object SimilarityQueries {

  type Q = (SparkSession, String) => DataFrame

  /** Exact cosine top-3 for the first 100 vectors against the whole
    * corpus. Query set broadcasts; corpus streams through the probe.
    */
  def similarityTopk(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 100)
    Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id", "embedding", k = 3)
      .orderBy("q_id", "rank")
  }

  /** IVF probe search — approximate by design but DETERMINISTIC
    * (rounded centroids + 9-decimal rank rounding + id tie-breaks), so
    * the full probe pipeline is exactly oracle-checked in SQL, on top
    * of the recall spec vs brute force.
    */
  def similarityIvf(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 100)
    Similarity.ivfTopK(queries, emb, "vec_id", "vec_id", "embedding",
        blockCol = "label", k = 3, nprobe = 3)
      .orderBy("q_id", "rank")
  }

  /** The production IVF lifecycle: centroids trained ONCE, persisted
    * as a parquet table, probes read the persisted index as pure
    * plans (zero re-training — IvfIndexSpec pins it). Identical
    * results to the one-shot `similarity_ivf`, which is exactly what
    * the shared oracle asserts.
    */
  def similarityIvfProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // the centroid index is immutable per corpus version: built once
    // under a signature-keyed dir ([[graft.operators.Persisted]] —
    // the join_bucketed contract), re-ATTACHED by every later call
    // and process. The recurring cost is the probe, which is the
    // production lifecycle this query exists to measure.
    val root = graft.operators.Persisted.ensure(spark, "graft-ivfindex",
      graft.operators.Persisted.signature(spark, Seq("ivf", "label", "plain"),
        Seq(s"$dir/embeddings.parquet"))) { staging =>
      Similarity.trainCentroids(emb, "embedding", "label")
        .write.parquet(s"$staging/centroids")
    }
    Similarity.ivfProbe(emb.filter(col("vec_id") < 100), emb, "vec_id",
        "vec_id", "embedding", "label",
        Tables.parquet(spark, s"$root/centroids"), k = 3, nprobe = 3)
      .orderBy("q_id", "rank")
  }

  /** Multi-table sign-LSH near-dup pairs ([[slshMultiTables]] tables ×
    * [[slshMultiBits]] bits) — the recall lever the
    * `similarity_recall` gate motivated: the single-table variant
    * misses any pair split across buckets; independent tables recover
    * most of them at `tables`× candidate cost, posting-discipline
    * preserved.
    */
  def dedupEmbeddingLshMulti(spark: SparkSession, dir: String): DataFrame =
    SignLsh.nearDupPairsMulti(Tables.embeddings(spark, dir), "vec_id",
        "embedding", bits = slshMultiBits, tables = slshMultiTables,
        minCosine = 0.25, dim = embDim)
      .orderBy("id_a", "id_b")

  /** Embedding near-duplicate pairs within each label block. */
  def dedupEmbeddingCosine(spark: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDups(Tables.embeddings(spark, dir), "vec_id", "embedding",
        blockCol = "label", minCosine = 0.3)
      // sort-sampling rule: the contract sort must not re-run the
      // quadratic pair kernel (graft.Bench `dedup_embedding_cosine` A/B)
      .localCheckpoint()
      .orderBy("label", "id_a", "id_b")

  /** Unblocked near-dup via sign-random-projection LSH buckets —
    * single table at [[slshBits]] bits. One table cannot match the
    * multi-table recall ([[dedupEmbeddingLshMulti]] supersedes it for
    * production dedup), but at 4 bits it certifies a USABLE bar: the
    * per-pair collision odds at cosine 0.25 are P(bit-agree)^4 ≈
    * 0.58^4 ≈ 0.11, vs the near-noise 0.58^8 ≈ 0.013 the old 8-bit
    * default measured — the `sign_lsh` recall floor is pinned at 0.08
    * accordingly. Cost moves the other way: 2^4 buckets make the
    * candidate set ~n²/16 verified dots, fine at bench scale and
    * still far under all-pairs; corpora that need both recall AND a
    * sparse candidate set use the multi-table operator.
    */
  def dedupEmbeddingLsh(spark: SparkSession, dir: String): DataFrame =
    SignLsh.nearDupPairs(Tables.embeddings(spark, dir), "vec_id", "embedding",
        bits = slshBits, minCosine = 0.25, dim = embDim)
      // sort-sampling rule: the contract sort must not re-run the
      // bucket-quadratic verify kernel
      .localCheckpoint()
      .orderBy("id_a", "id_b")

  /** Deterministic distributed k-means (2 Lloyd rounds from the
    * per-label init): assignment is broadcast-centroids × corpus scan,
    * update is a positional-mean aggregation — vectors never shuffle.
    * Fully oracle-gated thanks to rounded centroids/rankings.
    */
  def kmeansEmbeddings(spark: SparkSession, dir: String): DataFrame =
    KMeans.fit(Tables.embeddings(spark, dir), "vec_id", "embedding",
        initCol = "label", iters = 2)
      .orderBy("vec_id")

  /** Symmetric int8 quantization of the embedding column — the 4×
    * shrink applied before shipping vectors to an ANN serving tier.
    * Map-only; the quantized vector is emitted as a CSV string so the
    * gate hash-compares it byte-for-byte.
    */
  def embedQuantize(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Vectors
    val emb = Tables.embeddings(spark, dir)
    val scale = Vectors.quantScale(col("embedding"))
    emb.select(
        col("vec_id"),
        round(scale, 6).as("scale"),
        concat_ws(",", Vectors.quantize(col("embedding"), scale)).as("qvec"))
      // sort-sampling rule: the quantize kernel would run twice under
      // the global sort (30× A/B 2.43 → 1.47 s, graft.Bench `embed_quantize`)
      .localCheckpoint()
      .orderBy("vec_id")
  }

  /** SemDeDup over the embeddings table: k-means cells (same
    * deterministic trajectory as `kmeans_embeddings`) bound the
    * pairwise cosine pruning — corpus-wide quadratic work becomes
    * per-cluster. Every decision (cluster, dup_of, keep) is
    * oracle-checked.
    */
  def dedupSemantic(spark: SparkSession, dir: String): DataFrame =
    Dedup.semantic(Tables.embeddings(spark, dir), "vec_id", "embedding",
        initCol = "label", iters = 2, minCosine = 0.4)
      .orderBy("vec_id")

  /** Product-quantization ADC search — the second ANN scale path
    * beside IVF: corpus stored as [[pqM]] sub-codes, queries probe via
    * broadcast lookup tables ([[pqM]] lookups + adds per candidate
    * instead of a 64-dim dot). Approximate by design, deterministic by
    * construction, so exactly oracle-checked end to end.
    */
  def similarityPq(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    Pq.adcTopK(emb.filter(col("vec_id") < 100), pqCorpus(emb), "vec_id",
        "vec_id", "embedding", blockCol = "_pqcell", m = pqM, k = 3,
        dim = embDim, trainHex = pqTrainHex)
      .orderBy("q_id", "rank")
  }

  /** The production PQ lifecycle: train + encode ONCE, persist the
    * index as parquet tables under a [[graft.operators.Persisted]]
    * dir (immutable once marked), then answer queries by probing the
    * persisted copy. The probe plan is pure (broadcast LUTs + map-only ADC,
    * zero index-rebuild jobs — PqSpec pins it); results are identical
    * to the one-shot `similarity_pq` path, which is exactly what the
    * shared oracle asserts.
    */
  def similarityPqProbe(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // codebook + codes are immutable per corpus version — same
    // signature-keyed build-once lifecycle as the IVF index above;
    // the probe (broadcast LUTs + map-only ADC over the persisted
    // codes) is the recurring cost
    val root = graft.operators.Persisted.ensure(spark, "graft-pqindex",
      graft.operators.Persisted.signature(spark,
        Seq("pq", pqM.toString, embDim.toString, pqTrainHex, "plain"),
        Seq(s"$dir/embeddings.parquet"))) { staging =>
      val codebook = Pq.trainCodebook(
        Sampling.sample(pqCorpus(emb), col("vec_id"), lit(pqTrainHex)),
        "embedding", "_pqcell", pqM, embDim)
      codebook.write.parquet(s"$staging/codebook")
      Pq.encode(emb, "vec_id", "embedding",
          Tables.parquet(spark, s"$staging/codebook"), pqM, embDim)
        .write.parquet(s"$staging/codes")
    }
    val cb = Tables.parquet(spark, s"$root/codebook")
    Pq.adcProbe(emb.filter(col("vec_id") < 100), "vec_id", "embedding",
        cb, Tables.parquet(spark, s"$root/codes"), pqM, embDim, k = 3)
      .orderBy("q_id", "rank")
  }

  /** Recall gate for every approximate ANN operator — the one
    * first-class property of approximate search that determinism
    * checks cannot see: IVF and PQ-ADC recall@10 against the exact
    * [[Similarity.bruteForceTopK]] ranking, and sign-LSH pair recall
    * against the exact threshold pair set, on the same query set
    * (vec_id < 100). Hit counting is exact set intersection, so the
    * whole diagnostic is SQL-replayable; SimilaritySpec additionally
    * pins per-method floors so a silent quality collapse fails the
    * build even before the oracle run.
    */
  def similarityRecall(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val queries = emb.filter(col("vec_id") < 100)
    val k = 10
    val bf = Similarity.bruteForceTopK(queries, emb, "vec_id", "vec_id",
        "embedding", k)
      .select("q_id", "neighbor_id")
    val ivf = Similarity.ivfTopK(queries, emb, "vec_id", "vec_id",
        "embedding", blockCol = "label", k = k, nprobe = 3)
      .select("q_id", "neighbor_id")
    val pq = Pq.adcTopK(queries, pqCorpus(emb), "vec_id", "vec_id",
        "embedding", blockCol = "_pqcell", m = pqM, k = k, dim = embDim,
        trainHex = pqTrainHex)
      .select("q_id", "neighbor_id")
    // sign-LSH emits undirected pairs; orient them around the query
    // side so recall is measured against the exact directed pair set
    val lsh = SignLsh.nearDupPairs(emb, "vec_id", "embedding",
      bits = slshBits, minCosine = 0.25, dim = embDim)
    val lshq = lsh.filter(col("id_a") < 100)
        .select(col("id_a").as("q_id"), col("id_b").as("neighbor_id"))
      .unionByName(lsh.filter(col("id_b") < 100)
        .select(col("id_b").as("q_id"), col("id_a").as("neighbor_id")))
    val lshM = SignLsh.nearDupPairsMulti(emb, "vec_id", "embedding",
      bits = slshMultiBits, tables = slshMultiTables, minCosine = 0.25,
      dim = embDim)
    val lshMq = lshM.filter(col("id_a") < 100)
        .select(col("id_a").as("q_id"), col("id_b").as("neighbor_id"))
      .unionByName(lshM.filter(col("id_b") < 100)
        .select(col("id_b").as("q_id"), col("id_a").as("neighbor_id")))
    val qu = Vectors.unitized(queries, "embedding", "vec_id" -> "q_id")
      .withColumnRenamed("_uv", "_qu")
    val cu = Vectors.unitized(emb, "embedding", "vec_id" -> "neighbor_id")
      .withColumnRenamed("_uv", "_cu")
    val exactPairs = cu.join(broadcast(qu), col("q_id") =!= col("neighbor_id"))
      .filter(round(Vectors.dot(col("_qu"), col("_cu")), 4) >= 0.25)
      .select("q_id", "neighbor_id")
    def stat(method: String, approx: DataFrame, base: DataFrame): DataFrame =
      base.join(approx.withColumn("_hit", lit(1)),
          Seq("q_id", "neighbor_id"), "left")
        .agg(count(lit(1)).as("n_exact"), count(col("_hit")).as("n_hit"))
        .select(lit(method).as("method"), col("n_exact"), col("n_hit"),
          round(col("n_hit").cast("double") / col("n_exact"), 6).as("recall"))
    stat("ivf", ivf, bf)
      .unionByName(stat("pq", pq, bf))
      .unionByName(stat("sign_lsh", lshq, exactPairs))
      .unionByName(stat("sign_lsh_multi", lshMq, exactPairs))
      .orderBy("method")
  }

  /** 32 subspaces × 2 dims, codebooks trained on 40 cells (the 10
    * labels deterministically split 4 ways — [[pqCorpus]]), on the
    * [[pqTrainHex]] hash-sample of the corpus. Tuned where the bench
    * runs (TunePq/TunePqSample sf0.1 sweeps): recall@10
    * vs brute force is 0.17 at the old 16 × 10-cell defaults, 0.416 at
    * sampled 32 × 40 (0.624 at sf0.001). Finer subspaces quantize less
    * away per slice; more codewords cut within-cell variance — both
    * stay fully deterministic (rounded means, id tie-breaks), so the
    * whole pipeline remains exactly oracle-replayable. Index cost: 32
    * byte-codes/vector = 8× smaller than the raw float32 vector; LUTs
    * are 32 × 40 doubles per query, still broadcast-tiny.
    */
  private val pqM = 32

  /** Deterministic 4-way refinement of the label cells used as PQ
    * training blocks: cell = label × 4 + (vec_id mod 4). Any stable
    * row attribute works — the split only diversifies the codeword
    * pool (encoding always searches ALL codewords per subspace);
    * vec_id mod is SQL-replayable and skew-free by construction.
    */
  private val pqCellSplit = 4
  private def pqCorpus(emb: DataFrame): DataFrame =
    emb.withColumn("_pqcell",
      col("label") * pqCellSplit + pmod(col("vec_id"), lit(pqCellSplit)))

  /** Codebook-training hash-sample threshold (md5 buckets 00..32 ≈
    * 20% — the [[graft.ext.Sampling]] idiom, SQL-replayable so the
    * oracle samples identically). Codewords are per-cell MEANS, so a
    * uniform sample barely moves them — measured recall@10 actually
    * RISES (sf0.1 0.373 → 0.416, sf0.001 0.496 → 0.624 on the TunePq
    * sweep: less regression-to-the-mean spreads the codeword pool) —
    * while the training explode shrinks 5×. Encoding and probing
    * always cover the FULL corpus.
    */
  private val pqTrainHex = "32"

  /** Embedding dimensionality of the `embeddings` table (TESTDATA
    * contract; the oracles hardcode it too). Passing it saves the
    * 1-row dim-probe job inside the PQ build.
    */
  private val embDim = 64

  /** Multi-table sign-LSH defaults — the recall knob, tuned where the
    * bench runs (sf0.1 sweep, TuneSlsh): 8 bits × 4
    * tables certified only 0.06 recall at the 0.25-cosine floor;
    * 6 bits × 12 tables measures 0.42 (0.424 at sf0.001). Fewer bits
    * per table = denser buckets = higher per-table collision odds;
    * more tables OR-amplify them. The candidate set stays posting-
    * discipline bounded (18.6k candidate pairs vs 2M brute-force at
    * sf0.1). At larger corpora raise `bits` with log2(N) to hold
    * bucket occupancy, and `tables` with the recall target.
    */
  private val slshMultiBits = 6
  private val slshMultiTables = 12

  /** Single-table sign-LSH default (the banding BASELINE
    * [[dedupEmbeddingLshMulti]] supersedes): 4 bits, chosen so the
    * certified `sign_lsh` recall is a number a user could act on
    * (~0.11 by the collision arithmetic, floor pinned 0.08) instead
    * of the 8-bit default's 0.013 near-noise. See
    * [[dedupEmbeddingLsh]] for the cost trade.
    */
  private val slshBits = 4

  /** Embedding-space quality diagnostics per label — the health check
    * a training-data pipeline runs on its vector corpus: class sizes,
    * mean vector norm, centroid norm and mean cosine-to-centroid
    * (cluster cohesion). All summations are EXACT: components quantize
    * to integer micro-units once, centroids are exact integer
    * component sums, and every per-row double (norm, cosine) is
    * re-quantized before the class average — so no float sum ever
    * depends on shuffle order. Shape: one dim-bounded (label, pos)
    * explode shuffle for centroids, a co-partitioned join back, and a
    * label-sized broadcast — vectors never pair with each other.
    */
  def embeddingQuality(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> " +
          "CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT))").as("mv"))
    val ex = emb.select(col("vec_id"), col("label"),
      posexplode(col("mv")).as(Seq("pos", "v")))
    val cent = ex.groupBy(col("label"), col("pos")).agg(sum(col("v")).as("s"))
    val cn = cent.groupBy(col("label"))
      .agg(sum(col("s").cast("decimal(38,0)") * col("s"))
        .cast("double").as("ssd"))
    val perVec = ex.join(cent, Seq("label", "pos"))
      .groupBy(col("vec_id"), col("label"))
      .agg(sum(col("v") * col("s")).as("dot"),
        sum(col("v") * col("v")).as("n2v"))
    val rows = perVec.join(broadcast(cn), "label")
      .select(col("label"), col("ssd"),
        round(sqrt(col("n2v").cast("double"))).cast("long").as("norm_micro"),
        round(col("dot").cast("double") /
          (sqrt(col("n2v").cast("double")) * sqrt(col("ssd"))) * 1e6)
          .cast("long").as("cos_micro"))
    rows.groupBy(col("label"))
      .agg(count(lit(1)).as("n_vectors"),
        sum(col("norm_micro")).as("_sn"), sum(col("cos_micro")).as("_sc"),
        max(col("ssd")).as("_ssd"))
      .select(col("label"), col("n_vectors"),
        round(col("_sn").cast("double") / col("n_vectors") / 1e6, 6)
          .as("avg_norm"),
        round(sqrt(col("_ssd")) / col("n_vectors") / 1e6, 6)
          .as("centroid_norm"),
        round(col("_sc").cast("double") / col("n_vectors") / 1e6, 6)
          .as("cohesion"))
      .orderBy("label")
  }

  val defs: Map[String, Q] = Map(
    "similarity_recall" -> (similarityRecall _),
    "similarity_pq_probe" -> (similarityPqProbe _),
    "similarity_ivf_probe" -> (similarityIvfProbe _),
    "dedup_embedding_lsh_multi" -> (dedupEmbeddingLshMulti _),
    "embedding_quality" -> (embeddingQuality _),
    "similarity_pq" -> (similarityPq _),
    "dedup_semantic" -> (dedupSemantic _),
    "embed_quantize" -> (embedQuantize _),
    "kmeans_embeddings" -> (kmeansEmbeddings _),
    "similarity_topk" -> (similarityTopk _),
    "similarity_ivf" -> (similarityIvf _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_embedding_lsh" -> (dedupEmbeddingLsh _))

  private def lshOracle: String = {
    val cases = SignLsh.planesSql(SignLsh.hyperplanes(slshBits, 64)).map(p =>
      s"CASE WHEN round(list_dot_product(uv, $p), 9) >= 0 THEN '1' ELSE '0' END")
      .mkString(",\n    ")
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT vec_id,
       |  CASE WHEN sqrt(list_dot_product(v, v)) > 0
       |    THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |    ELSE v END AS uv FROM e),
       |sig AS (SELECT vec_id, uv, concat(
       |    $cases) AS bucket FROM u)
       |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       |  round(list_dot_product(a.uv, b.uv), 4) AS cosine
       |FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
       |WHERE round(list_dot_product(a.uv, b.uv), 4) >= 0.25
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Unrolled 2-round Lloyd trajectory as chained CTEs, ending at the
    * final assignment `a3` (the iteration templates mirror KMeans.fit
    * exactly: rounded centroids, 9-decimal rank, cluster tie-break).
    * Shared by the `kmeans_embeddings` and `dedup_semantic` oracles.
    */
  private def kmeansCtes: String = {
    def cents(src: String) =
      s"""SELECT cluster, list(m ORDER BY pos) AS centroid FROM (
         |    SELECT cluster, pos, round(avg(x), 4) AS m FROM (
         |      SELECT cluster, unnest(range(1, len(uv) + 1)) AS pos,
         |        unnest(uv) AS x FROM $src)
         |    GROUP BY cluster, pos)
         |  GROUP BY cluster""".stripMargin
    def assignFrom(centsCte: String) =
      s"""SELECT vec_id, uv, cluster,
         |    round(list_cosine_similarity(uv, centroid), 6) AS similarity
         |  FROM (
         |    SELECT u.vec_id, u.uv, c.cluster, c.centroid,
         |      row_number() OVER (PARTITION BY u.vec_id
         |        ORDER BY round(list_cosine_similarity(u.uv, c.centroid), 9) DESC,
         |          c.cluster ASC) AS rn
         |    FROM u CROSS JOIN $centsCte c) WHERE rn = 1""".stripMargin
    s"""WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
       |u AS (SELECT vec_id, label,
       |  CASE WHEN sqrt(list_dot_product(v, v)) > 0
       |    THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
       |    ELSE v END AS uv FROM e),
       |c0 AS (${cents("(SELECT label AS cluster, uv FROM u) s0")}),
       |a1 AS (${assignFrom("c0")}),
       |c1 AS (${cents("(SELECT cluster, uv FROM a1) s1")}),
       |a2 AS (${assignFrom("c1")}),
       |c2 AS (${cents("(SELECT cluster, uv FROM a2) s2")}),
       |a3 AS (${assignFrom("c2")})""".stripMargin
  }

  private def kmeansOracle: String =
    s"""$kmeansCtes
       |SELECT vec_id, cluster, similarity FROM a3 ORDER BY vec_id""".stripMargin

  /** Mirrors Dedup.semantic: within-cluster pairs on the SAME unit
    * vectors and 4-decimal dot rounding, dup_of = min lower id above
    * the threshold.
    */
  private def semanticOracle: String =
    s"""$kmeansCtes,
       |pairs AS (
       |  SELECT a.vec_id AS ia, b.vec_id AS ib
       |  FROM a3 a JOIN a3 b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
       |  WHERE round(list_dot_product(a.uv, b.uv), 4) >= 0.4),
       |dup AS (SELECT ib AS vec_id, min(ia) AS dup_of FROM pairs GROUP BY ib)
       |SELECT a3.vec_id, a3.cluster, dup.dup_of,
       |  CASE WHEN dup.dup_of IS NULL THEN CAST(1 AS BIGINT)
       |       ELSE CAST(0 AS BIGINT) END AS keep
       |FROM a3 LEFT JOIN dup ON a3.vec_id = dup.vec_id
       |ORDER BY a3.vec_id""".stripMargin

  /** Shared e/u CTEs: raw + unit-normalized embeddings (the one
    * normalization formulation every ANN oracle mirrors).
    */
  private val euCtes =
    """e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
      |u AS (SELECT vec_id, label,
      |  CASE WHEN sqrt(list_dot_product(v, v)) > 0
      |    THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
      |    ELSE v END AS uv FROM e)""".stripMargin

  /** PQ replay CTEs (codebook training, nearest-codeword encoding,
    * query LUTs, m-term ADC sums in fixed subspace order —
    * bit-reproducible float adds), ending in `pranked` with ALL ranks
    * so consumers pick their own k. Expects `e`/`u` in scope.
    */
  private def pqCtes: String = {
    val w = 64 / pqM
    // cds holds DENSE positional codes (row_number over cw, exactly
    // what Pq.trainCodebook assigns), and the LUT lists are ordered by
    // cw — so lt[s][code+1] is well-defined even if a training cell
    // were empty (no reliance on cell values being dense 0..n-1)
    val adcSum = (1 to pqM).map(s => s"lt[$s][cds[$s] + 1]")
      .mkString(" + ")
    s"""sub AS (SELECT vec_id, label,
       |    label * $pqCellSplit + vec_id % $pqCellSplit AS cell, s,
       |    list_slice(uv, s * $w + 1, s * $w + $w) AS sv
       |  FROM u CROSS JOIN (SELECT unnest(range(0, $pqM)) AS s) g),
       |cb AS (SELECT s, cell AS cw, pos, round(avg(x), 4) AS mv FROM (
       |    SELECT s, cell, unnest(range(1, len(sv) + 1)) AS pos,
       |      unnest(sv) AS x FROM sub
       |    WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) <= '$pqTrainHex')
       |  GROUP BY s, cell, pos),
       |cbl0 AS (SELECT s, cw, list(mv ORDER BY pos) AS cwv FROM cb GROUP BY s, cw),
       |cbl AS (SELECT s, cw, cwv,
       |    row_number() OVER (PARTITION BY s ORDER BY cw) - 1 AS code
       |  FROM cbl0),
       |enc AS (SELECT vec_id, s, code FROM (
       |    SELECT c.vec_id, c.s, b.code,
       |      row_number() OVER (PARTITION BY c.vec_id, c.s
       |        ORDER BY round(list_dot_product(c.sv, c.sv)
       |          - 2 * list_dot_product(c.sv, b.cwv)
       |          + list_dot_product(b.cwv, b.cwv), 9) ASC, b.cw ASC) AS rn
       |    FROM sub c JOIN cbl b ON b.s = c.s) WHERE rn = 1),
       |codes AS (SELECT vec_id, list(code ORDER BY s) AS cds FROM enc GROUP BY vec_id),
       |lut0 AS (SELECT q.vec_id AS q_id, q.s, b.cw,
       |    list_dot_product(q.sv, b.cwv) AS dp
       |  FROM sub q JOIN cbl b ON b.s = q.s WHERE q.vec_id < 100),
       |lut1 AS (SELECT q_id, s, list(dp ORDER BY cw) AS l FROM lut0 GROUP BY q_id, s),
       |ql AS (SELECT q_id, list(l ORDER BY s) AS lt FROM lut1 GROUP BY q_id),
       |pscored AS (SELECT ql.q_id, c.vec_id AS c_id,
       |    $adcSum AS adc
       |  FROM codes c CROSS JOIN ql WHERE c.vec_id <> ql.q_id),
       |pranked AS (SELECT q_id, c_id, adc, CAST(row_number() OVER (
       |    PARTITION BY q_id ORDER BY round(adc, 9) DESC, c_id ASC) AS BIGINT)
       |    AS rank
       |  FROM pscored)""".stripMargin
  }

  /** Full PQ replay at k=3 (shared by `similarity_pq` and the
    * persisted-index `similarity_pq_probe`, whose results are
    * identical by construction).
    */
  private def pqOracle: String =
    s"""WITH $euCtes,
       |$pqCtes
       |SELECT q_id, rank, c_id AS neighbor_id, round(adc, 6) AS adc_cosine
       |FROM pranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  /** The per-plane sign CASEs of one LSH table, as DuckDB SQL. */
  private def lshCases(seed: Long, bits: Int = slshBits): String =
    SignLsh.planesSql(SignLsh.hyperplanes(bits, 64, seed)).map(p =>
      s"CASE WHEN round(list_dot_product(uv, $p), 9) >= 0 THEN '1' ELSE '0' END")
      .mkString(",\n    ")

  /** Multi-table signature CTE `sgm` ([[slshMultiTables]] tables,
    * seeds 42, 43, … — the same seed schedule
    * [[graft.ext.SignLsh.nearDupPairsMulti]] uses).
    */
  private def lshMultiSig: String =
    (0 until slshMultiTables).map(t =>
      s"""SELECT vec_id, uv, $t AS t, concat(
         |    ${lshCases(42L + t, slshMultiBits)}) AS bucket FROM u""".stripMargin)
      .mkString("sgm AS (\n", "\n  UNION ALL ", ")")

  /** Replays all three approximate rankings AND the exact baselines,
    * then counts set intersections — recall is exact integer math, so
    * an approximate operator is gated on answer QUALITY, not just
    * determinism. bf mirrors bruteForceTopK exactly (unit vectors +
    * list_dot_product, the bit-identical formulation).
    */
  private def recallOracle: String = {
    val cases = lshCases(42L)
    s"""WITH $euCtes,
       |q AS (SELECT vec_id AS q_id, uv AS qv FROM u WHERE vec_id < 100),
       |bf AS (SELECT q_id, c_id FROM (
       |    SELECT q.q_id, u.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY q.q_id
       |        ORDER BY round(list_dot_product(q.qv, u.uv), 9) DESC,
       |          u.vec_id ASC) AS rn
       |    FROM q JOIN u ON u.vec_id <> q.q_id) WHERE rn <= 10),
       |icomp AS (SELECT label, pos, round(avg(x), 4) AS m FROM (
       |    SELECT label, unnest(range(1, len(uv) + 1)) AS pos,
       |      unnest(uv) AS x FROM u)
       |  GROUP BY label, pos),
       |icent AS (SELECT label, list(m ORDER BY pos) AS centroid
       |  FROM icomp GROUP BY label),
       |iprobes AS (SELECT q_id, qv, label FROM (
       |    SELECT q_id, qv, c.label,
       |      row_number() OVER (PARTITION BY q_id
       |        ORDER BY round(list_cosine_similarity(qv, c.centroid), 9) DESC,
       |          c.label ASC) AS pr
       |    FROM q CROSS JOIN icent c) WHERE pr <= 3),
       |ivf AS (SELECT q_id, c_id FROM (
       |    SELECT p.q_id, u.vec_id AS c_id,
       |      row_number() OVER (PARTITION BY p.q_id
       |        ORDER BY round(list_dot_product(p.qv, u.uv), 9) DESC,
       |          u.vec_id ASC) AS rn
       |    FROM iprobes p JOIN u ON u.label = p.label AND u.vec_id <> p.q_id)
       |  WHERE rn <= 10),
       |$pqCtes,
       |pqs AS (SELECT q_id, c_id FROM pranked WHERE rank <= 10),
       |sig AS (SELECT vec_id, uv, concat(
       |    $cases) AS bucket FROM u),
       |lshp AS (SELECT a.vec_id AS q_id, b.vec_id AS c_id
       |  FROM sig a JOIN sig b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 100
       |    AND round(list_dot_product(a.uv, b.uv), 4) >= 0.25),
       |exactp AS (SELECT q.q_id, u.vec_id AS c_id
       |  FROM q JOIN u ON u.vec_id <> q.q_id
       |  WHERE round(list_dot_product(q.qv, u.uv), 4) >= 0.25),
       |$lshMultiSig,
       |lshmp AS (SELECT DISTINCT a.vec_id AS q_id, b.vec_id AS c_id
       |  FROM sgm a JOIN sgm b ON a.t = b.t AND a.bucket = b.bucket
       |    AND a.vec_id <> b.vec_id
       |  WHERE a.vec_id < 100
       |    AND round(list_dot_product(a.uv, b.uv), 4) >= 0.25),
       |r AS (
       |  SELECT 'ivf' AS method, (SELECT count(*) FROM bf) AS n_exact,
       |    (SELECT count(*) FROM ivf i JOIN bf b
       |      ON i.q_id = b.q_id AND i.c_id = b.c_id) AS n_hit
       |  UNION ALL SELECT 'pq', (SELECT count(*) FROM bf),
       |    (SELECT count(*) FROM pqs p JOIN bf b
       |      ON p.q_id = b.q_id AND p.c_id = b.c_id)
       |  UNION ALL SELECT 'sign_lsh', (SELECT count(*) FROM exactp),
       |    (SELECT count(*) FROM lshp l JOIN exactp x
       |      ON l.q_id = x.q_id AND l.c_id = x.c_id)
       |  UNION ALL SELECT 'sign_lsh_multi', (SELECT count(*) FROM exactp),
       |    (SELECT count(*) FROM lshmp l JOIN exactp x
       |      ON l.q_id = x.q_id AND l.c_id = x.c_id))
       |SELECT method, n_exact, n_hit,
       |  round(CAST(n_hit AS DOUBLE) / n_exact, 6) AS recall
       |FROM r ORDER BY method""".stripMargin
  }

  /** Replays the multi-table signature union, candidate dedup, and exact
    * cosine verify of `nearDupPairsMulti`.
    */
  private def lshMultiOracle: String =
    s"""WITH $euCtes,
       |$lshMultiSig,
       |cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM sgm a JOIN sgm b ON a.t = b.t AND a.bucket = b.bucket
       |    AND a.vec_id < b.vec_id)
       |SELECT c.id_a, c.id_b,
       |  round(list_dot_product(va.uv, vb.uv), 4) AS cosine
       |FROM cand c JOIN u va ON va.vec_id = c.id_a
       |  JOIN u vb ON vb.vec_id = c.id_b
       |WHERE round(list_dot_product(va.uv, vb.uv), 4) >= 0.25
       |ORDER BY id_a, id_b""".stripMargin

  /** IVF replay (shared by the one-shot `similarity_ivf` and the
    * persisted-index `similarity_ivf_probe`, identical by
    * construction).
    */
  private val ivfOracle: String =
    """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |u AS (SELECT vec_id, label,
        |  CASE WHEN sqrt(list_dot_product(v, v)) > 0
        |    THEN list_transform(v, x -> x / sqrt(list_dot_product(v, v)))
        |    ELSE v END AS uv FROM e),
        |comp AS (SELECT label, pos, round(avg(x), 4) AS m FROM (
        |    SELECT label, unnest(range(1, len(uv) + 1)) AS pos,
        |      unnest(uv) AS x FROM u)
        |  GROUP BY label, pos),
        |cent AS (SELECT label, list(m ORDER BY pos) AS centroid
        |  FROM comp GROUP BY label),
        |q AS (SELECT vec_id AS q_id, uv AS qv FROM u WHERE vec_id < 100),
        |probes AS (SELECT q_id, qv, label FROM (
        |    SELECT q_id, qv, c.label,
        |      row_number() OVER (PARTITION BY q_id
        |        ORDER BY round(list_cosine_similarity(qv, c.centroid), 9) DESC,
        |          c.label ASC) AS pr
        |    FROM q CROSS JOIN cent c) WHERE pr <= 3),
        |scored AS (SELECT p.q_id, u.vec_id AS c_id,
        |    list_dot_product(p.qv, u.uv) AS cos
        |  FROM probes p JOIN u ON u.label = p.label AND u.vec_id <> p.q_id),
        |ranked AS (SELECT q_id, c_id, cos,
        |    CAST(row_number() OVER (PARTITION BY q_id
        |      ORDER BY round(cos, 9) DESC, c_id ASC) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT q_id, rank, c_id AS neighbor_id, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin

  def oracles: Map[String, String] = Map(
    "similarity_recall" -> recallOracle,
    "similarity_pq_probe" -> pqOracle,
    "dedup_embedding_lsh_multi" -> lshMultiOracle,
    // Mirrors embeddingQuality: identical micro-quantization, exact
    // integer centroid sums, per-row re-quantization before averages.
    "embedding_quality" ->
      """WITH m AS (SELECT vec_id, label,
        |    list_transform(embedding, x ->
        |      CAST(round(CAST(x AS DOUBLE) * 1000000) AS BIGINT)) AS mv
        |  FROM embeddings),
        |ex0 AS (SELECT vec_id, label,
        |    unnest(list_transform(generate_series(1, len(mv)),
        |      i -> {'pos': i, 'v': mv[i]})) AS u
        |  FROM m),
        |ex AS (SELECT vec_id, label, u.pos AS pos, u.v AS v FROM ex0),
        |cent AS (SELECT label, pos, CAST(sum(v) AS BIGINT) AS s
        |  FROM ex GROUP BY 1, 2),
        |cn AS (SELECT label,
        |    CAST(sum(CAST(s AS HUGEINT) * s) AS DOUBLE) AS ssd
        |  FROM cent GROUP BY 1),
        |pv AS (SELECT vec_id, ex.label,
        |    CAST(sum(ex.v * cent.s) AS BIGINT) AS dot,
        |    CAST(sum(ex.v * ex.v) AS BIGINT) AS n2v
        |  FROM ex JOIN cent ON ex.label = cent.label AND ex.pos = cent.pos
        |  GROUP BY 1, 2),
        |r AS (SELECT pv.label, cn.ssd,
        |    CAST(round(sqrt(CAST(n2v AS DOUBLE))) AS BIGINT) AS norm_micro,
        |    CAST(round(CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(n2v AS DOUBLE)) * sqrt(cn.ssd)) * 1e6) AS BIGINT)
        |      AS cos_micro
        |  FROM pv JOIN cn ON pv.label = cn.label)
        |SELECT label, count(*) AS n_vectors,
        |  round(CAST(sum(norm_micro) AS DOUBLE) / count(*) / 1e6, 6)
        |    AS avg_norm,
        |  round(sqrt(max(ssd)) / count(*) / 1e6, 6) AS centroid_norm,
        |  round(CAST(sum(cos_micro) AS DOUBLE) / count(*) / 1e6, 6)
        |    AS cohesion
        |FROM r GROUP BY 1 ORDER BY label""".stripMargin,
    "similarity_pq" -> pqOracle,
    "dedup_semantic" -> semanticOracle,
    "embed_quantize" ->
      """WITH s AS (SELECT vec_id, embedding AS v,
        |  -- zero-vector passthrough mirrors Vectors.quantScale
        |  CASE WHEN list_max(list_transform(embedding, x -> abs(x))) > 0
        |    THEN 127.0::DOUBLE
        |      / list_max(list_transform(embedding, x -> abs(x)))
        |    ELSE 1.0::DOUBLE END AS scale
        |  FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  array_to_string(list_transform(v,
        |    x -> CAST(round(x * scale) AS INTEGER)), ',') AS qvec
        |FROM s ORDER BY vec_id""".stripMargin,
    "kmeans_embeddings" -> kmeansOracle,
    "dedup_embedding_lsh" -> lshOracle,
    "similarity_ivf" -> ivfOracle,
    "similarity_ivf_probe" -> ivfOracle,
    "similarity_topk" ->
      // unitize-then-dot, NOT list_cosine_similarity on raw vectors:
      // the engine computes dot(unit(q), unit(c)) and ranks on
      // round(cos, 9) — the one-division cosine differs by ulps, and a
      // score near a 0.5e-9 boundary could round differently and flip
      // neighbor order (the recallOracle discipline, same e/u CTEs)
      s"""WITH $euCtes,
        |q AS (SELECT vec_id AS q_id, uv AS qv FROM u WHERE vec_id < 100),
        |scored AS (
        |  SELECT q_id, u.vec_id AS c_id,
        |    list_dot_product(qv, u.uv) AS cos
        |  FROM q JOIN u ON u.vec_id <> q_id),
        |ranked AS (
        |  SELECT q_id, c_id, cos, CAST(row_number() OVER (
        |    PARTITION BY q_id ORDER BY round(cos, 9) DESC, c_id ASC) AS BIGINT)
        |    AS rank
        |  FROM scored)
        |SELECT q_id, rank, c_id AS neighbor_id, round(cos, 6) AS cosine
        |FROM ranked WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin,
    "dedup_embedding_cosine" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings)
        |SELECT a.label, a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(list_cosine_similarity(a.v, b.v), 4) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE round(list_cosine_similarity(a.v, b.v), 4) >= 0.3
        |ORDER BY a.label, id_a, id_b""".stripMargin)
}
