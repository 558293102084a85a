package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Vectors

/** Approximate-nearest-neighbor search over an embedding column.
  *
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query
  *    set against the corpus, rank per query. Corpus-side work is a
  *    single scan; at 100 TB the corpus partitions stream through the
  *    broadcast probe with no shuffle before the final per-query top-k
  *    (which moves only k rows per query per partition thanks to
  *    window-TopK pushdown / partial aggregation).
  *  - [[trainCentroids]] + [[ivfProbe]]: IVF with the production
  *    lifecycle — centroids trained once (persistable, e.g. via
  *    `Versioned`), probes are pure plans that never re-train; each
  *    query probes only the `nprobe` nearest cells, cutting the
  *    scanned corpus fraction to ~nprobe/ncells.
  *  - [[ivfTopK]]: one-shot composition of the two.
  *
  * Ranking ties: scores are ranked on a 9-decimal rounding with the
  * corpus id as tie-break, making top-k reproducible across engines
  * and run-to-run (float ulp differences cannot flip the order).
  */
object Similarity {

  /** Project (id, unit-normalized double vector) — norms are computed
    * once per row here so the pairwise stage is a single dot product
    * (cosine of unit vectors), not dot + two norm recomputations.
    */
  private[ext] def unitized(df: DataFrame, id: String, vecCol: String,
      idAs: String, vecAs: String): DataFrame =
    // delegates to [[Vectors.unitized]] — the ONE definition of the
    // oracle-sensitive normalize-with-zero-passthrough arithmetic
    Vectors.unitized(df, vecCol, id -> idAs)
      .withColumnRenamed("_uv", vecAs)

  /** (_cell, c_id, _cv): cell tag + id + unit vector per corpus row —
    * deliberately NOT cached or materialized: normalizing is cheap map
    * work, and at scale the full normalized corpus is exactly what
    * must never be pinned in storage memory. Recomputing per scan
    * beats materializing the corpus.
    */
  private def cellVectors(corpus: DataFrame, cId: String, vecCol: String,
      blockCol: String): DataFrame =
    Vectors.unitized(corpus, vecCol, blockCol -> "_cell", cId -> "c_id")
      .withColumnRenamed("_uv", "_cv")

  def bruteForceTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, k: Int): DataFrame = {
    val q = unitized(queries, qId, vecCol, "q_id", "_qv")
    val c = unitized(corpus, cId, vecCol, "c_id", "_cv")
    val scored = c.join(broadcast(q), col("q_id") =!= col("c_id"))
      .withColumn("cosine", Vectors.dot(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cosine"), 9).desc, col("c_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** Train the IVF index: cell centroid = positional mean vector per
    * `blockCol` (cluster assignment). Components are rounded to 4
    * decimals so centroids are DETERMINISTIC across partition
    * orderings, replicas and engines (float summation order can wiggle
    * the last ulps; the probe ranking then re-rounds at 9 decimals) —
    * which is what makes this approximate operator exactly
    * oracle-checkable.
    *
    * Pure plan; callers persist once (e.g. as parquet in a
    * `Persisted` dir) and probe many times with [[ivfProbe]].
    * Schema: (_cell, _centroid).
    */
  def trainCentroids(corpus: DataFrame, vecCol: String,
      blockCol: String): DataFrame =
    corpus
      .select(col(blockCol).as("_cell"), Vectors.asDouble(col(vecCol)).as("_v"))
      .withColumn("_n", Vectors.norm(col("_v")))
      .select(col("_cell"),
        when(col("_n") > 0, transform(col("_v"), x => x / col("_n")))
          .otherwise(col("_v")).as("_cv"))
      .select(col("_cell"), posexplode(col("_cv")).as(Seq("_pos", "_x")))
      .groupBy(col("_cell"), col("_pos"))
      .agg(round(avg(col("_x")), 4).as("_m"))
      .groupBy(col("_cell"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("_m")))).as("_pm"))
      .select(col("_cell"),
        transform(col("_pm"), s => s.getField("_m")).as("_centroid"))

  /** Probe a prebuilt IVF index: each query ranks the broadcast
    * centroids, scans only its `nprobe` nearest cells of the corpus
    * (cells = `blockCol` partitions — the corpus itself is the posting
    * storage, read cell-pruned through the broadcast probe join), and
    * ranks the survivors. Pure plan — constructing it launches ZERO
    * jobs and never re-trains the centroids (IvfIndexSpec pins it).
    */
  def ivfProbe(queries: DataFrame, corpus: DataFrame, qId: String,
      cId: String, vecCol: String, blockCol: String,
      centroids: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val c = cellVectors(corpus, cId, vecCol, blockCol)
    val q = unitized(queries, qId, vecCol, "q_id", "_qv")
    val probeW = Window.partitionBy(col("q_id"))
      .orderBy(round(Vectors.cosine(col("_qv"), col("_centroid")), 9).desc, col("_cell").asc)
    val probes = q.crossJoin(broadcast(centroids))
      .withColumn("_probe_rank", row_number().over(probeW))
      .filter(col("_probe_rank") <= nprobe)
      .select(col("q_id"), col("_qv"), col("_cell"))

    val scored = c.join(broadcast(probes), Seq("_cell"))
      .filter(col("q_id") =!= col("c_id"))
      .withColumn("cosine", Vectors.dot(col("_qv"), col("_cv")))
    val w = Window.partitionBy(col("q_id"))
      .orderBy(round(col("cosine"), 9).desc, col("c_id").asc)
    scored
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank"), col("c_id").as("neighbor_id"),
        round(col("cosine"), 6).as("cosine"))
  }

  /** One-shot IVF: train + probe in one lazy plan. Returns the same
    * schema as [[bruteForceTopK]] (approximate results).
    */
  def ivfTopK(queries: DataFrame, corpus: DataFrame,
      qId: String, cId: String, vecCol: String, blockCol: String,
      k: Int, nprobe: Int): DataFrame =
    ivfProbe(queries, corpus, qId, cId, vecCol, blockCol,
      trainCentroids(corpus, vecCol, blockCol), k, nprobe)
}
