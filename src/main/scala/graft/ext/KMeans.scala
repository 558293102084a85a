package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.Vectors
import graft.plans.AssignNearest

/** Distributed k-means (Lloyd's algorithm) over an embedding column —
  * the clustering step of corpus curation (topic balancing, dedup
  * cell assignment, stratified mixing).
  *
  * Spark shape per iteration: ASSIGN = corpus scan × broadcast
  * centroids (k rows) + per-vector argmax — no shuffle of vectors;
  * UPDATE = positional explode + (cluster, pos) mean aggregation —
  * map-side combined, shuffles k × dim partial sums per partition, not
  * vectors. Iterations are a driver loop over small frames; lineage
  * grows linearly in the (fixed) iteration count.
  *
  * Determinism (and hence the DuckDB oracle gate): init centroids are
  * the per-`initCol` rounded means, every recomputed centroid
  * component rounds to 4 decimals, similarity ranks on a 9-decimal
  * rounding with the cluster id as tie-break, and the iteration count
  * is fixed — so the full trajectory is reproducible across engines,
  * partitionings and runs. (Classic k-means randomness — sampled init,
  * convergence-dependent iteration counts — is exactly what makes
  * cluster assignments unreproducible in production pipelines; seeded
  * deterministic init + fixed iterations is the auditable variant.)
  */
object KMeans {

  /** Unit-normalized (id, uv) projection. */
  private def unitized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    Vectors.unitized(df, vecCol, idCol -> idCol)

  /** Rounded positional-mean centroids of `grouped` (cluster, _uv). */
  private[graft] def centroidsOf(grouped: DataFrame): DataFrame =
    grouped
      .select(col("cluster"), posexplode(col("_uv")).as(Seq("_pos", "_x")))
      .groupBy(col("cluster"), col("_pos"))
      .agg(round(avg(col("_x")), 4).as("_m"))
      .groupBy(col("cluster"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("_m")))).as("_pm"))
      .select(col("cluster"),
        transform(col("_pm"), s => s.getField("_m")).as("_centroid"))

  /** Assign each vector to its nearest centroid (max cosine, 9-decimal
    * rank rounding, cluster-id tie-break) — map-only: the k centroids
    * fold into a ONE-ROW cluster-sorted model (J3
    * crossJoin(broadcast(1-row-aggregate)) pattern) and the argmax
    * runs per row in the native [[graft.plans.AssignNearest]]
    * expression. The previous form expanded every vector into k
    * centroid rows and ranked them back with a `row_number` window —
    * a k× blowup plus a full vector-grain exchange+sort per
    * iteration (`graft.ref.KMeansRef.assignWindow`, the test-scope
    * equality twin).
    */
  private[graft] def assign(vecs: DataFrame, centroids: DataFrame, idCol: String): DataFrame = {
    val model = centroids.agg(
      sort_array(collect_list(struct(col("cluster"), col("_centroid"))))
        .as("cents"))
    vecs.crossJoin(broadcast(model))
      .select(col(idCol), col("_uv"),
        column(AssignNearest(expression(col("_uv")), expression(col("cents"))))
          .as("_a"))
      .filter(col("_a").isNotNull) // empty model = the join's empty side
      .select(col(idCol), col("_a.cluster").as("cluster"), col("_uv"),
        col("_a.similarity").as("similarity"))
  }

  /** @param initCol column providing the initial partition (cluster ids
    *                = its distinct values, init centroids = its group
    *                means); `iters` full assign+update rounds run after
    *                init, then a final assignment is returned as
    *                (id, cluster, similarity).
    */
  def fit(df: DataFrame, idCol: String, vecCol: String, initCol: String,
      iters: Int): DataFrame = {
    val base = df.select(col(initCol).as("cluster"), col(idCol), col(vecCol))
    // the corpus is scanned by every assignment AND the init centroid
    // build — normalize once, keep it resident for the fit. A
    // localCheckpoint (GC-released blocks) rather than a cache entry:
    // fit() returns but the materialization must not outlive its
    // consumers in the session CacheManager
    val vecs = unitized(base, idCol, vecCol).localCheckpoint()
    // each round's centroids are k tiny rows; materializing them
    // (localCheckpoint) keeps the per-round plan `cached corpus x
    // broadcast leaf` instead of one query re-deriving the whole
    // trajectory per consumer
    var centroids = centroidsOf(
      vecs.join(base.select(col(idCol), col("cluster")), idCol))
      .localCheckpoint()
    var i = 0
    while (i < iters) {
      val assigned = assign(vecs, centroids, idCol)
      centroids = centroidsOf(assigned.select(col("cluster"), col("_uv")))
        .localCheckpoint()
      i += 1
    }
    assign(vecs, centroids, idCol)
      .select(col(idCol), col("cluster"), col("similarity"))
  }
}
