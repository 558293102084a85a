package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

/** Connected components over a near-duplicate pair graph — the step
  * that turns pairwise dedup output into actionable clusters (keep one
  * canonical document per component, drop the rest).
  *
  * Algorithm: iterative min-label propagation. Every node starts
  * labeled with itself; each round, a node adopts the minimum label
  * among itself and its neighbors; fixpoint = components labeled by
  * their minimum member id. This is the standard scale-out CC
  * algorithm: each round is ONE join + ONE aggregation shuffling
  * (node, label) pairs — never adjacency lists or whole components —
  * and the round count is the graph diameter, which for near-dup
  * graphs (dense clique-ish clusters) is small. Deterministic: min()
  * over ids, no randomness, so the result is exactly reproducible (and
  * oracle-checked against a DuckDB recursive-CTE transitive closure).
  *
  * Each round materializes via `localCheckpoint()`: iterative plans
  * reference the previous round's frame on BOTH sides of the join, so
  * without truncation the logical plan doubles every round and the
  * analyzer — not the executors — becomes the bottleneck (2^rounds
  * nodes). Checkpointing pins each round's (node, label) pairs and
  * resets lineage to a leaf, keeping per-round planning O(1).
  *
  * Cluster deployment: `localCheckpoint` truncates lineage onto
  * executor-local blocks — an executor loss fails the job instead of
  * recomputing; swap for reliable `checkpoint()`/replicated persist on
  * lossy clusters ("Materialization barriers" in COVERAGE.md at
  * ff8d9ba).
  */
object Clusters {

  /** @return (node, cluster) — cluster = min id reachable from node;
    *         only nodes that appear in `pairs` are returned.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 25): DataFrame = {
    val spark = pairs.sparkSession
    val edgesPlan = pairs.select(col(aCol).as("src"), col(bCol).as("dst"))
      .union(pairs.select(col(bCol).as("src"), col(aCol).as("dst")))
      .distinct()
    // size the per-round shuffles to the graph, not the session-wide
    // batch setting: each round pays per-partition fixed costs, and a
    // near-dup graph is usually orders smaller than its corpus. Sizing
    // reads plan statistics (zero jobs — no count() pass over the edge
    // list, which at 100 TB would be a full extra scan); the estimate
    // is taken BEFORE the checkpoint (a checkpointed plan has no file
    // stats) and both clamps bound a bad estimate.
    val edgeCount = graft.operators.Joins.estimatedRows(edgesPlan)
    // the rounds run on a clone at that width; the labels go back to
    // the caller's session
    val sized = PlanDsl.withConf(spark, "spark.sql.shuffle.partitions" ->
      math.max(4L, math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong,
        edgeCount / 50000L)).toString)
    val edges = PlanDsl.ofRows(sized, edgesPlan.queryExecution.analyzed)
      .localCheckpoint()
    // fused round 1: with every node initially labeled by itself,
    // the first propagation round is exactly least(self, min
    // neighbor) — computable straight from the edge list, saving a
    // full join+checkpoint round
    var labels = edges.groupBy(col("src").as("node"))
      .agg(min(col("dst")).as("_nmin"))
      .select(col("node"), least(col("node"), col("_nmin")).as("cluster"))
      .localCheckpoint()

    var converged = false
    var i = 1
    while (!converged && i < maxIter) {
      // min label among each node's neighbors this round
      val neighborMin = edges
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(min(col("cluster")).as("_nmin"))
      // carry the previous label through the checkpoint so the
      // convergence check reads materialized data (no extra join job)
      val updated = labels.join(neighborMin, Seq("node"), "left")
        .select(col("node"), col("cluster").as("_prev"),
          least(col("cluster"), coalesce(col("_nmin"), col("cluster")))
            .as("cluster"))
        .localCheckpoint()
      converged =
        updated.filter(col("cluster") =!= col("_prev")).isEmpty
      labels = updated.drop("_prev")
      i += 1
    }
    // fail LOUDLY on an unconverged exit (graph diameter > maxIter):
    // labels mid-propagation split one true component across several
    // cluster ids, and downstream keep-one-canonical-per-cluster
    // dedup would silently keep several copies of the same duplicate
    // family. Near-dup graphs are clique-ish (diameter ~2-3), so a
    // trip here means the input is not the expected pair graph —
    // raise maxIter deliberately, don't mask it.
    if (!converged) throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — " +
        "graph diameter exceeds maxIter; labels would be partial")
    PlanDsl.ofRows(spark, labels.queryExecution.analyzed)
  }
}
