package graft

import graft.ext.Graph

/** Fixed-point PageRank: mass conservation, ranking, dangling
  * handling, and bit-determinism across partitionings.
  */
class GraphSpec extends SparkSpec {

  private def toy() = {
    import spark.implicits._
    // a -> b, a -> c, b -> c; c dangles
    val nodes = Seq("a", "b", "c").toDF("node")
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c")).toDF("src", "dst")
    (nodes, edges)
  }

  test("pagerank: sink collects rank, mass approximately conserved") {
    val (nodes, edges) = toy()
    val pr = Graph.pageRank(nodes, edges).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // c receives from both a and b plus dangling share -> highest;
    // a only gets base + dangling share -> lowest
    assert(pr("c") > pr("b") && pr("b") > pr("a"))
    val total = pr.values.sum
    // integer truncation loses a few units per round, never gains
    assert(total <= 1000000000L && total > 999999000L)
  }

  test("pagerank: bit-identical across partitionings (fixed-point)") {
    val (nodes, edges) = toy()
    val a = Graph.pageRank(nodes, edges).orderBy("node").collect().toSeq
    val b = Graph.pageRank(nodes.repartition(7), edges.repartition(5))
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  test("pagerank: all-dangling graph stays uniform") {
    import spark.implicits._
    val nodes = Seq("x", "y").toDF("node")
    val edges = Seq.empty[(String, String)].toDF("src", "dst")
    val pr = Graph.pageRank(nodes, edges, iters = 3).collect()
      .map(_.getLong(1)).distinct
    assert(pr.length === 1) // symmetric nodes keep identical rank
  }

  test("pagerank: shuffle regime above the byte cap — no broadcast hash join") {
    import spark.implicits._
    // cap 0 forces the past-the-cap regime on any graph: every
    // node-keyed join must run as a shuffle join, never a broadcast
    // (explicit broadcast() ignores autoBroadcastJoinThreshold, so an
    // unguarded regime would OOM at web-graph node counts)
    val big = Seq(("a", "b")).toDF("src", "dst")
    val ranks = Seq(("a", 1L)).toDF("src", "pr")
    val fitPlan = Graph.nodeJoin(big, ranks, Seq("src"), "inner", fits = true)
      .queryExecution.executedPlan.toString
    assert(fitPlan.contains("BroadcastHashJoin"), fitPlan.take(400))
    val bigPlan = Graph.nodeJoin(big, ranks, Seq("src"), "inner", fits = false)
      .queryExecution.executedPlan.toString
    assert(!bigPlan.contains("Broadcast"), bigPlan.take(400))
    assert(bigPlan.contains("ShuffledHashJoin"), bigPlan.take(400))
  }

  test("pagerank: bit-identical across broadcast and shuffle regimes") {
    val (nodes, edges) = toy()
    val a = Graph.pageRank(nodes, edges).orderBy("node").collect().toSeq
    val b = Graph.pageRank(nodes, edges, broadcastCapBytes = 0L)
      .orderBy("node").collect().toSeq
    assert(a === b)
  }

  test("triangles: K4 plus a triangle-free square, exact per-vertex counts") {
    import spark.implicits._
    // K4 on 1..4 (4 triangles, each vertex in 3) + square 5-6-7-8 (none)
    val edges = (Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L)) ++ Seq((5L, 6L), (6L, 7L), (7L, 8L), (5L, 8L)))
      .toDF("u", "v")
    val got = Graph.triangleCounts(edges).orderBy("vertex")
      .as[(Long, Long)].collect().toSeq
    assert(got === Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: close join broadcasts below the byte cap") {
    val plan = graft.queries.AnalyticsQueries.graphTriangles(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "edge-sized closing side should broadcast at small scale")
  }

  test("triangles: packed and fallback closing-key regimes agree") {
    import spark.implicits._
    // the same graph in 32-bit id range (packed single-long closing
    // key) and shifted past 2^32 (two-column fallback) must count
    // identically — pins the r22 regime switch
    val base = Seq((1L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L),
      (1L, 4L), (4L, 5L), (5L, 6L))
    val shift = 5000000000L
    val a = Graph.triangleCounts(base.toDF("u", "v"))
      .orderBy("vertex").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val b = Graph.triangleCounts(
        base.map { case (u, v) => (u + shift, v + shift) }.toDF("u", "v"))
      .orderBy("vertex").collect()
      .map(r => (r.getLong(0) - shift, r.getLong(1))).toSeq
    assert(a === b)
    // K4 on 1..4: four triangles, each vertex in three; 5/6 in none
    assert(a === Seq(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("triangles: invariant under partitioning; hub skew bounded by orientation") {
    import spark.implicits._
    // star hub 0 with 30 leaves + one closing edge (1,2): exactly ONE
    // triangle; orientation must not enumerate the hub's quadratic
    // wedge space as triangles
    val edges = ((1L to 30L).map(i => (0L, i)) ++ Seq((1L, 2L))).toDF("u", "v")
    val a = Graph.triangleCounts(edges).orderBy("vertex").collect().toSeq
    val b = Graph.triangleCounts(edges.repartition(7)).orderBy("vertex")
      .collect().toSeq
    assert(a === b)
    assert(a.map(r => r.getLong(0) -> r.getLong(1)) ===
      Seq(0L -> 1L, 1L -> 1L, 2L -> 1L))
  }
}
