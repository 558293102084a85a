package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

/** Iterative graph analytics over edge lists — PageRank as the
  * representative fixed-iteration algorithm (the training-corpus use:
  * authority-weighting documents by citation/link structure before
  * sampling).
  *
  * Arithmetic is FIXED-POINT: ranks are BIGINT micro-units (`scale` =
  * 1e9 ≈ total mass), per-edge contributions are integer division
  * `pr div outdeg`, damping is `(85 * x) div 100`. Integer sums are
  * exact and order-independent, so the result is bit-identical across
  * partitionings, retries, and engines — a distributed float PageRank
  * can never hash-match a serial oracle, a fixed-point one must.
  * Truncation loses < 1 unit per edge per round of mass, irrelevant for
  * ranking (and identically reproduced by the oracle's `//`).
  *
  * Scale shape: each round is one edges⋈ranks join shuffling (node,
  * contrib) pairs + one groupBy — never adjacency lists; the dangling
  * mass is a 1-row aggregate cross-joined back (broadcast, J3 pattern,
  * no driver collect); each round's ranks are `localCheckpoint`ed so
  * the plan stays O(1) per round (see [[Clusters]] for why). Ranks are
  * O(|nodes|), edges stream through each round.
  *
  * Cluster deployment: every `localCheckpoint` here truncates lineage
  * onto executor-local blocks — an executor loss fails the job (re-run
  * the round) instead of recomputing; swap for reliable
  * `checkpoint()`/replicated persist on lossy clusters
  * ("Materialization barriers" in COVERAGE.md at ff8d9ba).
  */
object Graph {

  /** A broadcast HashedRelation of a pair of word-sized columns costs
    * ~4–6× the raw 16 B/row (hash table, pointers, row overhead) — so
    * size broadcast decisions at 64 B/row, not the raw width. 64 MB
    * cap → ~1M rows max on the broadcast side. */
  private[graft] val BytesPerRow = 64L
  private[graft] val DefaultBroadcastCap = 64L << 20

  /** Same 4–6× HashedRelation-overhead rule applied to a SINGLE-long
    * row (8 B raw → 48 B at the 6× worst case): the packed closing-key
    * relation in [[triangleCounts]] carries one bigint and nothing
    * else, and Spark builds it as the long-keyed fast-path relation.
    * Keeping the byte CAP identical (64 MB) and only sizing the row
    * honestly lets edge lists up to ~1.4M edges close map-side — A/B
    * at sf0.1 (1.196M edges): broadcast close 1.13 s vs shuffled close
    * 2.0 s median, because the m^(3/2) wedge stream never shuffles.
    */
  private[graft] val PackedBytesPerRow = 48L

  /** Join `big` against a node-keyed `dim` side: broadcast when the
    * caller's byte-guard says the dim side fits, co-partitioned
    * SHUFFLE_HASH join past it (hash, not sort-merge — these are
    * containment/lookup probes over skinny rows; sorting buys
    * nothing). The guard is what makes the regime switch ENFORCED
    * rather than a comment: explicit `broadcast()` ignores
    * `autoBroadcastJoinThreshold`, so an unguarded call OOMs at
    * web-graph node counts instead of degrading to the shuffle plan.
    */
  private[graft] def nodeJoin(big: DataFrame, dim: DataFrame,
      keys: Seq[String], joinType: String, fits: Boolean): DataFrame =
    if (fits) big.join(broadcast(dim), keys, joinType)
    else big.join(dim.hint("SHUFFLE_HASH"), keys, joinType)

  /** @param nodes (node) — one row per vertex, must cover every edge
    *              endpoint
    * @param edges (src, dst) — distinct directed edges
    * @param broadcastCapBytes max estimated bytes (at [[BytesPerRow]]
    *              per node) for the O(|nodes|) rank/inflow tables to
    *              broadcast; past it every node-keyed join runs as a
    *              co-partitioned shuffle-hash join
    * @return (node, pr) — BIGINT fixed-point rank, sum ≈ scale
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int = 5,
      scale: Long = 1000000000L,
      broadcastCapBytes: Long = DefaultBroadcastCap): DataFrame = {
    val spark = nodes.sparkSession
    // materialize both caller plans ONCE — edges appears on both sides
    // of the outdeg join, nodes in the dangling set, the initial ranks
    // AND every round's merge; an expensive upstream plan must not run
    // iters+3 times
    val nodesDone = nodes.localCheckpoint()
    val n = nodesDone.count()
    // everything below runs on a clone whose shuffle width is sized to
    // the graph, not the session-wide batch width: each round pays
    // per-partition fixed costs. The ranks go back to the caller's
    // session, so downstream plans keep the session width.
    val sized = PlanDsl.withConf(spark, "spark.sql.shuffle.partitions" ->
      math.max(4L, math.min(spark.conf.get("spark.sql.shuffle.partitions").toLong,
        n / 50000L)).toString)
    val nd = PlanDsl.ofRows(sized, nodesDone.queryExecution.analyzed)
    val base = 15L * scale / (100L * n)
    val ed = PlanDsl.ofRows(sized, edges.queryExecution.analyzed).localCheckpoint()
    // out-degree is static: join it onto the edge list ONCE, so each
    // round's only edge-side work is the broadcast rank lookup
    val e = ed
      .join(ed.groupBy(col("src")).agg(count(lit(1)).as("outdeg")), "src")
      .localCheckpoint()
    // the dangling set (no out-edges) is static too
    val dangNodes = nd.join(ed.select(col("src").as("node")).distinct(),
        Seq("node"), "left_anti")
      .localCheckpoint()
    var pr = nd.select(col("node"), lit(scale / n).as("pr"))
      .localCheckpoint()
    // each round is ONE shuffle (the inflow groupBy of (dst, contrib)
    // pairs); the O(|nodes|) rank/inflow tables broadcast to the edge
    // scan only while they fit the byte cap — past it (web-graph node
    // counts) every node-keyed join degrades to a co-partitioned
    // shuffle-hash join instead of OOMing the executors (same enforced
    // regime switch as triangleCounts' closing side)
    val fits = n * BytesPerRow <= broadcastCapBytes
    for (_ <- 1 to iters) {
      val inflow = nodeJoin(e, pr.withColumnRenamed("node", "src"),
          Seq("src"), "inner", fits)
        .select(col("dst").as("node"), expr("pr div outdeg").as("contrib"))
        .groupBy("node")
        .agg(sum(col("contrib")).as("infl"))
      // dangling mass spreads evenly: 1-row aggregate, broadcast
      // back — never collected on the driver
      val dang = nodeJoin(pr, dangNodes, Seq("node"), "left_semi", fits)
        .agg(coalesce(sum(col("pr")), lit(0L)).as("_dm"))
      pr = nodeJoin(nd.select("node"), inflow, Seq("node"), "left", fits)
        .crossJoin(broadcast(dang))
        .select(col("node"),
          (lit(base) + expr(
            s"(85 * (coalesce(infl, CAST(0 AS BIGINT)) + _dm div $n)) div 100"))
            .as("pr"))
        .localCheckpoint()
    }
    PlanDsl.ofRows(spark, pr.queryExecution.analyzed)
  }

  /** Exact per-vertex triangle counts by degree orientation — the
    * compact-forward discipline (Latapy 2008; public literature), the
    * shape that makes triangle enumeration survive skewed graphs at
    * scale.
    *
    * A naive wedge join fans out quadratically in the HOTTEST vertex's
    * degree (a 10^6-degree hub makes 10^12 wedges). Orienting every
    * edge from its lower-(degree, id) endpoint to the higher caps
    * every vertex's OUT-degree at O(sqrt(m)) (a vertex with out-degree
    * k has k neighbors of degree >= its own, so deg >= k and
    * m >= k^2/2), so wedge fan-out is bounded by m^(3/2) /
    * per-vertex sqrt(m)^2 regardless of hub skew — degree skew moves
    * hubs to the IN side where they cost nothing. Each triangle is
    * enumerated exactly once: from its lowest-order vertex, closed by
    * the oriented edge between the other two.
    *
    * Shuffle audit: degree = one groupBy of endpoint mentions; wedge
    * generation = one self-join of the oriented list on source; close
    * = one equi-join of wedges against oriented edges on the
    * (computed) closing key — no OR-joins, no per-vertex adjacency
    * arrays, nothing keyed on raw hub ids.
    *
    * @param edges (u, v) distinct undirected edges with u < v
    * @return (vertex, n_triangles) for vertices in >= 1 triangle
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // materialize the caller's edge plan ONCE (the pageRank input
    // discipline): it feeds the degree aggregation (twice, via the
    // endpoint-mention union) and the orientation join, and AQE does
    // not reuse duplicated aggregate subtrees (r21; graft.Explain
    // `text_collocations` shows the repeated subtrees) — an unmaterialized edge build re-runs
    // per consumer.
    val e0 = edges.localCheckpoint()
    // degrees are vertex-sized with three consumers (u-lookup,
    // v-lookup, the regime-guard stats row) — materialize once; the
    // stats job below runs over the cached blocks, zero source rescan
    val deg = e0.select(col("u").as("x"))
      .unionAll(e0.select(col("v").as("x")))
      .groupBy(col("x")).agg(count(lit(1)).as("d"))
      .localCheckpoint()
    // one O(cached blocks) stats row drives BOTH regime switches:
    // |vertices| (degree-side broadcast vs shuffle-hash) and the id
    // range (packed single-long closing key vs two-column key)
    val dstat = deg.agg(count(lit(1)).as("n"), min(col("x")).as("mn"),
      max(col("x")).as("mx")).head()
    val nVerts = dstat.getLong(0)
    val degFits = nVerts * BytesPerRow <= DefaultBroadcastCap
    // degree lookups and the wedge self-join are containment probes
    // over skinny integer rows — broadcast the vertex-sized degree
    // table while it fits the byte cap (the edge list then never
    // shuffles for orientation); past it (web-graph vertex counts)
    // hash joins, never sort-merge (the sorts are pure overhead at
    // every scale)
    val ed = nodeJoin(nodeJoin(e0,
        deg.select(col("x").as("u"), col("d").as("du")),
        Seq("u"), "inner", degFits),
      deg.select(col("x").as("v"), col("d").as("dv")),
      Seq("v"), "inner", degFits)
    val fwd = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    // Closing-key regime: when both endpoint columns are BIGINT and
    // every id fits unsigned 32 bits (catalog-keyed graphs — the
    // copurchase/partkey shape; enforced by the stats row, never
    // assumed), the closing edge rides as ONE packed long
    // (least << 32 | greatest): the wedge probe joins on a single
    // fixed-width key (Spark's long-keyed HashedRelation fast path),
    // the wedge stream carries 2 longs/row instead of 5 columns, and
    // the per-wedge orientation conditionals disappear — the closing
    // edge is looked up by its UNordered pair, which is unique per
    // edge, so no orientation needs recomputing wedge-side. Past
    // 2^32 (or non-long ids) the two-column oriented-key path below
    // is the fallback — same result set, measured equal.
    val longIds = Seq("u", "v").forall(c =>
      edges.schema(edges.schema.fieldIndex(c)).dataType ==
        org.apache.spark.sql.types.LongType)
    val packable = longIds && nVerts > 0 &&
      dstat.getLong(1) >= 0L && dstat.getLong(2) <= 0xFFFFFFFFL
    // materialized once (GC-released): three consumers — both wedge
    // sides and the closing-edge probe — would re-run the degree
    // joins (dt is only read by the unpacked fallback; one spare long
    // per edge in the cached blocks)
    val orient = ed.select(
      when(fwd, col("u")).otherwise(col("v")).as("s"),
      when(fwd, col("v")).otherwise(col("u")).as("t"),
      when(fwd, col("dv")).otherwise(col("du")).as("dt"))
      .localCheckpoint()
    // The wedge stream is the big side (m^(3/2) worst case, ~35x the
    // edge count on the co-purchase graph) and the closing side is
    // only edge-sized — so when the oriented edge list's plan-stat
    // size is modest, broadcast it and the wedges never shuffle at
    // all: they close map-side straight out of the wedge join's
    // partitions (the single-node analogue of a shared hash table,
    // and what DuckDB does here). Byte-guarded —
    // past the cap (graphs whose edge list is itself huge) the close
    // falls back to a plain shuffle join, which is the correct 1000x
    // shape: the wedge stream shuffles once on its closing key,
    // skinny rows. Sizing: plan statistics are useless here (the edge
    // list sits behind a self-join whose size estimate is a product,
    // and the checkpointed RDD reports no size), but orient is
    // ALREADY materialized by the checkpoint — counting it is an
    // O(cached blocks) job with zero source rescan, not the banned
    // count-to-size-a-shuffle pattern. Exact n then drives the
    // broadcast decision; past the cap the close is a SHUFFLE_HASH
    // join (hash, not sort-merge: no reason to sort a 35x wedge
    // stream for a containment probe).
    val nEdges = orient.count()
    val tri = if (packable) {
      val o1 = orient.select(col("s"), col("t").as("b"))
      val o2 = orient.select(col("s"), col("t").as("c"))
      val closing = orient.select(
        shiftleft(least(col("s"), col("t")), 32)
          .bitwiseOR(greatest(col("s"), col("t"))).as("bc"))
      val closeSide =
        if (nEdges * PackedBytesPerRow <= DefaultBroadcastCap)
          broadcast(closing)
        else closing.hint("SHUFFLE_HASH")
      o1.join(o2.hint("SHUFFLE_HASH"), Seq("s"))
        .filter(col("b") < col("c"))
        // b < c, so (b << 32 | c) IS the unordered (least, greatest)
        // packing the closing side is keyed on
        .select(col("s").as("a"),
          shiftleft(col("b"), 32).bitwiseOR(col("c")).as("bc"))
        .join(closeSide, Seq("bc"))
        .select(col("a"), shiftrightunsigned(col("bc"), 32).as("b"),
          col("bc").bitwiseAND(lit(0xFFFFFFFFL)).as("c"))
    } else {
      val o1 = orient.select(col("s"), col("t").as("b"), col("dt").as("db"))
      val o2 = orient.select(col("s"), col("t").as("c"), col("dt").as("dc"))
      // the closing edge between b and c is oriented lower-(degree,
      // id) to higher — computable from the carried degrees, keeping
      // the probe a plain equi-join
      val closeFwd = col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c"))
      val wedges = o1.join(o2.hint("SHUFFLE_HASH"), Seq("s"))
        .filter(col("b") < col("c"))
        .select(col("s").as("a"), col("b"), col("c"),
          when(closeFwd, col("b")).otherwise(col("c")).as("cs"),
          when(closeFwd, col("c")).otherwise(col("b")).as("ct"))
      val closing = orient.select(col("s").as("cs"), col("t").as("ct"))
      val closeSide =
        if (nEdges * BytesPerRow <= DefaultBroadcastCap) broadcast(closing)
        else closing.hint("SHUFFLE_HASH")
      wedges.join(closeSide, Seq("cs", "ct"))
        .select(col("a"), col("b"), col("c"))
    }
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("vertex"))
      .groupBy(col("vertex")).agg(count(lit(1)).as("n_triangles"))
  }
}
