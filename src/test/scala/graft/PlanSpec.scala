package graft

import graft.queries._

/** Physical-plan regression guards: the optimizations the engine's
  * scale story depends on must be visible in the executed plan —
  * pushdown reaching the scan, dimensions broadcasting, top-k not
  * globally sorting, argmax not sorting at all.
  */
class PlanSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  test("q1_agg: filter and projection push into the parquet scan") {
    val p = plan(RelationalQueries.q1Agg(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate"))
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_returnflag:string,l_linestatus:string,l_shipdate"))
  }

  test("regional revenue: every dimension joins as broadcast") {
    val p = plan(RelationalQueries.regionalRevenue(spark, sf))
    assert(p.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin") >= 3, p.take(400))
    assert(!p.contains("SortMergeJoin"))
  }

  test("inclusion profiling is join-free: tagged union, key-grain folds") {
    // r16 shape: both sides of each dependency pair ride one exchange
    // under a side tag — no join operator, no broadcast build of a
    // fact-sized key set may reappear
    val p = plan(OpsQueries.profileInclusion(spark, sf))
    assert(!p.contains("Join"), p.take(800))
    assert(!p.contains("BroadcastExchange"), p.take(800))
  }

  test("inclusion profiling fails loud on a non-integral candidate key") {
    // every leg casts its key to long to share one union schema; a
    // string/UUID key would cast to NULL silently, counting every
    // probe row as an orphan and dropping reference keys
    import spark.implicits._
    val strKeys = Seq(("k1", 1L), ("k2", 2L)).toDF("sk", "payload")
    val e = intercept[IllegalArgumentException] {
      OpsQueries.inclusionKey(strKeys, "sk")
    }
    assert(e.getMessage.contains("integral"), e.getMessage)
    // integral widths narrower than long pass (the cast is lossless)
    OpsQueries.inclusionKey(
      strKeys.select(org.apache.spark.sql.functions.col("payload")
        .cast("int").as("ik")), "ik")
  }

  test("column/key profiling plans no Expand: one distinct leg per column") {
    // a multi-count_distinct agg replicates every row once per
    // distinct column before partial aggregation (r16 finding:
    // profile_columns 3.4 s vs 0.10 twin at 30× behind that plan)
    assert(!plan(OpsQueries.profileColumns(spark, sf)).contains("Expand"))
    assert(!plan(OpsQueries.profileKeys(spark, sf)).contains("Expand"))
  }

  test("global top-k uses TakeOrderedAndProject, not a global sort") {
    val p = plan(AnalyticsQueries.topkOrders(spark, sf))
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("per-group top-k prunes to k rows per partition via WindowGroupLimit") {
    val p = plan(AnalyticsQueries.topkPerGroup(spark, sf))
    assert(p.contains("WindowGroupLimit"), p.take(600))
  }

  test("latest-per-key partially aggregates max_by before the shuffle") {
    val ev = Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type", "value")
    val p = plan(graft.operators.LatestPerKey(ev, Seq("user_id"), Seq("ts", "event_id")))
    // the scale property: map-side partial_max_by reduces the shuffle to
    // one row per (key, partition); Spark plans SortAggregate (struct
    // buffer), i.e. a per-partition key sort, never a full-data ordering
    val partialIdx = p.indexOf("partial_max_by")
    val exchangeIdx = p.indexOf("Exchange")
    assert(partialIdx >= 0 && exchangeIdx >= 0)
  }

  test("events scan prunes the unused props column") {
    val p = plan(ParityQueries.latestPerKey(spark, sf))
    assert(!p.contains("props"))
  }

  test("hash sampling is a shuffle-free map-side filter") {
    val sampled = graft.ext.Sampling.sample(Tables.events(spark, sf),
      org.apache.spark.sql.functions.col("event_id"),
      org.apache.spark.sql.functions.lit("19"))
    val p = plan(sampled)
    assert(!p.contains("Exchange"), p.take(400))
  }

  test("kmeans assignment broadcasts centroids, never shuffles vectors") {
    val p = plan(graft.ext.KMeans.fit(Tables.embeddings(spark, sf),
      "vec_id", "embedding", "label", iters = 1))
    // every centroid join is a broadcast nested-loop/hash, and the only
    // sort-merge machinery allowed is the per-vector top-1 window
    assert(p.contains("BroadcastExchange"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }

  test("corpus pipeline: one materialized clean layer, two exchanges") {
    val p = plan(graft.queries.TextQueries.corpusPipeline(spark, sf))
    // 2 hash exchanges: content-hash dedup window + ONE source
    // partition shared by the quota and pack windows (the 3rd exchange
    // is the final orderBy's range partition — determinism scaffolding).
    assert("Arguments: hashpartitioning".r.findAllIn(p).length == 2, p.take(600))
    // the clean/featured layer is materialized ONCE (localCheckpoint
    // barrier): downstream consumers read the checkpointed RDD, so the
    // visible plan holds exactly one leaf and zero re-scans of the
    // documents parquet (the single source scan happened inside the
    // barrier's own job)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty, p.take(600))
    assert("""\(\d+\) Scan ExistingRDD""".r.findAllIn(p).length == 1, p.take(600))
  }

  test("decontamination broadcasts the benchmark shingle set") {
    val p = plan(graft.ext.Dedup.contamination(Tables.documents(spark, sf),
      "doc_id", "text", org.apache.spark.sql.functions.col("source") === "src0", 3))
    assert(p.contains("BroadcastExchange"), p.take(400))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("incremental dedup joins postings, never documents crosswise") {
    val docs = Tables.documents(spark, sf)
    val p = plan(graft.ext.Dedup.incrementalDedup(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0),
      docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0),
      "doc_id", "text", "source", 3, 0.5))
    assert(!p.contains("CartesianProduct"), p.take(400))
  }

  test("tf-idf counts partially aggregate before their shuffles") {
    val p = plan(graft.ext.TfIdf.topTerms(Tables.documents(spark, sf),
      "doc_id", "text", k = 3))
    assert(p.contains("partial_count") || p.contains("partial count"),
      p.take(600))
  }

  test("repetition signals are a zero-shuffle projection: one scan, no exchange") {
    val p = plan(TextQueries.textRepetition(spark, sf))
    // the kernel projection materializes ONCE (r16 sort-sampling
    // rule: the contract sort's range-partitioning sample would
    // otherwise re-run it), so the final plan reads the checkpointed
    // rows — no parquet re-scan, and still no aggregation anywhere
    assert(p.contains("ExistingRDD"), p.take(600))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).isEmpty, p.take(600))
    assert(!p.contains("HashAggregate"), p.take(600))
    assert(!p.contains("Exchange hashpartitioning"), p.take(600))
  }

  test("co-purchase pairs generate array-side: no join, two exchanges") {
    val p = plan(AnalyticsQueries.copurchasePairs(spark, sf))
    // one basket-build exchange + one pair-count exchange; the old
    // distinct + self-join shape re-exchanged both join sides
    assert(!p.contains("Join"), p.take(600))
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length == 2, p.take(600))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, p.take(600))
    // the count-agg must group on the single packed bigint (the
    // fixed-width fast path), never the two-column struct key
    assert(p.toLowerCase.contains("sortedpairspacked"), p.take(2000))
  }

  test("multi-LSH plan: no pair-grain aggregation (first-collision dedup)") {
    val p = plan(graft.queries.SimilarityQueries.defs("dedup_embedding_lsh_multi")(spark, sf))
    // the composed form deduped candidates with distinct() — a
    // HashAggregate keyed on (id_a, id_b) over the full pair stream;
    // the first-collision filter makes the stream unique by
    // construction, so NO aggregate may key on the pair
    assert(!p.contains("keys=[id_a"), p.take(2000))
    assert(p.toLowerCase.contains("firstcollision"), p.take(2000))
  }

  test("packed co-purchase pairs == struct form == joined form") {
    val packed = AnalyticsQueries.copurchasePairs(spark, sf).collect()
    val struct = AnalyticsQueries.copurchasePairsStruct(spark, sf).collect()
    val joined = AnalyticsQueries.copurchasePairsJoined(spark, sf).collect()
    assert(packed.sameElements(struct))
    assert(packed.sameElements(joined))
  }

  test("histogram broadcasts its 1-row bounds — no shuffle of the fact side") {
    val p = plan(AnalyticsQueries.histogramValues(spark, sf))
    assert(p.contains("BroadcastExchange"), p.take(400))
    assert(!p.contains("SortMergeJoin"), p.take(400))
  }

  test("column profiler scans once per leg, each column-pruned") {
    // r16: one single-distinct leg per column replaced the one-scan +
    // Expand plan (which replicated every row 6×); each leg's scan
    // must prune to its own column
    val p = plan(OpsQueries.profileColumns(spark, sf))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 6, p.take(600))
    assert(p.contains("ReadSchema: struct<user_id:bigint>"), p.take(600))
  }

  test("funnel's three chained windows share ONE (user, ts) sort/shuffle") {
    val p = plan(AnalyticsQueries.funnelSteps(spark, sf))
    assert("""\(\d+\) Window""".r.findAllIn(p).length == 3, p.take(600))
    // one data exchange for the windows + the final 1-row aggregate's
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length <= 2, p.take(600))
    assert("""\(\d+\) Sort""".r.findAllIn(p).length == 1, p.take(600))
  }

  test("sweep-line concurrency is one union + one (day, t) shuffle") {
    val p = plan(AnalyticsQueries.concurrencySweep(spark, sf))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    // windows + final day-aggregate; never a per-interval join
    assert("""\(\d+\) Window""".r.findAllIn(p).length == 1, p.take(600))
  }

  test("CDC apply reduces the changelog with partial max_by — no sort, no window") {
    val p = plan(OpsQueries.cdcApply(spark, sf))
    assert(p.contains("partial_max_by"), p.take(600))
    assert(!p.contains("Window"), p.take(600))
  }

  test("skew report takes its hottest key via TakeOrderedAndProject, not a global sort") {
    val p = plan(OpsQueries.dataSkewReport(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), p.take(600))
  }

  test("table diff prunes both snapshot scans to the compared columns") {
    val p = plan(OpsQueries.tableDiff(spark, sf))
    assert(!p.contains("o_orderdate") && !p.contains("o_comment"), p.take(600))
    assert(!p.contains("CartesianProduct"))
  }

  test("bloom join prefilters the fact side BEFORE the join") {
    val p = plan(RelationalQueries.joinBloom(spark, sf))
    // formatted plans number nodes leaf-first: the Filter carrying the
    // bloom probe must be a LOWER node than the join it feeds
    val joinNum = """\((\d+)\) (BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)""".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
    val bloomIdx = p.indexOf("graft_bloom_might")
    assert(bloomIdx >= 0, p.take(600))
    val filterNum = """\((\d+)\) Filter""".r.findAllMatchIn(p)
      .filter(_.start < bloomIdx).toSeq.lastOption.map(_.group(1).toInt)
    assert(joinNum.nonEmpty && filterNum.nonEmpty, p.take(600))
    assert(filterNum.get < joinNum.get,
      s"bloom filter (node ${filterNum.get}) not below the join (node ${joinNum.get})")
  }

  test("record linkage joins blocks, never all pairs") {
    val p = plan(RelationalQueries.recordLinkage(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
    // best-match selection is one partial-aggregating min(struct) pass,
    // not a sort window over each d_id partition
    assert(!p.contains("Window"), p.take(600))
    assert(p.contains("partial_min") || p.contains("HashAggregate"),
      p.take(600))
  }

  test("temporal join resolves intervals behind an equi-join on the key") {
    val p = plan(AnalyticsQueries.temporalJoin(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(600))
  }

  test("IVM aggregates the delta before the merge join (delta-sized shuffle)") {
    import spark.implicits._
    val base = Seq(("a", 1L, 1L)).toDF("k", "n", "sx")
    val delta = Seq(("a", 5L, 1L)).toDF("k", "x", "_sign")
    val p = plan(graft.operators.Ivm.applyDelta(base, delta, Seq("k"), "n",
      Seq("x" -> "sx")))
    // partial aggregation of the delta precedes the full-outer join
    assert(p.contains("partial_sum") || p.contains("partial sum"), p.take(800))
    assert(p.contains("FullOuter") || p.contains("full_outer"), p.take(800))
  }

  test("hll TypedImperativeAggregate partially aggregates before the exchange") {
    val p = plan(AnalyticsQueries.approxHllAgg(spark, sf))
    val partialIdx = p.indexOf("partial_graft_hll")
    assert(partialIdx >= 0, p.take(800))
  }
}
