package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl

import graft.ext.{Pack, Sampling}
import graft.functions.Text

/** Corpus-assembly operators: cleaning, quality scoring, sequence
  * packing and per-group quota sampling.
  */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  test("collapseRepeats drops adjacent duplicates only") {
    val out = Seq("a a a b a c c").toDF("text")
      .select(concat_ws(" ", Text.collapseRepeats(Text.tokens(col("text")))))
      .as[String].head()
    assert(out == "a b a c")
  }

  test("scrub replaces URLs, emails and digit runs") {
    val out = Seq("see https://x.io/p?q=1 mail bob@x.io id 12345678 ok")
      .toDF("t").select(Text.scrub(col("t"))).as[String].head()
    assert(out == "see <URL> mail <EMAIL> id 12345678".replace("12345678", "<NUM>") + " ok")
  }

  test("pack offsets are per-shard prefix sums and chunks respect the budget") {
    val docs = Seq(
      (1L, "s1", 100), (2L, "s1", 200), (3L, "s1", 300), (4L, "s2", 50))
      .toDF("doc_id", "source", "n")
    val packed = Pack.sequences(docs, "doc_id", col("n"), "source", budget = 256)
      .orderBy("doc_id")
      .select("start_offset", "chunk_idx")
      .as[(Long, Long)].collect()
    // s1: offsets 0,100,300 → chunks 0,0,1 ; s2 restarts at 0
    assert(packed.toSeq == Seq((0L, 0L), (100L, 0L), (300L, 1L), (0L, 0L)))
  }

  test("quota sampling keeps at most N per group, stable across partitioning") {
    val docs = Tables.documents(spark, sf)
    val a = Sampling.quotaPerGroup(docs, col("doc_id"), "source", 5)
    val counts = a.groupBy("source").count().as[(String, Long)].collect()
    assert(counts.nonEmpty && counts.forall(_._2 <= 5))
    val b = Sampling.quotaPerGroup(docs.repartition(13), col("doc_id"), "source", 5)
    assert(a.select("doc_id").exceptAll(b.select("doc_id")).isEmpty)
  }

  test("chunking covers every token and respects max/overlap") {
    val docs = Tables.documents(spark, sf)
    val chunks = Pack.chunkDocuments(docs, "doc_id",
      Text.tokens(col("text")), maxTokens = 32, overlap = 8)
    assert(chunks.filter(col("n_chunk_tokens") > 32).count() == 0)
    // total tokens = sum of chunk tokens minus double-counted overlaps
    val tok = docs.select(sum(size(Text.tokens(col("text"))))).as[Long].head()
    val perDoc = chunks.groupBy("doc_id")
      .agg(sum("n_chunk_tokens").as("s"), count(lit(1)).as("c"))
      .select(sum(col("s") - (col("c") - 1) * 8)).as[Long].head()
    assert(perDoc == tok)
  }

  test("mixWeighted repeats by base + deterministic fraction, drops base-0 unselected") {
    val df = Seq((1L, "keep2"), (2L, "drop")).toDF("id", "src")
    val base = when(col("src") === "keep2", 2).otherwise(0)
    val out = Sampling.mixWeighted(df, col("id"), base, lit("!"))
    val got = out.select("id", "epoch").as[(Long, Long)].collect().sorted
    assert(got.toSeq == Seq((1L, 1L), (1L, 2L)))
  }

  test("mixTemperature flattens a skewed mixture, deterministic across partitionings") {
    // 200 "big" vs 8 "small": alpha=0.5 must downsample big (rate < 1)
    // and upsample small (rate > 1) while roughly conserving size
    val df = ((1L to 200L).map(i => (i, "big")) ++
      (201L to 208L).map(i => (i, "small"))).toDF("id", "grp")
    val out = Sampling.mixTemperature(df, col("id"), "grp", alpha = 0.5)
    val per = out.groupBy("grp").count().as[(String, Long)].collect().toMap
    assert(per("big") < 200, s"dominant group must downsample, got ${per("big")}")
    assert(per("small") > 8, s"rare group must upsample, got ${per("small")}")
    val total = per.values.sum
    assert(total > 180 && total < 230, s"expected-size conservation, got $total")

    val re = Sampling.mixTemperature(df.repartition(7), col("id"), "grp", 0.5)
    assert(re.orderBy("id", "epoch").collect().toSeq ===
      out.orderBy("id", "epoch").collect().toSeq)
  }

  test("contamination flags exactly the planted overlap") {
    val df = Seq(
      (1L, "alpha beta gamma delta", true),
      (2L, "alpha beta gamma epsilon", false), // shares 2 trigrams? no — 1
      (3L, "zeta eta theta iota", false))
      .toDF("id", "text", "bm")
    val out = graft.ext.Dedup.contamination(df, "id", "text", col("bm"), 3)
      .as[(Long, Long)].collect().toMap
    assert(out == Map(2L -> 1L)) // only "alpha beta gamma" is shared
  }

  test("leakage-safe split puts near-dup pairs on one side") {
    val split = graft.queries.TextQueries.splitLeakageSafe(spark, sf)
    val pairs = graft.ext.Dedup.jaccardPairsBlocked(
      Tables.documents(spark, sf), "doc_id", "text", "source", 3, 0.5)
    val sides = split.select(col("doc_id"), col("is_test"))
    val crossed = pairs
      .join(sides.withColumnRenamed("doc_id", "id_a")
        .withColumnRenamed("is_test", "t_a"), "id_a")
      .join(sides.withColumnRenamed("doc_id", "id_b")
        .withColumnRenamed("is_test", "t_b"), "id_b")
      .filter(col("t_a") =!= col("t_b")).count()
    assert(crossed == 0)
    assert(split.count() == Tables.documents(spark, sf).count())
  }

  test("incremental dedup finds planted exact and near matches, no corpus×corpus work") {
    val corpus = Seq(
      (10L, "the quick brown fox jumps over dogs", "s"),
      (11L, "totally different corpus content here", "s"))
      .toDF("id", "text", "src")
    val batch = Seq(
      (100L, "the quick brown fox jumps over dogs", "s"),  // exact dup of 10
      (101L, "the quick brown fox jumps over cats", "s"),  // near dup of 10
      (102L, "nothing like anything in the corpus", "s"))
      .toDF("id", "text", "src")
    val out = graft.ext.Dedup.incrementalDedup(corpus, batch,
        "id", "text", "src", shingleN = 3, minJaccard = 0.5)
      .orderBy("id")
      .as[(Long, Option[Long], Option[Long], Long)].collect().toSeq
    assert(out == Seq(
      (100L, Some(10L), Some(10L), 1L),
      (101L, None, Some(10L), 1L),
      (102L, None, None, 0L)))
  }

  test("int8 quantization reconstructs within half a step") {
    import graft.functions.Vectors
    val emb = Tables.embeddings(spark, sf).limit(100)
    val scale = Vectors.quantScale(col("embedding"))
    val err = emb.select(
        max(aggregate(
          zip_with(Vectors.quantize(col("embedding"), scale).cast("array<double>"),
            col("embedding").cast("array<double>"),
            (q, x) => abs(q / scale - x)),
          lit(0.0), (a, v) => greatest(a, v))).as("e"))
      .as[Double].head()
    // max abs error of dequantized value = 0.5 / scale; scale >= 127/max|x|
    val bound = emb.select(max(lit(0.5) / scale)).as[Double].head()
    assert(err <= bound + 1e-12, s"err $err > bound $bound")
  }

  test("quality keep flag implies the hard filters") {
    val q = graft.queries.TextQueries.textQuality(spark, sf)
    val bad = q.filter(col("keep") &&
      (col("n_tokens") < 30 || col("distinct_ratio") < 0.3)).count()
    assert(bad == 0)
    assert(q.filter(col("quality_score") < 0 || col("quality_score") > 1).count() == 0)
  }

  test("token-budget selection == single-window cumsum, at any partition count") {
    val docs = (1L to 200L).map(i => (i, (i * 37 % 97) + 1, (i * 13 % 50) + 1))
      .toDF("id", "score", "tok")
    // reference: the naive single-partition window
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("score").desc, col("id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val budget = 1500L
    val want = docs.withColumn("cum_tokens", sum(col("tok")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select("id", "score", "tok", "cum_tokens")
      .orderBy("id").collect().toSeq
    for (n <- Seq(1, 3, 7)) {
      val got = Sampling.selectTokenBudget(docs, "id", "score", "tok",
          budget, partitions = n)
        .select("id", "score", "tok", "cum_tokens")
        .orderBy("id").collect().toSeq
      assert(got === want, s"mismatch at partitions=$n")
    }
  }

  test("corpus shuffle is a permutation into full shards, at any partition count") {
    val docs = (1L to 250L).map(Tuple1(_)).toDF("id")
    val ref = Sampling.shuffleShards(docs, "id", docsPerShard = 50,
        seed = "t0", partitions = 1)
      .orderBy("id").collect().toSeq
    // positions form exactly 0..N-1 (a permutation, nothing dropped or
    // duplicated), packed into full 50-doc shards
    val pos = ref.map(r => r.getLong(2) * 50 + r.getLong(3)).sorted
    assert(pos === (0L until 250L))
    for (n <- Seq(3, 7)) {
      val got = Sampling.shuffleShards(docs, "id", docsPerShard = 50,
          seed = "t0", partitions = n)
        .orderBy("id").collect().toSeq
      assert(got === ref, s"shuffle must be partition-count invariant at n=$n")
    }
    // a different seed gives a different permutation (same shard sizes)
    val other = Sampling.shuffleShards(docs, "id", 50, seed = "t1", partitions = 3)
      .orderBy("id").collect().toSeq
    assert(other !== ref)
  }

  test("mixture shards: weighted source front-loads, invariant to partitions") {
    // two equal-size sources, weights 9:1 — every prefix of the order
    // is a weighted sample, so the heavy source dominates early slots
    val docs = (1L to 400L).map(i => (i, if (i <= 200) 9.0 else 1.0))
      .toDF("id", "w")
    val ref = Sampling.mixtureShards(docs, "id", "w", docsPerShard = 100,
        seed = "t0", partitions = 1)
      .orderBy("id").collect().toSeq
    val pos = ref.map(r => (r.getLong(0), r.getLong(2) * 100 + r.getLong(3)))
    assert(pos.map(_._2).sorted === (0L until 400L)) // a permutation
    // E[heavy share of first 100] ≈ 0.9 under the exponential race;
    // 70 is ~6 sigma below — a broken weighting lands near 50
    val firstQ = pos.filter(_._2 < 100).count(_._1 <= 200)
    assert(firstQ > 70, s"heavy source got only $firstQ of the first 100 slots")
    for (n <- Seq(3, 7)) {
      val got = Sampling.mixtureShards(docs, "id", "w", 100, "t0",
          partitions = n)
        .orderBy("id").collect().toSeq
      assert(got === ref, s"mixture order must be partition-count invariant at n=$n")
    }
  }

  test("mixture shards: prefix share tracks the weights across configs") {
    // Sweep weight ratios on two equal 300-doc sources and check the
    // first-100-slot share against the exponential-race expectation
    // share ≈ wA·nA / (wA·nA + wB·nB): degenerate 1:1 must NOT
    // front-load, and heavier ratios must front-load monotonically.
    // Guards the key expression ln(u)/w against a silent skew (e.g. a
    // dropped sign or a swapped operand would pass the single-config
    // 9:1 test direction but break proportionality / the 1:1 case).
    def shareOfA(wA: Double, wB: Double): Double = {
      val docs = (1L to 600L).map(i => (i, if (i <= 300) wA else wB))
        .toDF("id", "w")
      val pos = Sampling.mixtureShards(docs, "id", "w", docsPerShard = 100,
          seed = "t0", partitions = 3)
        .collect().map(r => (r.getLong(0), r.getLong(2) * 100 + r.getLong(3)))
      pos.filter(_._2 < 100).count(_._1 <= 300) / 100.0
    }
    val s1 = shareOfA(1.0, 1.0)   // expected ≈ 0.50
    val s3 = shareOfA(3.0, 1.0)   // expected ≈ 0.75
    val s10 = shareOfA(10.0, 1.0) // expected ≈ 0.91
    assert(s1 > 0.35 && s1 < 0.65, s"1:1 prefix share drifted: $s1")
    assert(math.abs(s3 - 0.75) < 0.13, s"3:1 prefix share drifted: $s3")
    assert(s10 > 0.78, s"10:1 prefix share drifted: $s10")
    assert(s1 < s3 && s3 < s10,
      s"shares must be monotone in the weight ratio: $s1, $s3, $s10")
  }

  test("shard_layout query: observed disk facts equal the contract") {
    // the gated read-back query: every row's physical in-file index
    // (parquet _metadata.row_index) equals its pos_in_shard, each
    // shard dir holds exactly one file, and the coordinates equal the
    // in-memory shuffleShards answer for the same seed
    val got = graft.queries.TextQueries.shardLayout(spark, sf)
    assert(got.filter(col("file_pos") =!= col("pos_in_shard")).count() === 0)
    assert(got.filter(col("n_files") =!= 1L).count() === 0)
    val coords = got.select("doc_id", "shard", "pos_in_shard")
      .orderBy("doc_id").collect().toSeq
    val want = graft.queries.TextQueries.corpusShuffle(spark, sf)
      .select("doc_id", "shard", "pos_in_shard")
      .orderBy("doc_id").collect().toSeq
    assert(coords === want)
  }

  test("shard write: one file per shard dir, rows in sample order") {
    val docs = (1L to 250L).map(i => (i, s"doc-$i")).toDF("id", "text")
    val dir = PlanDsl.tempDir("graft-shards")
      .resolve("s").toString
    Sampling.writeShards(docs, "id", dir, docsPerShard = 50, seed = "t0")
    val shardDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("shard=")).sortBy(_.getName)
    assert(shardDirs.length === 5)
    shardDirs.foreach { d =>
      val files = d.listFiles().filter(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
      assert(files.length === 1, s"${d.getName}: one file per shard")
      // in-file row order IS the sample order (no re-sort needed by a
      // sequential reader)
      val pos = spark.read.parquet(files.head.getPath)
        .select("pos_in_shard").collect().map(_.getLong(0)).toSeq
      assert(pos === (0L until 50L), s"${d.getName} not in sample order")
    }
    // nothing lost or duplicated across the shard layout
    assert(spark.read.parquet(dir).select("id").distinct().count() === 250)
    // the internal shuffle_key must NOT leak into the shard schema —
    // the written layout is (input columns + shard + pos_in_shard)
    assert(spark.read.parquet(dir).columns.sorted ===
      Array("id", "pos_in_shard", "shard", "text"))
  }

  test("shard write rejects reserved coordinate column names") {
    val docs = (1L to 10L).map(i => (i, i % 3)).toDF("id", "shard")
    val dir = PlanDsl.tempDir("graft-shards-r")
      .resolve("s").toString
    val ex = intercept[IllegalArgumentException] {
      Sampling.writeShards(docs, "id", dir, docsPerShard = 5, seed = "t0")
    }
    assert(ex.getMessage.contains("shard"))
  }

  test("corpus shuffle never uses a global (unpartitioned) window") {
    val docs = (1L to 50L).map(Tuple1(_)).toDF("id")
    val plan = Sampling.shuffleShards(docs, "id", 10, seed = "t0")
      .queryExecution.optimizedPlan
    val globalWindows = plan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(globalWindows.isEmpty,
      "global rank must be partition-local + offsets, not one global window")
  }

  test("mixture shards never use a global (unpartitioned) window") {
    val docs = (1L to 50L).map(i => (i, 1.0 + i % 3)).toDF("id", "w")
    val plan = Sampling.mixtureShards(docs, "id", "w", 10, seed = "t0")
      .queryExecution.optimizedPlan
    val globalWindows = plan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(globalWindows.isEmpty,
      "weighted rank must be partition-local + offsets, not one global window")
  }

  test("mixture shards raise on non-positive weights instead of corrupting order") {
    val docs = (1L to 20L).map(i => (i, if (i == 13) 0.0 else 1.0))
      .toDF("id", "w")
    val ex = intercept[Exception] {
      Sampling.mixtureShards(docs, "id", "w", 10, seed = "t0").collect()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(ex).exists(_.contains("non-positive weight")),
      s"expected the raise_error message, got: ${messages(ex).mkString(" | ")}")
  }

  test("token-budget selection never uses a global (unpartitioned) window") {
    val docs = (1L to 50L).map(i => (i, i % 10, i % 7 + 1))
      .toDF("id", "score", "tok")
    val plan = Sampling.selectTokenBudget(docs, "id", "score", "tok", 50L)
      .queryExecution.optimizedPlan
    val globalWindows = plan.collect {
      case wn: org.apache.spark.sql.catalyst.plans.logical.Window
          if wn.partitionSpec.isEmpty => wn
    }
    assert(globalWindows.isEmpty,
      "cumsum must be partition-local + offsets, not one global window")
  }
}
