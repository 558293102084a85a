package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.functions.{MinHash, SimHash, Text, Vectors}
import graft.plans.{CosinePairs, EditPairs, RemoveSpans, SortedPairs, SortedPairsPacked}

/** Deduplication operators for the training-data pipeline: exact,
  * MinHash+LSH, SimHash, n-gram Jaccard and embedding-cosine near-dup.
  *
  * Scale architecture (the part that matters at 100 TB):
  *  - signatures (minhash/simhash/content hash) are per-row map work,
  *    zero shuffle, all codegen'd builtins;
  *  - candidate generation shuffles only short (id, bucket) pairs and
  *    joins on the bucket — never the O(n^2) cross join;
  *  - exact verification (Jaccard) runs only on the candidate pairs,
  *    joining the shingle sets back by id.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-groupBy, keeps the minimum
    * id per distinct content (deterministic survivor).
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Per-document MinHash signature + LSH band keys.
    * @param fastHash seeded-polynomial family (integer math, ~10x
    *                 cheaper) instead of the audit-grade md5 family —
    *                 both engine-portable (see [[MinHash]])
    */
  def minhashBands(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, numBands: Int = 4,
      fastHash: Boolean = false): DataFrame = {
    val rowsPerBand = numHashes / numBands
    val sh = array_distinct(Text.shingles(Text.tokens(col(textCol)), shingleN))
    // signed at shuffle width ([[signingWidth]]): the signature is the
    // dominant per-row cost of every minhash path, and inheriting a
    // narrow file-split would run it near-serially; the exchange also
    // gets REUSED when a caller consumes the banded frame twice
    // (candidates + verify), replacing two file scans + shingle passes
    // with one
    val base = signingWidth(df).select(col(idCol), sh.as("shingle_set"))
    if (fastHash)
      base.withColumn("sig", MinHash.signatureFast(col("shingle_set"), numHashes))
        .withColumn("bands", MinHash.bandsFast(col("sig"), numBands, rowsPerBand))
    else
      base.withColumn("sig", MinHash.signature(col("shingle_set"), numHashes))
        .withColumn("bands", MinHash.bands(col("sig"), numBands, rowsPerBand))
  }

  /** The grouped formulation of the LSH candidate pairs (id_a < id_b)
    * of a banded frame ([[minhashBands]]): instead of a
    * posting-list SELF-JOIN on (band index, band key) — two exchanges
    * + sorts of the full posting list, generating both pair orders and
    * filtering half away — collect each bucket's sorted distinct id
    * set in ONE aggregation (map-side partials) and emit canonical
    * pairs with the codegen'd [[graft.plans.SortedPairs]] generator.
    * One shuffle of (id, band) postings, each unordered pair produced
    * exactly once — the same composed-self-join-vs-sorted-group-stream
    * trade PrefixPairs won as a physical operator, here expressible by
    * pure composition because the bucket grouping IS the join key.
    *
    * Buckets above `groupCap` ids fall back to the per-bucket
    * self-join shape: a b² single-array fan-out concentrates one
    * degenerate bucket (an all-identical-band pathology) in one task,
    * while the join spreads the same b² work across tasks. By LSH
    * design buckets are near-dup-cluster-sized, so the cap path is
    * the contract's escape hatch, not the common case.
    */
  def minhashCandidatesGrouped(banded: DataFrame, idCol: String,
      groupCap: Int = 1024): DataFrame = {
    // materialized once (localCheckpoint): both routes below filter
    // this frame, and without a barrier the signature + band explode
    // + collect aggregation would run once per route
    val buckets = banded
      .select(col(idCol), posexplode(col("bands")).as(Seq("band_idx", "band_key")))
      .groupBy(col("band_idx"), col("band_key"))
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .localCheckpoint()
    val small = buckets.filter(size(col("ids")) <= groupCap)
      .select(explode(column(SortedPairs(expression(col("ids"))))).as("p"))
      .select(col("p.part_a").as("id_a"), col("p.part_b").as("id_b"))
    val bigIds = buckets.filter(size(col("ids")) > groupCap)
      .select(col("band_idx"), col("band_key"), explode(col("ids")).as("id"))
    val big = bigIds.select(col("band_idx"), col("band_key"), col("id").as("id_a"))
      .join(bigIds.select(col("band_idx"), col("band_key"), col("id").as("id_b")),
        Seq("band_idx", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b")
    small.unionByName(big).distinct()
  }

  /** Generic grouped candidate generation over arbitrary bucket keys,
    * pairs PACKED into single bigints end-to-end: collect each
    * bucket's sorted distinct id set in one aggregation, stream
    * canonical pairs through [[graft.plans.SortedPairsPacked]]
    * (`a<<32|b`, 32-bit members loudly enforced), and dedup across
    * buckets on the SINGLE-LONG key — the distinct that the struct
    * form pays on a two-column row rides the fixed-width fast path
    * here, and the exchange ships 8 bytes per candidate. Unpacks only
    * after the distinct. Buckets above `groupCap` fall back to the
    * per-bucket self-join (degenerate buckets spread across tasks
    * instead of materializing b² pairs in one array).
    */
  def bucketCandidatesPacked(posts: DataFrame, keyCols: Seq[String],
      idCol: String, groupCap: Int = 4096): DataFrame = {
    val keys = keyCols.map(col)
    // materialized once (localCheckpoint): BOTH routes (small explode
    // + big-bucket join) filter this frame — without a barrier the
    // collect_set aggregation AND its whole upstream (signature
    // build, posting shuffle) run once per route. Bucket-grain rows,
    // so the checkpoint is posting-list-sized, never pair-sized.
    val buckets = posts
      .groupBy(keys: _*)
      .agg(sort_array(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1)
      .localCheckpoint()
    val small = buckets.filter(size(col("ids")) <= groupCap)
      .select(explode(
        column(SortedPairsPacked(expression(col("ids"))))).as("_pk"))
    val bigIds = buckets.filter(size(col("ids")) > groupCap)
      .select(keys :+ explode(col("ids")).as("_id"): _*)
    val big = bigIds.select(keys :+ col("_id").as("id_a"): _*)
      .join(bigIds.select(keys :+ col("_id").as("id_b"): _*), keyCols)
      .filter(col("id_a") < col("id_b"))
      // same 32-bit contract the expression enforces on the small
      // path — a silent wrap here would alias distinct pairs
      .select(when(col("id_a") > lit(0xFFFFFFFFL) || col("id_a") < 0 ||
          col("id_b") > lit(0xFFFFFFFFL) || col("id_b") < 0,
        raise_error(concat(lit("bucketCandidatesPacked: id exceeds "
          + "unsigned 32 bits: "), col("id_a"), lit("/"), col("id_b"))))
        .otherwise(shiftleft(col("id_a"), 32).bitwiseOR(col("id_b")))
        .as("_pk"))
    small.unionByName(big).distinct()
      .select(shiftright(col("_pk"), 32).as("id_a"),
        col("_pk").bitwiseAND(lit(0xFFFFFFFFL)).as("id_b"))
  }

  /** Exact Jaccard verification of candidate pairs: join shingle sets
    * back by id (only candidates pay the set-intersection cost).
    */
  def verifyJaccard(candidates: DataFrame, shingleSets: DataFrame,
      idCol: String): DataFrame = {
    val sa = shingleSets.select(col(idCol).as("id_a"), col("shingle_set").as("_sa"))
    val sb = shingleSets.select(col(idCol).as("id_b"), col("shingle_set").as("_sb"))
    candidates.join(sa, "id_a").join(sb, "id_b")
      .withColumn("jaccard",
        size(array_intersect(col("_sa"), col("_sb"))).cast("double") /
          (size(col("_sa")) + size(col("_sb"))
            - size(array_intersect(col("_sa"), col("_sb")))).cast("double"))
      .drop("_sa", "_sb")
  }

  /** SimHash signatures (near-dup = small hamming distance). */
  def simhashSignatures(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), SimHash.simhash32(Text.tokens(col(textCol))).as("simhash32"))

  /** Blocked exact n-gram Jaccard via an inverted shingle index: the
    * intersection size of a pair is the number of (block, shingle)
    * postings the two docs share, so a posting-list self-join +
    * count-groupBy computes every non-zero intersection without ever
    * materializing pairwise arrays. Pairs with zero overlap never
    * appear (correct for any threshold > 0), and the join moves
    * (id, shingle) postings — the shape that survives 100 TB, unlike
    * per-pair `array_intersect`.
    */
  def jaccardPairsBlocked(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, shingleN: Int, minJaccard: Double): DataFrame = {
    val sh = df.select(col(idCol), col(blockCol),
      array_distinct(Text.shingles(Text.tokens(col(textCol)), shingleN)).as("shingle_set"))
    // materialized once (localCheckpoint, not cache): both self-join
    // sides consume the posting index; without a barrier the shingle
    // HOF pipeline runs twice. Checkpoint blocks are GC-released when
    // the frame goes out of scope — a `.cache()` here would live in
    // the session's CacheManager until someone remembers to unpersist,
    // accumulating storage in a long-lived multi-query session
    // (CacheHygieneSpec pins the empty-cache contract). Size is
    // bounded: (block, id, shingle) postings, no documents.
    val inv = sh.select(col(blockCol), col(idCol),
      size(col("shingle_set")).as("_sz"),
      explode(col("shingle_set")).as("_shingle"))
      .localCheckpoint()
    val a = inv.select(col(blockCol), col("_shingle"),
      col(idCol).as("id_a"), col("_sz").as("_sza"))
    val b = inv.select(col(blockCol), col("_shingle"),
      col(idCol).as("id_b"), col("_sz").as("_szb"))
    a.join(b, Seq(blockCol, "_shingle"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"), col("_sza"), col("_szb"))
      .agg(count(lit(1)).as("_inter"))
      .withColumn("jaccard",
        round(col("_inter").cast("double") /
          (col("_sza") + col("_szb") - col("_inter")).cast("double"), 4))
      .filter(col("jaccard") >= minJaccard)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** Benchmark decontamination: count, per training document, the
    * distinct word n-gram shingles it shares with any document of the
    * held-out/benchmark set — the contamination check every training
    * corpus runs before release (train docs overlapping eval data leak
    * the benchmark into the weights).
    *
    * Shape: explode both sides to (shingle, id) postings and join on
    * the shingle — the posting-list pattern again, never
    * docs × benchmark pairs. The benchmark shingle set is tiny
    * relative to the corpus (eval suites are fixed-size), so it is
    * broadcast: the 100 TB training side streams through map-side,
    * zero shuffle of training data.
    */
  def contamination(df: DataFrame, idCol: String, textCol: String,
      isBenchmark: org.apache.spark.sql.Column, shingleN: Int): DataFrame = {
    val sh = df.select(col(idCol), isBenchmark.as("_bm"),
      explode(array_distinct(Text.shingles(Text.tokens(col(textCol)), shingleN)))
        .as("_shingle"))
    val bench = sh.filter(col("_bm")).select("_shingle").distinct()
    sh.filter(!col("_bm"))
      .join(broadcast(bench), "_shingle")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Incremental dedup: match each document of an arriving batch
    * against the existing corpus — exactly (content hash) and nearly
    * (blocked n-gram Jaccard) — WITHOUT any corpus × corpus work. This
    * is the production shape of dedup at 100 TB: the corpus was
    * deduped once; every new batch only pays batch-vs-corpus joins
    * (hash equi-join + posting-list join), both proportional to the
    * batch, and the corpus side is read pre-filtered by the batch's
    * blocks.
    *
    * @return one row per batch doc: `exact_match` (min corpus id with
    *         identical content, null if none), `near_match` (min
    *         corpus id with Jaccard ≥ threshold in the same block),
    *         `n_near` (count of such corpus near-dups, 0 if none).
    */
  def incrementalDedup(corpus: DataFrame, batch: DataFrame, idCol: String,
      textCol: String, blockCol: String, shingleN: Int,
      minJaccard: Double): DataFrame = {
    val exact = batch.select(col(idCol), md5(col(textCol)).as("_h"))
      .join(corpus.select(col(idCol).as("_cid"), md5(col(textCol)).as("_h")), "_h")
      .groupBy(col(idCol)).agg(min(col("_cid")).as("exact_match"))
    def postings(df: DataFrame, as: String) = df
      .select(col(blockCol), col(idCol).as(as + "_id"),
        array_distinct(Text.shingles(Text.tokens(col(textCol)), shingleN))
          .as("_set"))
      .select(col(blockCol), col(as + "_id"), size(col("_set")).as(as + "_sz"),
        explode(col("_set")).as("_shingle"))
    val near = postings(batch, "b")
      .join(postings(corpus, "c"), Seq(blockCol, "_shingle"))
      .groupBy(col("b_id"), col("c_id"), col("b_sz"), col("c_sz"))
      .agg(count(lit(1)).as("_inter"))
      .filter(round(col("_inter").cast("double") /
        (col("b_sz") + col("c_sz") - col("_inter")).cast("double"), 4)
        >= minJaccard)
      .groupBy(col("b_id").as(idCol))
      .agg(min(col("c_id")).as("near_match"), count(lit(1)).as("n_near"))
    batch.select(col(idCol))
      .join(exact, Seq(idCol), "left")
      .join(near, Seq(idCol), "left")
      .withColumn("n_near", coalesce(col("n_near"), lit(0L)))
  }

  /** Probe a persisted corpus LSH posting index with an arriving
    * batch: the batch signs only ITSELF and joins the `(band_idx,
    * band_key, c_id)` postings; corpus text is re-read only to verify
    * the candidate pairs (candidate-bounded). One row per batch doc:
    * `lsh_match` (min near-dup corpus id, null if clean) and `n_lsh`.
    *
    * This is the per-batch half of the persisted-index lifecycle
    * (build once per index version, probe per batch) — shared by the
    * one-shot `dedup_lsh_index` query and the streaming
    * micro-batch path, so both provably compute the same thing.
    */
  def lshIndexProbe(idx: DataFrame, corpusText: DataFrame,
      batch: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, minJaccard: Double = 0.5,
      numHashes: Int = 16, numBands: Int = 4): DataFrame = {
    // Sign the batch at shuffle width, not at the landing file's split
    // count: a batch arrives as one file, and the md5 signing pass is
    // the probe's dominant per-row cost — inheriting the 1-partition
    // scan would run it on one core (same fix as the index build).
    // shingleN/numHashes/numBands MUST match the values the probed
    // index was built with ([[persistedLshIndex]] takes the same
    // parameters with the same defaults) — mismatched band keys would
    // not error, they would silently produce zero candidates.
    val probe = minhashBands(batch, idCol, textCol, shingleN, numHashes,
      numBands)
      .select(col(idCol),
        posexplode(col("bands")).as(Seq("band_idx", "band_key")))
    val cands = probe.join(idx, Seq("band_idx", "band_key"))
      .select(col(idCol), col("c_id")).distinct()
    def sets(df: DataFrame, as: String) = df.select(col(idCol).as(as),
      array_distinct(Text.shingles(Text.tokens(col(textCol)), shingleN))
        .as(as + "_s"))
    // candidate-bounded for real: restrict the corpus rows BY ID before
    // shingling them — without the semi join the inner join below would
    // still evaluate the shingle projection over every corpus row
    // (a full corpus re-shingle per probe batch at scale; the id scan
    // the semi join costs is the cheap part)
    val corpusNeeded = corpusText.join(
      cands.select(col("c_id").as(idCol)).distinct(), Seq(idCol), "left_semi")
    val near = cands
      .join(sets(batch, idCol), idCol)
      .join(sets(corpusNeeded, "c_id"), "c_id")
      .withColumn("_i",
        size(array_intersect(col(idCol + "_s"), col("c_id_s"))))
      .filter(round(col("_i").cast("double") /
        (size(col(idCol + "_s")) + size(col("c_id_s")) - col("_i"))
          .cast("double"), 4) >= minJaccard)
      .groupBy(col(idCol))
      .agg(min(col("c_id")).as("lsh_match"), count(lit(1)).as("n_lsh"))
    batch.select(col(idCol))
      .join(near, Seq(idCol), "left")
      .withColumn("n_lsh", coalesce(col("n_lsh"), lit(0L)))
  }

  /** Spread a to-be-signed frame to shuffle width. The md5 minhash
    * family is ~1 ms/doc of per-row work, and corpora/batches usually
    * arrive as few files — without this the signing pass runs at the
    * file-split parallelism (often 1), not the cluster's. The
    * repartition moves only (id, text) rows once; the signing gain is
    * cores-fold. Measured on `dedup_lsh_index` at sf0.1: build
    * 6.3 → 3.8 s, probe 2.3 → 0.9 s.
    */
  private def signingWidth(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.conf
      .get("spark.sql.shuffle.partitions").toInt)

  /** The build half of the persisted-index lifecycle: sign `corpus`
    * into a `(c_id, band_idx, band_key)` posting table, persisted as
    * plain parquet under a [[graft.operators.Persisted]] dir, and
    * return the postings for [[lshIndexProbe]].
    */
  def persistedLshIndex(spark: org.apache.spark.sql.SparkSession,
      cacheKey: String, corpus: DataFrame, idCol: String,
      textCol: String, shingleN: Int = 3, numHashes: Int = 16,
      numBands: Int = 4): DataFrame = {
    // signature parameters are part of the index IDENTITY: they join
    // the artifact signature (two configs must never alias to one
    // persisted index) and must be repeated to [[lshIndexProbe]] —
    // same defaults there, so default callers stay coherent by
    // construction.
    //
    // CROSS-PROCESS persistence (the join_bucketed contract applied to
    // the index lifecycle): the index is immutable for a given corpus
    // version, so it lives under a signature-keyed dir — cache key +
    // parameters + the corpus plan + the documents table's data-file
    // listing (a regenerated corpus can never silently re-attach a
    // stale index) + the `plain` layout tag (a dir of the older
    // versioned-table layout is never attached). Every call, in this
    // process or a fresh one, re-ATTACHES instead of re-signing the
    // corpus; only the first call after a corpus change pays the
    // build. The corpus-definition discriminator is the CANONICALIZED
    // plan's string, not semanticHash(): the hash is unstable across
    // JVMs (measured: two processes, two values on the same query),
    // which silently degraded every new process to a full index
    // rebuild. The canonicalized string is stable and captures the
    // filter structure, so two corpus filters over one dir never
    // alias.
    val root = graft.operators.Persisted.ensure(spark, "graft-lsh-idx",
      graft.operators.Persisted.signature(spark,
        Seq(cacheKey, shingleN.toString, numHashes.toString,
          numBands.toString,
          corpus.queryExecution.analyzed.canonicalized.toString, "plain"),
        Seq(s"$cacheKey/documents.parquet"))) { staging =>
      minhashBands(corpus, idCol, textCol, shingleN, numHashes, numBands)
        .select(col(idCol).as("c_id"),
          posexplode(col("bands")).as(Seq("band_idx", "band_key")))
        .write.parquet(s"$staging/bands")
    }
    graft.Tables.parquet(spark, s"$root/bands")
  }

  /** Fuzzy (edit-distance) near-dup pairs on a bounded key prefix,
    * blocked like [[jaccardPairsBlocked]] — the entity-resolution
    * flavor of dedup (typo-level variants that shingle sets can miss).
    * Levenshtein is O(p²) per pair on the truncated prefix, and the
    * block join bounds the pair count; at scale the block should be a
    * cheap cluster key (here: source) so no block exceeds one
    * executor's slice.
    */
  def fuzzyPairsBlocked(df: DataFrame, idCol: String, textCol: String,
      blockCol: String, prefixLen: Int, maxDist: Int): DataFrame = {
    // r19 shape: the SAME salted decomposition + grouped native pair
    // kernel as [[embeddingNearDupsUnit]] (the r16 cosine rewrite),
    // for the same two reasons — the blocked self-join caps
    // parallelism at |blocks| and bills ~2 µs/pair of join-row
    // machinery, several times the banded DP's own cost on short
    // prefixes. graft_edit_pairs unpacks each group's prefixes once
    // and runs the n²/2 thresholded distances in a tight loop,
    // calling Spark's own UTF8String.levenshteinDistance(other, k) —
    // bit-parity with the joined twin (the oracle's derivation; its
    // test-scope copy `graft.ref.DedupRef.fuzzyPairsJoined` is the
    // spec's equality reference).
    val p = df.select(col(blockCol), col(idCol),
      substring(col(textCol), 1, prefixLen).as("_p"))
    saltedGroups(p, idCol, blockCol, "_p", "p")
      .select(
        explode(column(EditPairs(expression(col("_a")), expression(col("_b")),
          expression(col("_i") === col("_j")), maxDist))).as("e"))
      .select(col("e.id_a").as("id_a"), col("e.id_b").as("id_b"),
        col("e.edit_dist").as("edit_dist"))
  }

  /** Salt count of [[saltedGroups]]: each row is replicated to exactly
    * this many pair tasks through one exchange.
    */
  private val PairSalts = 8

  /** The salted block decomposition the grouped pair kernels
    * ([[graft.plans.CosinePairs]], [[graft.plans.EditPairs]]) run on.
    * Each row is salted by id hash into `salts` buckets; pair task
    * (i, j), i ≤ j, receives bucket-i rows as side `_a` and bucket-j
    * rows as side `_b` (empty when i = j), so every unordered pair of a
    * block lands in exactly one group, parallelism is
    * |blocks|·S(S+1)/2, and group state stays ~|block|/S rows. Side
    * elements are `struct(id, <field> = payload)`. Output: (blockCol,
    * _i, _j, _a, _b).
    *
    * Null semantics of the blocked self-join these kernels replace,
    * made explicit: a null block key never matched (null ≠ null), a
    * null payload produced a null metric the threshold dropped, and a
    * null id never satisfied id_a < id_b — none may reach a kernel (a
    * null-key GROUP would pair its members, and the kernel reads a
    * null long slot as 0, aliasing a real id 0).
    */
  private[graft] def saltedGroups(df: DataFrame, idCol: String,
      blockCol: String, payload: String, field: String,
      salts: Int = PairSalts): DataFrame = {
    // ids are packed into the kernel's long slots via cast("long"): a
    // non-integral id column would cast to null row-by-row (never an
    // analysis error) and the kernel's getLong would read 0 — garbage
    // (0, 0) pairs instead of a loud failure
    val idType = df.schema(idCol).dataType
    require(idType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }, s"near-dup ids ride the pair kernel as longs; '$idCol' must be " +
      s"an integral column, got $idType — map string/UUID ids to a " +
      "surrogate long first (a silent cast would null them out)")
    val spark = df.sparkSession
    import spark.implicits._
    val tasks = broadcast(
      (for { i <- 0 until salts; j <- i until salts } yield (i, j))
        .toDF("_i", "_j"))
    def side(cond: org.apache.spark.sql.Column) =
      collect_list(when(cond,
        struct(col(idCol).cast("long").as("id"), col(payload).as(field))))
    df.filter(col(blockCol).isNotNull && col(payload).isNotNull &&
        col(idCol).isNotNull)
      .withColumn("_sa", pmod(hash(col(idCol)), lit(salts)))
      .join(tasks, col("_sa") === col("_i") || col("_sa") === col("_j"))
      .groupBy(col(blockCol), col("_i"), col("_j"))
      .agg(side(col("_sa") === col("_i")).as("_a"),
        side(col("_sa") === col("_j") && col("_i") =!= col("_j")).as("_b"))
  }

  /** Embedding-cosine near-duplicate pairs within a blocking column
    * (label / cluster id). Cosine on the rounded-to-4 scale so the
    * threshold comparison is reproducible across engines.
    *
    * CONTRACT: `idCol` must be an integral column (byte/short/int/
    * long) — ids ride the native pair kernel as longs, and a
    * string/UUID id would silently cast to null and emit garbage
    * (0, 0) pairs. Map non-numeric ids to a surrogate long
    * (`xxhash64`, `monotonically_increasing_id` + a lookup table)
    * before calling; the entry check fails loud.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, minCosine: Double): DataFrame = {
    // unit-normalize once per row ([[Vectors.unitized]], the ONE
    // definition of this oracle-sensitive arithmetic); the pairwise
    // stage is then one dot.
    //
    // Round-16 shape: SALTED block decomposition + a grouped native
    // pair kernel instead of the blocked self-join. The join capped
    // parallelism at |blocks| (10 labels on a 32-thread host left 2/3
    // of it idle) and paid ~2 µs/pair of join-row machinery per
    // candidate — 40× the dot product's arithmetic. The
    // decomposition is [[saltedGroups]]'s; graft_cosine_pairs unpacks
    // each group's vectors ONCE into primitive arrays and runs the n²
    // dots as tight scalar math. Measured at 30× (graft.Bench
    // `dedup_embedding_cosine`): the join shape took 46.8 s; the
    // DuckDB twin runs the same quadratic in 2.9 s, which the join
    // shape missed 16×.
    val e = Vectors.unitized(df, vecCol, idCol -> idCol,
        blockCol -> blockCol)
      .withColumnRenamed("_uv", "_u")
    embeddingNearDupsUnit(e, idCol, "_u", blockCol, minCosine)
  }

  /** [[embeddingNearDups]] on ALREADY unit-normalized double vectors —
    * the salted decomposition + grouped kernel itself. Ids must be
    * numeric (they ride the kernel as longs).
    */
  private[graft] def embeddingNearDupsUnit(e: DataFrame, idCol: String,
      vecCol: String, blockCol: String, minCosine: Double): DataFrame = {
    // every public entry (embeddingNearDups, semantic, SignLsh)
    // funnels through here
    saltedGroups(e, idCol, blockCol, vecCol, "v")
      .select(col(blockCol),
        explode(column(CosinePairs(expression(col("_a")), expression(col("_b")),
          expression(col("_i") === col("_j")), minCosine))).as("p"))
      .select(col(blockCol), col("p.id_a").as("id_a"),
        col("p.id_b").as("id_b"), col("p.cosine").as("cosine"))
  }

  /** SemDeDup (semantic dedup): cluster embeddings with the
    * deterministic [[KMeans]], then prune near-duplicates only WITHIN
    * each cluster — the cluster assignment bounds the pairwise work, so
    * the quadratic term is per-cluster, never corpus-wide (the scale
    * trick of arXiv:2303.09540, re-expressed as k-means + blocked
    * self-join). A row is dropped when some lower-id cluster-mate sits
    * above `minCosine`; `dup_of` records the smallest such id, making
    * the survivor choice deterministic and the decision auditable.
    *
    * Output: (id, cluster, dup_of, keep) — keep = 1 iff no lower-id
    * semantic duplicate exists in the row's cluster.
    */
  def semantic(df: DataFrame, idCol: String, vecCol: String,
      initCol: String, iters: Int, minCosine: Double): DataFrame = {
    val assigned = KMeans.fit(df, idCol, vecCol, initCol, iters)
    val unit = Vectors.unitized(df, vecCol, idCol -> idCol)
    val m = assigned.select(col(idCol), col("cluster")).join(unit, Seq(idCol))
      .select(col(idCol), col("cluster").as("_blk"), col("_uv").as("_u"))
    // within-cluster pairs through the same salted grouped kernel as
    // [[embeddingNearDups]] — the cluster-key self-join capped
    // parallelism at |clusters| and paid per-pair join machinery
    // (46.8 → 5.6 s at 30× on the cosine operator, graft.Bench `dedup_embedding_cosine`);
    // dup_of is then min(lower id) over the generated (id_a < id_b)
    // pairs. The kernel receives the already-unit vectors directly.
    val dup = embeddingNearDupsUnit(m, idCol, "_u", "_blk", minCosine)
      .groupBy(col("id_b").as(idCol)).agg(min(col("id_a")).as("dup_of"))
    assigned.select(col(idCol), col("cluster"))
      .join(dup, Seq(idCol), "left")
      .select(col(idCol), col("cluster"), col("dup_of"),
        when(col("dup_of").isNull, lit(1L)).otherwise(lit(0L)).as("keep"))
  }

  /** Substring-level exact dedup (the Lee et al. 2022 repeated-span
    * pass): remove every token span of length >= k that occurs at
    * least twice in the corpus — boilerplate, licenses, templates that
    * document/shingle-granularity dedup cannot touch. A span of length
    * L >= k repeats iff each of its L-k+1 k-token windows repeats, so
    * the suffix-array formulation reduces EXACTLY to k-gram occurrence
    * counting: the bounded-window suffix ordering becomes a hash
    * shuffle on the k-gram (same O(tokens) movement as the sort, but
    * bucketed — no global order needed).
    *
    * Stages (and their 100 TB shape):
    *  1. k-gram occurrence stream (doc, pos, hash) — map-only, the
    *     hash is 8 bytes vs the k-token text;
    *  2. repeated set = hashes with count >= 2 — one shuffle, partial
    *     agg map-side;
    *  3. marked start positions per doc — shuffle of the REPEATED
    *     occurrences only (the corpus-size stream reuses stage 2's
    *     exchange under AQE), ints per doc;
    *  4. span removal — one doc-keyed join + a linear two-pointer
    *     sweep per doc ([[graft.plans.RemoveSpans]], codegen'd).
    *
    * Output: (doc_id, n_tokens, n_removed, clean_text). With
    * `keepFirst = false` both copies of a repeated span are removed
    * (the reference semantics of the repeated-substring pass). With
    * `keepFirst = true` — the policy production corpora actually ship —
    * the corpus-global FIRST occurrence of each repeated k-gram (min
    * (doc_id, pos)) is left unmarked, so one survivor copy of every
    * repeated span keeps its text; only the later occurrences are
    * swept. The survivor choice is deterministic (lexicographic min),
    * computed as a partial-aggregating `min(struct(doc_id, pos))` per
    * hash + an equi-join back over the REPEATED occurrences only —
    * never a per-hash sort window: a boilerplate k-gram at corpus
    * scale has 10⁸+ occurrences, and a `row_number` window would sort
    * them all inside ONE partition, while the partial agg combines
    * map-side and ships one row per hash per map task.
    */
  def removeRepeatedSpans(df: DataFrame, idCol: String, textCol: String,
      k: Int, keepFirst: Boolean = false): DataFrame = {
    val toks = df.select(col(idCol).as("doc_id"),
      Text.tokens(coalesce(col(textCol), lit(""))).as("toks"))
    // ACCEPTED SEMANTICS: k-grams are identified by their 64-bit
    // xxhash64, not the gram text. Two distinct k-grams colliding are
    // both marked repeated and over-removed — birthday bound ~n²/2⁶⁵,
    // i.e. expected a handful of extra spans at the 10¹¹-gram (100 TB)
    // scale and none at testable scale. Collisions only ever remove
    // MORE (never corrupt surviving text); exactness would need a
    // second independent hash or a gram-text verify join, which doubles
    // the stage-2 shuffle width for no behavioral gain at this fpp.
    val kg = toks.select(col("doc_id"),
      posexplode(when(size(col("toks")) >= k,
        transform(sequence(lit(0), size(col("toks")) - k),
          i => xxhash64(concat_ws(" ", slice(col("toks"), i + 1, lit(k))))))
        .otherwise(array().cast("array<bigint>"))).as(Seq("pos", "h")))
    val markedOcc =
      if (!keepFirst) {
        val repeated = kg.groupBy(col("h"))
          .agg(count(lit(1)).as("n")).filter(col("n") >= 2).select("h")
        kg.join(repeated, "h")
      } else {
        // survivor per k-gram = its corpus-global first occurrence,
        // min(struct(doc_id, pos)): a partial agg (skew-proof — a
        // 10⁸-occurrence boilerplate gram combines map-side instead of
        // sorting in one window partition) computed IN THE SAME
        // aggregation as the repeat count — min over all occurrences
        // of a repeated hash IS the survivor, so the pipeline is one
        // agg + one join-back, the same shape as the base variant.
        // (The earlier form — join to `repeated`, re-aggregate the
        // joined occurrences, join back again — re-ran the h-join
        // twice and went superlinear at 10x corpus: 5.2-6.4 s vs the
        // base variant's 2.1 s on the same data.)
        val surv = kg.groupBy(col("h"))
          .agg(count(lit(1)).as("n"),
            min(struct(col("doc_id"), col("pos"))).as("_s"))
          .filter(col("n") >= 2)
          .select(col("h"), col("_s"))
        kg.join(surv, "h")
          .filter(col("doc_id") =!= col("_s.doc_id") ||
            col("pos") =!= col("_s.pos"))
          .select(col("doc_id"), col("pos"), col("h"))
      }
    val marked = markedOcc
      .groupBy(col("doc_id")).agg(sort_array(collect_set(col("pos"))).as("marks"))
    toks.join(marked, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        column(RemoveSpans(expression(col("toks")),
          expression(coalesce(col("marks"), array().cast("array<int>"))), k))
          .as("kept"))
      .select(col("doc_id"),
        size(col("toks")).cast("bigint").as("n_tokens"),
        (size(col("toks")) - size(col("kept"))).cast("bigint").as("n_removed"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }
}
