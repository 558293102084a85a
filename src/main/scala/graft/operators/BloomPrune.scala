package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.{BloomMightContain, BloomPositions}

/** Bloom-filter semi-join pruning — the runtime-filter pattern for
  * joins whose dimension side is too large to broadcast AS ROWS but
  * cheap as a bitset: build a bloom filter of the dim join keys (one
  * distributed pass), broadcast it into a probe-side filter, and let
  * the exact join finish the job. False positives only — the join
  * removes them, so results are IDENTICAL to the plain join (the
  * `join_bloom` oracle is the plain-join SQL) while the fact side
  * entering the shuffle shrinks by the dim's selectivity.
  *
  * At 100 TB this is what turns a fact-side full shuffle into a
  * selectivity-sized one when the dim carries a filter: a 100M-key dim
  * is ~200 MB as a 16-bit/key bitset (broadcastable) vs many GB as
  * rows. Spark's own `InjectRuntimeFilter` does this automatically in
  * narrow cases; the explicit operator works wherever the DataFrame
  * API reaches and its sizing is caller-controlled.
  */
object BloomPrune {

  /** ~16 bits/key (fpp ≈ 0.05% at k = 5), 64-bit-word aligned (the
    * build aggregates whole words), clamped to [1 KiB, 128 MiB] worth
    * of bits.
    */
  def sizeBits(nKeys: Long): Int =
    (math.min(math.max(16L * nKeys, 8L * 1024), 1L << 30).toInt / 64) * 64

  /** Build the bitset of `key` values (cast to bigint) in one
    * distributed pass: explode the k probe positions per key, OR-fold
    * word masks per 64-bit word (map-side partial — the shuffle
    * carries at most mBits/64 rows), assemble bytes on the driver.
    * The result is bitmap-sized, the only driver-side object.
    */
  def build(dim: DataFrame, key: String, mBits: Int, numHashes: Int = 5): Array[Byte] = {
    val words = dim.filter(col(key).isNotNull)
      .select(explode(column(BloomPositions(
        expression(col(key).cast("long")), mBits, numHashes))).as("p"))
      .select(shiftright(col("p"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), p % 64)").as("m"))
      .groupBy(col("w")).agg(bit_or(col("m")).as("bits"))
    val bytes = new Array[Byte](mBits / 8)
    // stream word rows partition-by-partition: the driver holds the
    // bitmap plus ONE partition of (w, bits) rows, never the full
    // row-object materialization a collect() would make of a large
    // filter (16.7M rows for the 128 MiB clamp)
    val it = words.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val w = r.getInt(0); val bits = r.getLong(1)
      var b = 0
      while (b < 8) {
        bytes((w << 3) + b) = ((bits >>> (8 * b)) & 0xff).toByte
        b += 1
      }
    }
    bytes
  }

  /** Probe-side predicate: true for every key in the build set, plus
    * ~fpp of the rest.
    */
  def mightContain(key: Column, bits: Array[Byte], numHashes: Int = 5): Column =
    column(BloomMightContain(expression(key.cast("long")), bits, numHashes))
}
