package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.PlanDsl.{column, expression}

import graft.plans.MinHashSignature

/** MinHash + banded LSH over shingle sets — the scalable near-duplicate
  * candidate generator (shingle → minhash → band → bucket join).
  *
  * Signatures are computed by the codegen'd native
  * [[graft.plans.MinHashSignature]] expression (one tight loop per row,
  * no per-element lambda frames, no intermediate arrays). Two families,
  * both deterministic and engine-portable (the DuckDB oracle computes
  * bit-identical signatures):
  *
  *  - `md5(seed || '|' || shingle)` compared as 32-hex strings
  *    (lexicographic min == numeric min of the 128-bit hash) —
  *    collision-free enough at 128 bits, the audit-grade family;
  *  - seeded polynomial `fold(codepoints, h0 = seed, (h*131+cp) mod
  *    1e9+7)` over numeric min — pure integer math, ~an order of
  *    magnitude cheaper, the production family for bulk dedup.
  *
  * Scale shape: signatures are per-row map work (no shuffle); the LSH
  * bucket join shuffles only (doc_id, band) pairs — `numBands x |docs|`
  * short rows — instead of the O(n^2) pairwise comparison. Bucket skew
  * (a degenerate band value shared by a huge doc cluster) is handled by
  * AQE skew-join splitting.
  */
object MinHash {

  /** `numHashes` min-hashes of the shingle set, as an array of 32-hex
    * strings (md5 family, codegen'd native expression).
    */
  def signature(shingleSet: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(shingleSet), numHashes, "md5"))

  /** Production-fast signature: seeded polynomial hash family
    * (array<long>), roughly an order of magnitude cheaper than md5 and
    * still engine-portable — DuckDB reproduces it with
    * `list_reduce(list_prepend(seed, codepoints), (h,c) -> (h*131+c) %
    * 1000000007)`.
    */
  def signatureFast(shingleSet: Column, numHashes: Int): Column =
    column(MinHashSignature(expression(shingleSet), numHashes, "poly"))

  /** Band keys for a long-valued fast signature: same md5-of-joined
    * band as [[bands]] after casting the longs to strings, so band keys
    * stay engine-portable (16 tiny casts per row — the signature is the
    * hot path, not the bands).
    */
  def bandsFast(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    bands(transform(sig, x => x.cast("string")), numBands, rowsPerBand)

  /** Collapse a signature into `numBands` band keys (md5 of each band's
    * concatenated rows). Docs sharing any band key are candidates.
    */
  def bands(sig: Column, numBands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(numBands - 1)),
      b => md5(concat_ws("|", slice(sig, b * lit(rowsPerBand) + lit(1), lit(rowsPerBand)))))
}
