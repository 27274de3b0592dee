package graft.text

import org.apache.spark.sql.{DataFrame, functions => F}
import graft.functions.BloomBitsAgg

/** Bloom-filter shingle membership — the broadcast-scale path for
  * benchmark decontamination. [[Decontam.overlap]] joins the training
  * corpus against the benchmark's distinct-shingle SET; that set is
  * small for an eval suite but grows with the benchmark, and the join
  * moves (doc, shingle) pairs. A Bloom filter compresses the benchmark
  * side to a fixed `numBits` bit array (131 KB at 2^20 bits) that
  * broadcasts to every executor, turning the probe into a pure
  * scan-parallel column expression: no join, no shuffle, one-sided
  * error (false POSITIVES only — a decontamination pass may over-drop
  * a few clean docs, never leak a contaminated one).
  *
  * Hash family: Kirsch-Mitzenmacher-style independent probes
  * `pos_i = xxhash64(xxhash64(shingle) ^ c_i) mod numBits` with fixed
  * golden-ratio constants c_i — xor+rehash (overflow-free under ANSI
  * mode) exactly like [[graft.dedup.Dedup]]'s MinHash permutations.
  * Both the build and the probe emit THIS expression, so agreement is
  * structural, not a convention.
  */
object Bloom {

  /** Golden-ratio probe constants (wrap at Scala compile time). */
  private def consts(numHashes: Int): String =
    (0 until numHashes)
      .map(i => s"${i * 0x9E3779B97F4A7C15L}L").mkString(", ")

  /** `array<int>` of the `numHashes` bit positions of a pre-hashed
    * (64-bit) element expression. */
  def positionsOfHashExpr(hExpr: String, numBits: Int,
                          numHashes: Int): String =
    s"""transform(array(${consts(numHashes)}),
          c -> cast(pmod(xxhash64(($hExpr) ^ c), ${numBits}L) as int))"""

  /** Boolean: every probe bit of a pre-hashed (64-bit) element
    * expression is set in the bloom array column `bfCol` (1-indexed
    * `element_at` words). The probe positions come from
    * [[positionsOfHashExpr]] — the SAME expression the build explodes,
    * so build/probe agreement is structural — and each position is
    * computed once (Catalyst does not CSE inside HOF lambdas; an
    * earlier form re-hashed per word/bit index and doubled the
    * hot-path hashing). Callers probing a string column should hash
    * ONCE and pass the hash (`transform(sh, s -> xxhash64(s))`). */
  def mightContainHashExpr(bfCol: String, hExpr: String, numBits: Int,
                           numHashes: Int): String =
    s"""forall(${positionsOfHashExpr(hExpr, numBits, numHashes)},
          p -> (element_at($bfCol, cast(p div 64 as int) + 1)
                & shiftleft(1L, p % 64)) != 0L)"""

  /** Build a 1-row DataFrame holding the bloom array (`bf`) of every
    * distinct shingle in `shCol`. One scan + one partial-agg'd global
    * aggregate; the dedup shuffle carries 8-byte shingle HASHES (never
    * text — bit positions only need the hash), and each map task of
    * the build ORs bits locally and ships ONE array. */
  def build(df: DataFrame, shCol: String, numBits: Int,
            numHashes: Int): DataFrame =
    df.select(F.explode(F.col(shCol)).as("__s"))
      .select(F.xxhash64(F.col("__s")).as("__h"))
      .distinct()
      .select(F.explode(
        F.expr(positionsOfHashExpr("__h", numBits, numHashes))).as("__p"))
      .agg(BloomBitsAgg.bloomBits(F.col("__p"), numBits).as("bf"))
}
