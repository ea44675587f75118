package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftnative.NativeColumn

/** SimHash near-dup detection + document fingerprinting (SURVEY.md §2.8
  * breadth: "MinHash+LSH, SimHash, n-gram Jaccard" — the first two live
  * here and in DedupQueries respectively).
  *
  * SimHash: 64-bit signature whose bits vote over token hashes; near-dup
  * docs land within a small Hamming distance. Candidate generation bands
  * the signature into 4×16-bit chunks (pigeonhole: hamming ≤ 3 ⇒ at
  * least one chunk equal) and equi-joins on (chunk_idx, chunk_value) —
  * LSH-for-Hamming, never all-pairs, the 100 TB path.
  */
object TextSim {

  /** 64-bit SimHash of a token-array column, as one codegen'd native
    * expression ([[SimHash64]]): each token's xxhash64 (seed 42)
    * votes ±1 per bit into a primitive long[64], and the vote signs
    * pack into the signature. Token hash = xxhash64, deterministic
    * across JVMs and runs (SURVEY.md A.6 forbids runtime randomness);
    * the declared q_dedup_simhash query keeps its own md5-derived
    * 60-bit variant for oracle parity — this is the library form for
    * callers who do not need a DuckDB twin.
    */
  def simhash(tokens: Column): Column =
    NativeColumn.wrap(SimHash64(NativeColumn.unwrap(tokens)))

  /** Hamming distance between two 64-bit signatures (codegen'd). */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Rolling fingerprint over a token array — order-sensitive (unlike a
    * bag-of-tokens hash), pure expression, deterministic: each step
    * rehashes (accumulator, token), so no overflow (Spark 4 runs ANSI
    * mode by default and would reject a wrapping multiply). */
  def fingerprint(tokens: Column): Column =
    aggregate(tokens, lit(0L), (acc, x) => xxhash64(acc, x))

  /** Near-dup candidate pairs (d1 < d2) within `maxHamming` of each
    * other, via 4×16-bit chunk banding + verification. Guaranteed to
    * contain every pair with hamming ≤ 3 (pigeonhole over 4 chunks);
    * with maxHamming > 3 it is a high-recall heuristic, not exhaustive.
    */
  def simhashNearDups(df: DataFrame, idCol: String, tokensCol: String,
      maxHamming: Int = 3): DataFrame = {
    val sigs = df.select(col(idCol).as("id"),
      simhash(col(tokensCol)).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
      explode(expr(
        "transform(sequence(0, 3), i -> struct(i as idx, shiftright(sig, i * 16) & 65535 as chunk))"))
        .as("c"))
      .select(col("id"), col("sig"), col("c.idx"), col("c.chunk"))
    chunked.select(col("id").as("d1"), col("sig").as("sig1"),
        col("idx"), col("chunk"))
      .join(chunked.select(col("id").as("d2"), col("sig").as("sig2"),
        col("idx").as("idx2"), col("chunk").as("chunk2")),
        col("idx") === col("idx2") && col("chunk") === col("chunk2") &&
          col("d1") < col("d2"))
      .select(col("d1"), col("d2"),
        hamming(col("sig1"), col("sig2")).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
      .orderBy("d1", "d2")
  }
}
