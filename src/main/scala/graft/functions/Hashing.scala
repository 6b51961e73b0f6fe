package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{conv, md5, substring}

/** The engine's one deterministic 60-bit hash: the first 15 hex chars
  * of md5 read as a BIGINT. DuckDB reproduces it as
  * `CAST('0x' || substr(md5(x), 1, 15) AS BIGINT)`, so every value a
  * query derives from it is oracle-checked exactly. Values lie in
  * [0, 2^60), so `h60(x) % N` is nonnegative and matches SQL `%`.
  *
  * Collision bound. Over n distinct inputs,
  * P(any two share a hash) ≈ n²/2^61 (n²/2 pairs, 2^-60 each). It
  * reaches 1e-6 at n ≈ 1.5 million and 1/2 at n ≈ 2^30 ≈ 1.1 billion
  * (exactly 1.18·2^30 ≈ 1.26 billion, from 1 - e^(-n²/2^61)).
  *
  * Where that matters depends on the call site:
  *  - identity: the shingle, chunk and n-gram sets of `graft.ext.Dedup`
  *    (`shingleHashes` and the d-family shingle sets, d08's chunk
  *    hashes, d10's 8-gram set, and `h60jvm` in the signature and CDC
  *    chunk kernels). A collision merges two distinct shingles, so a
  *    Jaccard or containment score can move by 1/|set|. n is the
  *    number of distinct shingles in the corpus: sf0.1 (5,000
  *    documents) has 27,213 distinct 3-token shingles, P ≈ 3e-10.
  *    Past ~10^8 distinct shingles (P ≈ 0.4%) exact set identity needs
  *    the full 128-bit md5, as the band hashes already use;
  *  - sampling and bucketing only: every other site reduces the hash
  *    (`% N`, `& mask` or single bits) or only orders by it: d13's
  *    split, simhash word bits, CDC chunk boundaries, the TextAnalysis
  *    a05/a08/a14 samples, a04 fingerprint, a15 token weights and a18
  *    quota order, Eventing e09's 1-in-10 sample, the Media digests and
  *    the Bench warm-up. There a collision is harmless: two inputs land
  *    in the same bucket, which the reduction already makes common.
  */
object Hashing {

  /** Column form: md5 → first 15 hex chars → BIGINT. */
  def h60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** JVM twin of [[h60]] for per-partition imperative kernels that would
    * otherwise pay the interpreted higher-order-function evaluator.
    * Identical output to the Column form; DedupSpec pins the
    * equivalence. `md` is an MD5 digest the caller reuses per
    * partition. */
  def h60jvm(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val dig = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // first 15 hex chars = 7.5 bytes: 7 full bytes + the high nibble
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (dig(i) & 0xffL); i += 1 }
    (v << 4) | ((dig(7) & 0xf0L) >> 4)
  }
}
