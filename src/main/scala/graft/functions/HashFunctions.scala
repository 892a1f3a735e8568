package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}

import KernelCall.{Positive, Typed, call}

/** Sketch functions for near-duplicate detection (SURVEY tier-B;
  * generalizes the reference's keyed exact dedup,
  * publish_to_catalog.py:93-124, to fuzzy matching at scale).
  *
  * Both compute the full sketch in ONE pass over the tokens via
  * [[ShingleKernels]] — the composable-built-in alternative
  * (`transform` + `array_min` per hash function) re-walks the token
  * array k times through interpreted lambdas.
  */
object HashFunctions {

  /** `minhash(tokens, k)` → array<bigint> of k minhash values over a
    * string-token array (Kirsch–Mitzenmacher double hashing: two real
    * xxhash64 passes per token, then h_i = h1 + i·h2). Empty token
    * array → null. */
  def minhash(tokens: Column, numHashes: Int): Column =
    call(ShingleKernels, "minhash", "minhashTokens",
      ArrayType(LongType, containsNull = false), returnNullable = true)(
      Typed(tokens, ArrayType(StringType)), Positive("k", numHashes))

  /** `simhash(tokens)` → 64-bit SimHash as bigint: per-token xxhash64,
    * each bit votes ±1, sign of the tally sets the output bit. Documents
    * with small Hamming distance between simhashes share most tokens.
    * Empty → null. */
  def simhash(tokens: Column): Column =
    call(ShingleKernels, "simhash", "simhash", LongType, returnNullable = true)(
      Typed(tokens, ArrayType(StringType)))

  def hamming64(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.bit_count
    bit_count(a.bitwiseXOR(b))
  }
}
