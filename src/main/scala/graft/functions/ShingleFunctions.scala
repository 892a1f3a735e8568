package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

import KernelCall.{Positive, Typed, call}

/** Text-sketch native functions, each one [[KernelCall]] of a
  * [[ShingleKernels]] method.
  *
  * Single-pass shingle hashing: the composable form
  * (`transform(sequence(...), i => substring(s,i,n))`) is O(len²) per
  * document — `substring` re-scans from the string start for every
  * shingle because UTF-8 codepoint offsets aren't random access — and
  * allocates one UTF8String per shingle through an interpreted lambda.
  * Profiled at 13 s for 5 000 docs (sf0.1); the kernels do one O(len)
  * byte-offset sweep and hash shingle bytes in place.
  */
object ShingleFunctions {
  private val strings = ArrayType(StringType)
  private val longs = ArrayType(LongType)
  private val longsOut = ArrayType(LongType, containsNull = false)
  private val stringsOut = ArrayType(StringType, containsNull = false)

  private def kernel(name: String, method: String, dataType: DataType,
      returnNullable: Boolean = false)(args: KernelCall.Arg*): Column =
    call(ShingleKernels, name, method, dataType, returnNullable)(args: _*)

  /** `shingle_hashes(text, n)` → array<bigint>: xxhash64 of every
    * n-codepoint sliding window. Docs shorter than n → empty array.
    * Normalization (lowercasing, whitespace collapse) is the caller's
    * job — those are codegen'd built-ins. */
  def shingle_hashes(text: Column, n: Int): Column =
    kernel("shingle_hashes", "shingleHashes", longsOut)(Typed(text, StringType), Positive("n", n))

  /** `word_tokens(text)` → array<string>: lowercased maximal
    * letter/number runs. Replaces `filter(split(lower(s), regex), ...)`,
    * whose higher-order `filter` ran every word-token sketch path
    * interpreted. */
  def word_tokens(text: Column): Column =
    kernel("word_tokens", "wordTokens", stringsOut)(Typed(text, StringType))

  /** `ngram_hashes(tokens, n)` → array<bigint>: order-sensitive combined
    * hash of every n consecutive tokens (polynomial combine of per-token
    * xxhash64 values — equality of combined hashes ⇔ equality of the
    * n-gram up to 64-bit collision). */
  def ngram_hashes(tokens: Column, n: Int): Column =
    kernel("ngram_hashes", "ngramHashes", longsOut)(Typed(tokens, strings), Positive("n", n))

  /** `minhash_longs(hashes, k)` → array<bigint> minhash signature over a
    * pre-hashed shingle array (Kirsch–Mitzenmacher: h_i = h1 + i·h2 with
    * h1 = v, h2 = mix(v)|1). Empty → null (a doc with no shingles has no
    * meaningful signature and must not collide with everything). */
  def minhash_longs(hashes: Column, k: Int): Column =
    kernel("minhash_longs", "minhashLongs", longsOut, returnNullable = true)(
      Typed(hashes, longs), Positive("k", k))

  /** `sorted_jaccard(a, b)` → exact Jaccard of two SORTED distinct long
    * arrays via a linear merge — O(|a|+|b|) with no per-pair hash set,
    * unlike `array_intersect`/`array_union`. This runs once per
    * candidate PAIR, so it is the hot loop of every verify stage. Inputs
    * must be sorted ascending and duplicate-free (as produced by
    * `array_sort(array_distinct(...))`). Both empty → null. */
  def sorted_jaccard(a: Column, b: Column): Column =
    kernel("sorted_jaccard", "sortedJaccard", DoubleType, returnNullable = true)(
      Typed(a, longs), Typed(b, longs))

  /** `minhash_agreement(a, b)` → count of equal slots in two equal-length
    * minhash signatures; est. Jaccard = agreement / k. Runs once per
    * candidate pair, replacing an interpreted `aggregate(zip_with(...))`
    * lambda chain. Null on length mismatch. */
  def minhash_agreement(a: Column, b: Column): Column =
    kernel("minhash_agreement", "agreement", IntegerType, returnNullable = true)(
      Typed(a, longs), Typed(b, longs))

  /** `ngram_strings(tokens, n)` → array<string>: space-joined n-grams of
    * consecutive tokens in one pass. Fewer than n tokens → empty array. */
  def ngram_strings(tokens: Column, n: Int): Column =
    kernel("ngram_strings", "ngramStrings", stringsOut)(Typed(tokens, strings), Positive("n", n))

  /** `md5_shingle_hashes(text, n)` → array<bigint>: md5-derived 60-bit
    * hash of every n-codepoint window — the PORTABLE sibling of
    * [[shingle_hashes]] (DuckDB recomputes it as
    * `CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)`), used by the
    * oracle-checked fingerprint queries. */
  def md5_shingle_hashes(text: Column, n: Int): Column =
    kernel("md5_shingle_hashes", "md5ShingleHashes", longsOut)(
      Typed(text, StringType), Positive("n", n))

  /** `md5_simhash(tokens)` → 60-bit SimHash as bigint over md5-derived
    * token hashes — the PORTABLE sibling of [[HashFunctions.simhash]],
    * brute-force recomputable in the DuckDB oracle. Empty → null. */
  def md5_simhash(tokens: Column): Column =
    kernel("md5_simhash", "md5SimHash", LongType, returnNullable = true)(Typed(tokens, strings))

  /** `md5_ngram_hashes(tokens, n)` → array<bigint>: md5-60 of every
    * space-joined n-token window — the PORTABLE word-ngram sibling of
    * [[ngram_hashes]] (DuckDB recomputes each gram hash from the joined
    * string), feeding oracle-checked exact-Jaccard paths. */
  def md5_ngram_hashes(tokens: Column, n: Int): Column =
    kernel("md5_ngram_hashes", "md5NgramHashes", longsOut)(Typed(tokens, strings), Positive("n", n))

  /** `md5_ngram_minhash(tokens, n, k)` → array<bigint>: k-slot
    * salted-md5 minhash signature over word n-grams — k independent
    * hash functions, each slot brute-force recomputable in DuckDB as
    * `list_min(list_transform(grams, g -> md5_60(s || '|' || g)))`.
    * Null when the doc has fewer than n tokens. */
  def md5_ngram_minhash(tokens: Column, n: Int, k: Int): Column =
    kernel("md5_ngram_minhash", "md5NgramMinhash", longsOut, returnNullable = true)(
      Typed(tokens, strings), Positive("n", n), Positive("k", k))

  /** `winnow_minima(hashes, w)` → array<bigint>: distinct minima of
    * every w-wide sliding window — the winnowing fingerprint selection
    * over a rolling-hash array, one O(n) deque pass instead of an
    * interpreted transform/slice/array_min chain. [] → []. The hashes
    * may not hold nulls. */
  def winnow_minima(hashes: Column, w: Int): Column =
    kernel("winnow_minima", "winnowMinima", longsOut)(Typed(hashes, longsOut), Positive("w", w))

  /** `winnow_anchors(hashes, w)` → array<struct<pos:int, fp:bigint>>:
    * the winnowing selection of [[winnow_minima]] WITH the selected gram
    * positions kept — the anchor set substring-run stitching needs
    * (matching anchors on a shared diagonal stitch into duplicated-run
    * estimates). Tie rule pinned in [[ShingleKernels.winnowAnchors]]:
    * last index at the window minimum. [] → []. */
  def winnow_anchors(hashes: Column, w: Int): Column =
    kernel("winnow_anchors", "winnowAnchors", ArrayType(StructType(Seq(
        StructField("pos", IntegerType, nullable = false),
        StructField("fp", LongType, nullable = false))), containsNull = false))(
      Typed(hashes, longsOut), Positive("w", w))

  /** `luhn_valid_count(arr)` → bigint: members of a string array passing
    * the Luhn checksum. `size(filter(arr, c -> luhn_check(c)))` would run
    * the higher-order filter interpreted. */
  def luhn_valid_count(arr: Column): Column =
    kernel("luhn_valid_count", "luhnValidCount", LongType)(Typed(arr, strings))

  /** `iban_valid_count(arr)` → bigint: members of an uppercase-IBAN
    * string array passing ISO-7064 mod-97-10 (rotate first 4 chars to
    * the end, A→10…Z→35, fold mod 97 = 1). */
  def iban_valid_count(arr: Column): Column =
    kernel("iban_valid_count", "ibanValidCount", LongType)(Typed(arr, strings))

  /** `syllable_count(arr)` → bigint: Flesch syllable estimate over a
    * words() token array — per token, maximal `[aeiouy]+` vowel groups
    * floored at 1, summed (the floor comes from the token array itself,
    * not a global-regex identity). */
  def syllable_count(arr: Column): Column =
    kernel("syllable_count", "syllableCount", LongType)(Typed(arr, strings))

  /** `min_full_period(s)` → bigint: smallest full-cycle period of the
    * string (KMP failure function, [[ShingleKernels.minFullPeriod]]) —
    * the loop/spam detector's primitive. */
  def min_full_period(s: Column): Column =
    kernel("min_full_period", "minFullPeriod", LongType)(Typed(s, StringType))

  /** `char_syms(s)` → array<string>: per-codepoint single-char split —
    * the BPE initial symbol state, replacing the interpreted O(len²)
    * `transform(sequence(...), i -> substring(s, i, 1))`. */
  def char_syms(s: Column): Column =
    kernel("char_syms", "charSyms", stringsOut)(Typed(s, StringType))

  /** `bpe_apply_merges(syms, lefts, rights)` → array<string>: a whole
    * round-ordered merge table applied in ONE projection
    * ([[ShingleKernels.bpeApplyMerges]]) — the encoder's replacement
    * for ≤ 64 sequential join+window+agg+checkpoint rounds. */
  def bpe_apply_merges(syms: Column, ls: Column, rs: Column): Column =
    kernel("bpe_apply_merges", "bpeApplyMerges", stringsOut)(
      Typed(syms, strings), Typed(ls, strings), Typed(rs, strings))

  /** `adjacent_pairs(tokens, f1, f2)` → array<struct<f1,f2>>: adjacent
    * token pairs ([[ShingleKernels.adjacentPairs]]); field names are
    * caller-chosen so existing `.getField` consumers keep working. */
  def adjacent_pairs(tokens: Column, f1: String = "w1", f2: String = "w2"): Column =
    kernel("adjacent_pairs", "adjacentPairs", tuples(f1, f2))(Typed(tokens, strings))

  /** `adjacent_triples(tokens, f1, f2, f3)` — the 3-token sibling. */
  def adjacent_triples(tokens: Column, f1: String = "w1",
      f2: String = "w2", f3: String = "w3"): Column =
    kernel("adjacent_triples", "adjacentTriples", tuples(f1, f2, f3))(Typed(tokens, strings))

  private def tuples(fields: String*): DataType = ArrayType(StructType(
    fields.map(StructField(_, StringType, nullable = true))), containsNull = false)
}
