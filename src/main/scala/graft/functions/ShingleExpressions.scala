package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnaryExpression}
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types._

/** Single-pass shingle hashing.
  *
  * The composable form (`transform(sequence(...), i => substring(s,i,n))`)
  * is O(len²) per document — `substring` re-scans from the string start
  * for every shingle because UTF-8 codepoint offsets aren't random
  * access — and allocates one UTF8String per shingle through an
  * interpreted lambda. Profiled at 13 s for 5 000 docs (sf0.1); these
  * expressions do one O(len) byte-offset sweep via [[ShingleKernels]]
  * and hash shingle bytes in place, no per-shingle allocation.
  *
  * All expressions implement `doGenCode` as a static kernel call, so
  * the sketch projections stay inside whole-stage codegen spans
  * instead of breaking them at an interpreted `eval` boundary.
  */

private[functions] object K {
  val cls = "graft.functions.ShingleKernels"

  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult

  // analysis-time input checks shared by every expression below: a wrong
  // child type would misread UnsafeArrayData slots as (offset, len) pairs
  // and fail per-row at execution instead of once at analysis.
  def expect(name: String, actual: DataType, ok: DataType => Boolean,
             expected: String): TypeCheckResult =
    if (ok(actual)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects $expected, got ${actual.sql}")

  val isString: DataType => Boolean = _ == StringType
  val isStringArray: DataType => Boolean = {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  val isLongArray: DataType => Boolean = {
    case ArrayType(LongType, _) => true
    case _ => false
  }
}

/** `shingle_hashes(text, n)` → array<bigint>: xxhash64 of every
  * n-codepoint sliding window. Docs shorter than n → empty array.
  * Normalization (lowercasing, whitespace collapse) is the caller's
  * job — those are codegen'd built-ins. */
case class ShingleHashes(child: Expression, shingleLen: Int)
    extends UnaryExpression {
  require(shingleLen > 0, s"shingle_hashes: n must be positive, got $shingleLen")

  override def checkInputDataTypes() =
    K.expect("shingle_hashes", child.dataType, K.isString, "string")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.shingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], shingleLen)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.shingleHashes($c, $shingleLen)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `word_tokens(text)` → array<string>: lowercased maximal
  * letter/number runs. Replaces `filter(split(lower(s), regex), ...)`
  * — the higher-order `filter` disqualifies its whole projection from
  * whole-stage codegen, which made every word-token sketch path run
  * interpreted. */
case class WordTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes() =
    K.expect("word_tokens", child.dataType, K.isString, "string")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.wordTokens(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.wordTokens($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `ngram_hashes(tokens, n)` → array<bigint>: order-sensitive combined
  * hash of every n consecutive tokens (polynomial combine of per-token
  * xxhash64 values — equality of combined hashes ⇔ equality of the
  * n-gram up to 64-bit collision). */
case class NGramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"ngram_hashes: n must be positive, got $n")

  override def checkInputDataTypes() =
    K.expect("ngram_hashes", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.ngramHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.ngramHashes($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `minhash_longs(hashes, k)` → array<bigint> minhash signature over a
  * pre-hashed shingle array (Kirsch–Mitzenmacher: h_i = h1 + i·h2 with
  * h1 = v, h2 = mix(v)|1). Empty → null (a doc with no shingles has no
  * meaningful signature and must not collide with everything). */
case class MinHashFromLongs(child: Expression, numHashes: Int)
    extends UnaryExpression {
  require(numHashes > 0, s"minhash_longs: k must be positive, got $numHashes")

  override def checkInputDataTypes() =
    K.expect("minhash_longs", child.dataType, K.isLongArray, "array<bigint>")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.minhashLongs(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], numHashes)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ${K.cls}.minhashLongs($c, $numHashes);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `sorted_jaccard(a, b)` → exact Jaccard of two SORTED distinct
  * long arrays via a linear merge — O(|a|+|b|) with no per-pair hash
  * set, unlike `array_intersect`/`array_union`. This runs once per
  * candidate PAIR (not per doc), so it is the hot loop of every
  * verify stage. Inputs must be sorted ascending and duplicate-free
  * (as produced by `array_sort(array_distinct(...))`). Both empty →
  * null. */
case class SortedLongJaccard(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes() = {
    val l = K.expect("sorted_jaccard", left.dataType, K.isLongArray, "array<bigint>")
    if (l.isFailure) l
    else K.expect("sorted_jaccard", right.dataType, K.isLongArray, "array<bigint>")
  }

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val j = ShingleKernels.sortedJaccard(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (j.isNaN) null else java.lang.Double.valueOf(j)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      ${ev.value} = ${K.cls}.sortedJaccard($x, $y);
      if (Double.isNaN(${ev.value})) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `minhash_agreement(a, b)` → count of equal slots in two equal-length
  * minhash signatures; est. Jaccard = agreement / k. Runs once per
  * candidate pair, replacing an interpreted `aggregate(zip_with(...))`
  * lambda chain. Null on length mismatch. */
case class MinHashAgreement(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes() = {
    val l = K.expect("minhash_agreement", left.dataType, K.isLongArray, "array<bigint>")
    if (l.isFailure) l
    else K.expect("minhash_agreement", right.dataType, K.isLongArray, "array<bigint>")
  }

  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val eq = ShingleKernels.agreement(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])
    if (eq < 0) null else java.lang.Integer.valueOf(eq)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => s"""
      ${ev.value} = ${K.cls}.agreement($x, $y);
      if (${ev.value} < 0) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `ngram_strings(tokens, n)` → array<string>: space-joined n-grams of
  * consecutive tokens in one pass (see ShingleKernels.ngramStrings).
  * Fewer than n tokens → empty array; null → null. */
case class NGramStrings(child: Expression, n: Int) extends UnaryExpression {
  // fail at analysis, not per-row at execution: n ≤ 0 would allocate a
  // negative array (or emit m+1 empty grams), and a non-string array
  // child would misread UnsafeArrayData slots as (offset, len) pairs
  require(n > 0, s"ngram_strings: n must be positive, got $n")

  override def checkInputDataTypes() =
    K.expect("ngram_strings", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.ngramStrings(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.ngramStrings($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `md5_shingle_hashes(text, n)` → array<bigint>: md5-derived 60-bit
  * hash of every n-codepoint window — the PORTABLE sibling of
  * [[ShingleHashes]] (DuckDB recomputes it as
  * `CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT)`), used by the
  * oracle-checked fingerprint queries. */
case class Md5ShingleHashes(child: Expression, shingleLen: Int)
    extends UnaryExpression {
  require(shingleLen > 0,
    s"md5_shingle_hashes: n must be positive, got $shingleLen")

  override def checkInputDataTypes() =
    K.expect("md5_shingle_hashes", child.dataType, K.isString, "string")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.md5ShingleHashes(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String], shingleLen)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.md5ShingleHashes($c, $shingleLen)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `md5_simhash(tokens)` → 60-bit SimHash as bigint over md5-derived
  * token hashes — the PORTABLE sibling of [[SimHash64]], brute-force
  * recomputable in the DuckDB oracle. Empty/null → null. */
case class Md5SimHash(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes() =
    K.expect("md5_simhash", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    if (arr.numElements() == 0) null
    else java.lang.Long.valueOf(ShingleKernels.md5SimHash(arr))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      if ($c.numElements() == 0) { ${ev.isNull} = true; }
      else { ${ev.value} = ${K.cls}.md5SimHash($c); }
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `md5_ngram_hashes(tokens, n)` → array<bigint>: md5-60 of every
  * space-joined n-token window — the PORTABLE word-ngram sibling of
  * [[NGramHashes]] (DuckDB recomputes each gram hash from the joined
  * string), feeding oracle-checked exact-Jaccard paths. */
case class Md5NGramHashes(child: Expression, n: Int)
    extends UnaryExpression {
  require(n > 0, s"md5_ngram_hashes: n must be positive, got $n")

  override def checkInputDataTypes() =
    K.expect("md5_ngram_hashes", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.md5NgramHashes(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.md5NgramHashes($c, $n)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `md5_ngram_minhash(tokens, n, k)` → array<bigint>: k-slot
  * salted-md5 minhash signature over word n-grams — k independent
  * hash functions, each slot brute-force recomputable in DuckDB as
  * `list_min(list_transform(grams, g -> md5_60(s || '|' || g)))`.
  * Null when the doc has fewer than n tokens. */
case class Md5NGramMinHash(child: Expression, n: Int, k: Int)
    extends UnaryExpression {
  require(n > 0, s"md5_ngram_minhash: n must be positive, got $n")
  require(k > 0, s"md5_ngram_minhash: k must be positive, got $k")

  override def checkInputDataTypes() =
    K.expect("md5_ngram_minhash", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.md5NgramMinhash(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], n, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ${K.cls}.md5NgramMinhash($c, $n, $k);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `winnow_minima(hashes, w)` → array<bigint>: distinct minima of
  * every w-wide sliding window — the winnowing fingerprint selection
  * over a rolling-hash array, one O(n) deque pass in the kernel
  * instead of an interpreted transform/slice/array_min chain. Null →
  * null; [] → []. */
case class WinnowMinima(child: Expression, w: Int)
    extends UnaryExpression {
  require(w > 0, s"winnow_minima: w must be positive, got $w")

  override def checkInputDataTypes() =
    K.expect("winnow_minima", child.dataType,
      _ == ArrayType(LongType, containsNull = false), "array<bigint>")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.winnowMinima(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.winnowMinima($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `winnow_anchors(hashes, w)` → array<struct<pos:int, fp:bigint>>:
  * the winnowing selection of [[WinnowMinima]] WITH the selected gram
  * positions kept — the anchor set substring-run stitching needs
  * (matching anchors on a shared diagonal stitch into duplicated-run
  * estimates). Tie rule pinned in [[ShingleKernels.winnowAnchors]]:
  * last index at the window minimum. Null → null; [] → []. */
case class WinnowAnchors(child: Expression, w: Int)
    extends UnaryExpression {
  require(w > 0, s"winnow_anchors: w must be positive, got $w")

  override def checkInputDataTypes() =
    K.expect("winnow_anchors", child.dataType,
      _ == ArrayType(LongType, containsNull = false), "array<bigint>")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", LongType, nullable = false))), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.winnowAnchors(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], w)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.winnowAnchors($c, $w)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `luhn_valid_count(arr)` → bigint: members of a string array passing
  * the Luhn checksum. Exists because `size(filter(arr, c ->
  * luhn_check(c)))` runs the higher-order filter INTERPRETED and
  * disqualifies its whole projection from whole-stage codegen (the
  * round-9 trap) — this is one static call inside the span. */
case class LuhnValidCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "luhn_valid_count"

  override def checkInputDataTypes() =
    K.expect("luhn_valid_count", child.dataType,
      K.isStringArray, "array<string>")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.luhnValidCount(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.luhnValidCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `iban_valid_count(arr)` → bigint: members of an uppercase-IBAN
  * string array passing ISO-7064 mod-97-10 (rotate first 4 chars to
  * the end, A→10…Z→35, fold mod 97 = 1). Same codegen rationale as
  * [[LuhnValidCount]]. */
case class IbanValidCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "iban_valid_count"

  override def checkInputDataTypes() =
    K.expect("iban_valid_count", child.dataType,
      K.isStringArray, "array<string>")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.ibanValidCount(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.ibanValidCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `syllable_count(arr)` → bigint: Flesch syllable estimate over a
  * words() token array — per token, maximal `[aeiouy]+` vowel groups
  * floored at 1, summed (ADVICE r16: derive the floor from the token
  * array itself, not a global-regex identity). One static call inside
  * the codegen span, same rationale as [[LuhnValidCount]]. */
case class SyllableCount(child: Expression) extends UnaryExpression {
  override def prettyName: String = "syllable_count"

  override def checkInputDataTypes() =
    K.expect("syllable_count", child.dataType,
      K.isStringArray, "array<string>")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.syllableCount(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.syllableCount($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `min_full_period(s)` → bigint: smallest full-cycle period of the
  * string (KMP failure function, [[ShingleKernels.minFullPeriod]]) —
  * the loop/spam detector's primitive. One static call inside the
  * codegen span. */
case class MinFullPeriod(child: Expression) extends UnaryExpression {
  override def prettyName: String = "min_full_period"

  override def checkInputDataTypes() =
    K.expect("min_full_period", child.dataType, K.isString, "string")

  override def dataType: DataType = LongType

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.minFullPeriod(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.minFullPeriod($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `char_syms(s)` → array<string>: per-codepoint single-char split —
  * the BPE initial symbol state ([[ShingleKernels.charSyms]]). One
  * static call inside the codegen span, replacing the interpreted
  * O(len²) `transform(sequence(...), i -> substring(s, i, 1))`. */
case class CharSyms(child: Expression) extends UnaryExpression {
  override def prettyName: String = "char_syms"

  override def checkInputDataTypes() =
    K.expect("char_syms", child.dataType, K.isString, "string")

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.charSyms(
      input.asInstanceOf[org.apache.spark.unsafe.types.UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.charSyms($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `bpe_apply_merges(syms, lefts, rights)` → array<string>: a whole
  * round-ordered merge table applied in ONE projection
  * ([[ShingleKernels.bpeApplyMerges]]) — the encoder's replacement
  * for ≤ 64 sequential join+window+agg+checkpoint rounds. */
case class BpeApplyMerges(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {
  override def prettyName: String = "bpe_apply_merges"

  override def checkInputDataTypes() = {
    val a = K.expect("bpe_apply_merges", first.dataType,
      K.isStringArray, "array<string>")
    if (a.isFailure) a
    else {
      val b = K.expect("bpe_apply_merges", second.dataType,
        K.isStringArray, "array<string>")
      if (b.isFailure) b
      else K.expect("bpe_apply_merges", third.dataType,
        K.isStringArray, "array<string>")
    }
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(syms: Any, ls: Any, rs: Any): Any =
    ShingleKernels.bpeApplyMerges(
      syms.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      ls.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      rs.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (s, l, r) =>
      s"${K.cls}.bpeApplyMerges($s, $l, $r)")

  override protected def withNewChildrenInternal(a: Expression, b: Expression,
      c: Expression): Expression = copy(first = a, second = b, third = c)
}

/** `adjacent_pairs(tokens, f1, f2)` → array<struct<f1,f2>>: adjacent
  * token pairs ([[ShingleKernels.adjacentPairs]]); field names are
  * caller-chosen so existing `.getField` consumers keep working. */
case class AdjacentPairs(child: Expression, f1: String, f2: String)
    extends UnaryExpression {
  override def prettyName: String = "adjacent_pairs"

  override def checkInputDataTypes() =
    K.expect("adjacent_pairs", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(f1, StringType, nullable = true),
    StructField(f2, StringType, nullable = true))), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.adjacentPairs(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.adjacentPairs($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `adjacent_triples(tokens, f1, f2, f3)` — the 3-token sibling. */
case class AdjacentTriples(child: Expression, f1: String, f2: String,
    f3: String) extends UnaryExpression {
  override def prettyName: String = "adjacent_triples"

  override def checkInputDataTypes() =
    K.expect("adjacent_triples", child.dataType, K.isStringArray, "array<string>")

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField(f1, StringType, nullable = true),
    StructField(f2, StringType, nullable = true),
    StructField(f3, StringType, nullable = true))), containsNull = false)

  override def nullSafeEval(input: Any): Any =
    ShingleKernels.adjacentTriples(
      input.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"${K.cls}.adjacentTriples($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object ShingleFunctions {
  def adjacent_pairs(tokens: Column, f1: String = "w1", f2: String = "w2"): Column =
    toColumn(AdjacentPairs(toExpression(tokens), f1, f2))
  def adjacent_triples(tokens: Column, f1: String = "w1",
      f2: String = "w2", f3: String = "w3"): Column =
    toColumn(AdjacentTriples(toExpression(tokens), f1, f2, f3))
  def char_syms(s: Column): Column =
    toColumn(CharSyms(toExpression(s)))
  def bpe_apply_merges(syms: Column, ls: Column, rs: Column): Column =
    toColumn(BpeApplyMerges(toExpression(syms), toExpression(ls), toExpression(rs)))
  def min_full_period(s: Column): Column =
    toColumn(MinFullPeriod(toExpression(s)))
  def syllable_count(arr: Column): Column =
    toColumn(SyllableCount(toExpression(arr)))
  def luhn_valid_count(arr: Column): Column =
    toColumn(LuhnValidCount(toExpression(arr)))
  def iban_valid_count(arr: Column): Column =
    toColumn(IbanValidCount(toExpression(arr)))
  def winnow_minima(hashes: Column, w: Int): Column =
    toColumn(WinnowMinima(toExpression(hashes), w))
  def winnow_anchors(hashes: Column, w: Int): Column =
    toColumn(WinnowAnchors(toExpression(hashes), w))
  def word_tokens(text: Column): Column =
    toColumn(WordTokens(toExpression(text)))
  def minhash_agreement(a: Column, b: Column): Column =
    toColumn(MinHashAgreement(toExpression(a), toExpression(b)))
  def shingle_hashes(text: Column, n: Int): Column =
    toColumn(ShingleHashes(toExpression(text), n))
  def ngram_hashes(tokens: Column, n: Int): Column =
    toColumn(NGramHashes(toExpression(tokens), n))
  def md5_ngram_hashes(tokens: Column, n: Int): Column =
    toColumn(Md5NGramHashes(toExpression(tokens), n))
  def md5_ngram_minhash(tokens: Column, n: Int, k: Int): Column =
    toColumn(Md5NGramMinHash(toExpression(tokens), n, k))
  def minhash_longs(hashes: Column, k: Int): Column =
    toColumn(MinHashFromLongs(toExpression(hashes), k))
  def sorted_jaccard(a: Column, b: Column): Column =
    toColumn(SortedLongJaccard(toExpression(a), toExpression(b)))
  def md5_shingle_hashes(text: Column, n: Int): Column =
    toColumn(Md5ShingleHashes(toExpression(text), n))
  def ngram_strings(tokens: Column, n: Int): Column =
    toColumn(NGramStrings(toExpression(tokens), n))
  def md5_simhash(tokens: Column): Column =
    toColumn(Md5SimHash(toExpression(tokens)))
}
