package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for large-scale corpus pipelines, composed
  * entirely from codegen'd built-ins (`org.apache.spark.sql.functions`)
  * so they stay inside whole-stage codegen — no UDFs on the hot path.
  *
  * Generalizes the reference's cell-normalization semantics
  * (publish_to_catalog.py:148-154 quote/whitespace strip, :156-171
  * tokenize-by-delimiter) to corpus scale.
  */
object TextFunctions {

  /** Whitespace tokenization; empty string → empty array (split of ""
    * yields [""], filtered here). */
  def tokens(text: Column): Column =
    filter(split(trim(text), "\\s+"), t => length(t) > 0)

  /** Canonical text normalization — the cleanup pass a corpus build
    * runs BEFORE hashing/sketching, so that cosmetic variants (smart
    * quotes, stray control bytes, zero-width marks, ragged whitespace)
    * cannot defeat exact dedup or shift shingle hashes. Deliberately
    * conservative: no case folding, no Unicode NFC (locale/ICU
    * dependencies would break engine portability) — just the
    * mechanical classes, each a plain character-class regex that RE2
    * (DuckDB) and java.util.regex (Spark) interpret identically:
    *
    *  1. zero-width marks (ZWSP/ZWNJ/ZWJ/BOM) → removed
    *  2. control chars (C0 + DEL) → space
    *  3. curly double/single quotes → ASCII
    *  4. em/en dashes → hyphen
    *  5. whitespace runs → one space, ends trimmed
    *
    * Idempotent by construction (each rule's output is a fixed point
    * of every rule — property-tested), so re-normalizing an already
    * clean corpus is a no-op, which makes incremental pipelines safe
    * to re-run. */
  /** The normalization rules as (pattern, replacement) pairs — ONE
    * rendering shared by the Column API, the SQL registration
    * (GraftExtensions builds the same RegExpReplace chain from these),
    * and mirrored by the DuckDB oracle. \x{...} escapes parse
    * identically in java.util.regex and RE2. */
  private[graft] val normalizeRules: Seq[(String, String)] = Seq(
    "[\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]" -> "",
    "[\\x{00}-\\x{1F}\\x{7F}]" -> " ",
    "[\\x{201C}\\x{201D}]" -> "\"",
    "[\\x{2018}\\x{2019}]" -> "'",
    "[\\x{2013}\\x{2014}]" -> "-",
    " +" -> " ")

  def normalizeText(text: Column): Column =
    trim(normalizeRules.foldLeft(text) { case (c, (p, r)) =>
      regexp_replace(c, p, r)
    })

  /** Lowercased alphanumeric word tokens — a BPE-ish pre-tokenizer:
    * splits on any non-alphanumeric run, like the GPT-2 regex's word
    * classes collapsed to [letters|digits]. Native expression
    * (codegen'd, one pass, no regex) — the HOF formulation
    * `filter(split(...))` excluded every consuming projection from
    * whole-stage codegen. */
  def words(text: Column): Column = ShingleFunctions.word_tokens(text)

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** md5-60 of the stringified key — the ONE Spark-built-in rendering
    * of the portable hash bucket (must stay equal to the oracle's
    * md5Hash60Sql: first 15 md5 hex chars as a 60-bit integer).
    * Shared by the split/sample/threshold operators (TextAnalysis)
    * and the sampling gates (Profile) — one rendering, one contract. */
  def md5Bucket60(key: Column): Column =
    conv(substring(md5(key.cast("string")), 1, 15), 16, 10).cast("bigint")

  /** Case/whitespace-normalized text for shingling. */
  def normText(text: Column): Column =
    regexp_replace(lower(trim(text)), "\\s+", " ")

  /** Word n-gram shingles (arrays of n consecutive word tokens joined
    * by a space). Native one-pass expression — the HOF formulation
    * (`transform(sequence, i => array_join(slice(...)))`) ran its
    * lambdas interpreted and dominated the contamination/repetition
    * query profiles. */
  def wordShingles(text: Column, n: Int): Column =
    ShingleFunctions.ngram_strings(words(text), n)

  /** Exact Jaccard similarity of two token-set columns. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    val uni = size(array_union(a, b)).cast("double")
    when(uni === 0, lit(null).cast("double")).otherwise(inter / uni)
  }

  // --- language identification (stopword/char-class heuristic) -------

  /** Tiny per-language function-word profiles. A real pipeline would
    * load trained n-gram profiles; the heuristic keeps the operator
    * deterministic and dependency-free while exercising the same plan
    * shape (per-doc scoring against broadcast profiles). */
  private[graft] val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "it", "for", "with", "as", "was", "on", "are", "this"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "von", "mit", "ein", "eine", "zu", "den", "im", "für", "auf"),
    "es" -> Seq("el", "la", "los", "las", "de", "que", "y", "en", "un", "una", "es", "por", "con", "para", "del"),
    "fr" -> Seq("le", "la", "les", "de", "des", "et", "en", "un", "une", "est", "que", "pour", "dans", "du", "sur"),
  )

  /** Per-language stopword hit count for `ws` = words(text). */
  private def score(ws: Column, lang: String): Column =
    size(array_intersect(ws, array(stopwords(lang).map(lit): _*)))

  /** `lang_id(text)` → predicted language code in {en,de,es,fr,zh,und}.
    * CJK characters dominate (zh has no space-delimited stopwords);
    * otherwise argmax of stopword hits, `und` when no profile fires. */
  def langId(text: Column): Column = {
    val ws = words(text)
    val langs = stopwords.keys.toSeq.sorted
    // array of (score, lang) structs; array_max picks lexicographically
    // largest = highest score, ties broken by later language code.
    val scored = array(langs.map(l =>
      struct(score(ws, l).as("s"), lit(l).as("l"))): _*)
    val best = array_max(scored)
    when(text.rlike("[\\p{IsHan}]"), lit("zh"))
      .when(best.getField("s") > 0, best.getField("l"))
      .otherwise(lit("und"))
  }

  // --- quality scoring ----------------------------------------------

  /** Heuristic quality features (Gopher/C4-style corpus filters):
    * doc length, mean word length, alpha ratio, punctuation density,
    * stopword ratio — plus a single [0,1] score combining them. */
  def qualityFeatures(text: Column): Column = {
    val nChars = length(text).cast("double")
    val ws = words(text)
    val nWords = size(ws).cast("double")
    // sum-of-word-lengths as length(array_join(ws, "")) — same value
    // as an aggregate() fold, but stays codegen'd (any HOF in the
    // projection would drop the whole stage to the interpreted path)
    val meanWordLen = when(nWords > 0,
      length(array_join(ws, "")).cast("double") / nWords)
    val alphaRatio = when(nChars > 0,
      length(regexp_replace(text, "[^\\p{L}]", "")).cast("double") / nChars)
    val punctRatio = when(nChars > 0,
      length(regexp_replace(text, "[^.,;:!?]", "")).cast("double") / nChars)
    val allStops = array(stopwords.values.flatten.toSeq.distinct.map(lit): _*)
    val stopRatio = when(nWords > 0,
      size(array_intersect(ws, allStops)).cast("double") / nWords)
    struct(
      nWords.as("n_words"),
      meanWordLen.as("mean_word_len"),
      alphaRatio.as("alpha_ratio"),
      punctRatio.as("punct_ratio"),
      stopRatio.as("stopword_ratio"))
  }

  /** UNROUNDED quality score: every term is exact-operand double
    * arithmetic (comparisons, coalesce, one division — no libm, no
    * rounding function), so the value is bit-identical on any engine —
    * the column to RANK on (round() implementations may differ in the
    * last ulp at decimal half boundaries; ranking on rounded scores
    * would inherit that hazard into top-k membership). */
  def qualityScoreRaw(text: Column): Column = {
    val f = qualityFeatures(text)
    val lenOk = when(f.getField("n_words").between(5, 100000), 1.0).otherwise(0.0)
    val wordLenOk = when(f.getField("mean_word_len").between(2.0, 12.0), 1.0).otherwise(0.0)
    val alphaOk = coalesce(f.getField("alpha_ratio"), lit(0.0))
    val punctOk = lit(1.0) - least(coalesce(f.getField("punct_ratio"), lit(0.0)) * 5, lit(1.0))
    (lenOk + wordLenOk + alphaOk + punctOk) / 4
  }

  /** Scalar quality score in [0,1], rounded to 6 decimals for OUTPUT:
    * penalize too-short docs, extreme word lengths, low alpha ratio,
    * punctuation walls. */
  def qualityScore(text: Column): Column = round(qualityScoreRaw(text), 6)

  // --- fingerprinting -----------------------------------------------

  /** Bottom-k document fingerprint: the k smallest distinct shingle
    * hashes — an order-invariant locality sketch (winnowing's bottom-k
    * cousin); equal fingerprints ⇒ near-identical content. */
  def fingerprint(text: Column, shingleLen: Int = 8, k: Int = 16): Column =
    slice(array_sort(array_distinct(
      ShingleFunctions.shingle_hashes(normText(text), shingleLen))), 1, k)

  /** Portable sibling of [[fingerprint]] over the md5-60 hash family —
    * element-for-element recomputable in the DuckDB oracle (the xx64
    * form above stays the fast path). */
  def fingerprintMd5(text: Column, shingleLen: Int = 8, k: Int = 16): Column =
    slice(array_sort(array_distinct(
      ShingleFunctions.md5_shingle_hashes(normText(text), shingleLen))), 1, k)
}
