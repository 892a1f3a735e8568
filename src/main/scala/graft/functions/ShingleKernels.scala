package graft.functions

import org.apache.spark.sql.catalyst.expressions.{XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Imperative kernels behind the text-sketch functions
  * ([[ShingleFunctions]], [[HashFunctions]]). Kept in a top-level
  * object so Scala emits static forwarders: a [[KernelCall]] calls them
  * as static methods (`ShingleKernels.xxx(...)`) from whole-stage
  * codegen and interpreted eval alike.
  */
object ShingleKernels {

  @inline private def cpLen(b: Byte): Int =
    if ((b & 0x80) == 0) 1
    else if ((b & 0xE0) == 0xC0) 2
    else if ((b & 0xF0) == 0xE0) 3
    else 4

  /** murmur3 fmix64 — cheap high-quality long mixer. */
  @inline def mix(zIn: Long): Long = {
    var z = zIn
    z = (z ^ (z >>> 33)) * 0xff51afd7ed558ccdL
    z = (z ^ (z >>> 33)) * 0xc4ceb9fe1a85ec53L
    z ^ (z >>> 33)
  }

  /** xxhash64 of every n-codepoint sliding window; one O(len) sweep. */
  def shingleHashes(s: UTF8String, shingleLen: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var nCp = 0
    var i = 0
    val starts = new Array[Int](len + 1)
    while (i < len) {
      starts(nCp) = i
      i += cpLen(bytes(i))
      nCp += 1
    }
    starts(nCp) = len
    if (nCp < shingleLen) return new GenericArrayData(Array.emptyLongArray)
    val out = new Array[Long](nCp - shingleLen + 1)
    var w = 0
    while (w + shingleLen <= nCp) {
      out(w) = XXH64.hashUnsafeBytes(bytes,
        Platform.BYTE_ARRAY_OFFSET + starts(w),
        starts(w + shingleLen) - starts(w), 0L)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Order-sensitive combined hash of every n consecutive tokens. */
  def ngramHashes(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](m)
    var i = 0
    while (i < m) {
      val t = arr.getUTF8String(i)
      th(i) = if (t == null) 0L
        else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes(), 0L)
      i += 1
    }
    val out = new Array[Long](m - n + 1)
    var w = 0
    while (w + n <= m) {
      var c = 0x9E3779B97F4A7C15L
      var j = 0
      while (j < n) {
        c = mix(c ^ th(w + j)) + java.lang.Long.rotateLeft(c, 17)
        j += 1
      }
      out(w) = c
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Space-joined n-gram STRINGS of a token array, one pass — the
    * native form of `transform(sequence(...), i => array_join(slice(
    * tokens, i, n), " "))`, whose interpreted HOF lambdas and per-gram
    * slice allocations dominated the contamination/repetition query
    * profiles. Output equals the HOF form element-for-element. */
  def ngramStrings(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[Any])
    val toks = new Array[UTF8String](m)
    var i = 0
    while (i < m) { toks(i) = arr.getUTF8String(i); i += 1 }
    val sep = UTF8String.fromString(" ")
    val out = new Array[Any](m - n + 1)
    val window = new Array[UTF8String](n)
    var w = 0
    while (w + n <= m) {
      var j = 0
      while (j < n) { window(j) = toks(w + j); j += 1 }
      out(w) = UTF8String.concatWs(sep, window: _*)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** Kirsch–Mitzenmacher minhash over pre-hashed shingles; null for an
    * empty array. */
  def minhashLongs(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h1 = arr.getLong(i)
      val h2 = mix(h1) | 1L
      var v = h1
      var h = 0
      while (h < numHashes) {
        if (v < mins(h)) mins(h) = v
        v += h2
        h += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** One-pass KM minhash over tokens of a string array (2 real hashes
    * per token). Returns null for empty arrays. */
  def minhashTokens(arr: ArrayData, numHashes: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h1 = XxHash64Function.hash(s, StringType, 0L)
        val h2 = XxHash64Function.hash(s, StringType, 1L) | 1L
        var v = h1
        var h = 0
        while (h < numHashes) {
          if (v < mins(h)) mins(h) = v
          v += h2
          h += 1
        }
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** 64-bit SimHash of a token array; null for an empty array (every
    * 64-bit value is a legal simhash, so no value can stand for it). */
  def simhash(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val tally = new Array[Int](64)
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val h = XxHash64Function.hash(s, StringType, 0L)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) tally(b) += 1 else tally(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (tally(b) > 0) out |= (1L << b); b += 1 }
    java.lang.Long.valueOf(out)
  }

  // --- portable (DuckDB-replicable) md5-derived 60-bit hash family ---
  //
  // xxhash64 sketches are engine-specific: no SQL oracle can recompute
  // them. This family derives a 60-bit hash from md5 — identical to
  // DuckDB's CAST('0x' || substr(md5(s), 1, 15) AS BIGINT) (JVM md5 ==
  // DuckDB md5 on UTF-8 bytes; the first 15 hex chars are the first 8
  // digest bytes big-endian >>> 4) — so simhash/fingerprint queries
  // built on it are brute-force verifiable in the oracle. ~3-5× the
  // hashing cost of xxhash64; the xx64 kernels stay the fast path.

  /** First 60 bits of md5 over `len` bytes at `offset`. `md` is reset
    * and reused across calls (one instance per row/document). */
  def md5Hash60(bytes: Array[Byte], offset: Int, len: Int,
      md: java.security.MessageDigest): Long = {
    md.reset()
    md.update(bytes, offset, len)
    digest60(md)
  }

  /** md5-60 of every n-codepoint sliding window (portable sibling of
    * [[shingleHashes]]). */
  def md5ShingleHashes(s: UTF8String, shingleLen: Int): ArrayData = {
    val bytes = s.getBytes
    val len = bytes.length
    var nCp = 0
    var i = 0
    val starts = new Array[Int](len + 1)
    while (i < len) {
      starts(nCp) = i
      i += cpLen(bytes(i))
      nCp += 1
    }
    starts(nCp) = len
    if (nCp < shingleLen) return new GenericArrayData(Array.emptyLongArray)
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](nCp - shingleLen + 1)
    var w = 0
    while (w + shingleLen <= nCp) {
      out(w) = md5Hash60(bytes, starts(w), starts(w + shingleLen) - starts(w), md)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** 60-bit SimHash over md5-60 token hashes (portable sibling of
    * [[simhash]]): each of the 60 bits votes ±1 per token occurrence,
    * bit set iff its tally is strictly positive. Null for an empty
    * array. */
  def md5SimHash(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    if (n == 0) return null
    val tally = new Array[Int](60)
    val md = java.security.MessageDigest.getInstance("MD5")
    var i = 0
    while (i < n) {
      val s = arr.getUTF8String(i)
      if (s != null) {
        val b = s.getBytes
        val h = md5Hash60(b, 0, b.length, md)
        var bit = 0
        while (bit < 60) {
          if (((h >>> bit) & 1L) == 1L) tally(bit) += 1 else tally(bit) -= 1
          bit += 1
        }
      }
      i += 1
    }
    var out = 0L
    var bit = 0
    while (bit < 60) { if (tally(bit) > 0) out |= (1L << bit); bit += 1 }
    java.lang.Long.valueOf(out)
  }

  @inline private def digest60(md: java.security.MessageDigest): Long = {
    val d = md.digest()
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xFFL); i += 1 }
    v >>> 4
  }

  /** md5-60 of every space-joined n-token window (word-ngram sibling
    * of [[md5ShingleHashes]]). Gram bytes = token bytes joined by a
    * single 0x20 — byte-identical to the SQL `w[i] || ' ' || w[i+1]`
    * rendering, so oracles recompute the exact hashes. Digest updates
    * are incremental: no joined gram string is materialized. */
  def md5NgramHashes(arr: ArrayData, n: Int): ArrayData = {
    val cnt = arr.numElements()
    if (cnt < n) return new GenericArrayData(Array.emptyLongArray)
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) {
      val s = arr.getUTF8String(i)
      toks(i) = if (s == null) Array.emptyByteArray else s.getBytes
      i += 1
    }
    val md = java.security.MessageDigest.getInstance("MD5")
    val out = new Array[Long](cnt - n + 1)
    var w = 0
    while (w + n <= cnt) {
      md.reset()
      var j = 0
      while (j < n) {
        if (j > 0) md.update(' '.toByte)
        md.update(toks(w + j))
        j += 1
      }
      out(w) = digest60(md)
      w += 1
    }
    new GenericArrayData(out)
  }

  /** k-slot salted-md5 minhash over the space-joined n-token windows:
    * slot s holds min over grams of md5-60("<s>|" + gram) — k
    * INDEPENDENT salted hash functions (unlike [[minhashLongs]]'s
    * Kirsch–Mitzenmacher family, which is xx64-seeded and therefore
    * not oracle-recomputable). Min over duplicate grams equals min
    * over distinct grams, so no dedup pass is needed. Null when fewer
    * than n tokens (no gram → no signature). */
  def md5NgramMinhash(arr: ArrayData, n: Int, k: Int): ArrayData = {
    val cnt = arr.numElements()
    if (cnt < n) return null
    val toks = new Array[Array[Byte]](cnt)
    var i = 0
    while (i < cnt) {
      val s = arr.getUTF8String(i)
      toks(i) = if (s == null) Array.emptyByteArray else s.getBytes
      i += 1
    }
    val salts = new Array[Array[Byte]](k)
    var s = 0
    while (s < k) { salts(s) = (s.toString + "|").getBytes; s += 1 }
    val md = java.security.MessageDigest.getInstance("MD5")
    val mins = Array.fill(k)(Long.MaxValue)
    var w = 0
    while (w + n <= cnt) {
      s = 0
      while (s < k) {
        md.reset()
        md.update(salts(s))
        var j = 0
        while (j < n) {
          if (j > 0) md.update(' '.toByte)
          md.update(toks(w + j))
          j += 1
        }
        val h = digest60(md)
        if (h < mins(s)) mins(s) = h
        s += 1
      }
      w += 1
    }
    new GenericArrayData(mins)
  }

  /** True iff the codepoint is a word character under the same classes
    * as the regex `[\p{L}\p{N}]` (letters + all Unicode number
    * categories). */
  @inline private def isWordCp(cp: Int): Boolean =
    Character.isLetter(cp) || {
      val t = Character.getType(cp)
      t == Character.DECIMAL_DIGIT_NUMBER || t == Character.LETTER_NUMBER ||
        t == Character.OTHER_NUMBER
    }

  /** Lowercased word tokens: maximal [\p{L}\p{N}] runs, one codepoint
    * sweep, no regex, no empties — the HOF-free equivalent of
    * `filter(split(lower(s), "[^\\p{L}\\p{N}]+"), length > 0)`. */
  def wordTokens(sIn: UTF8String): ArrayData = {
    val s = sIn.toLowerCase.toString
    val len = s.length
    val out = new scala.collection.mutable.ArrayBuffer[Any](16)
    var i = 0
    var start = -1
    while (i < len) {
      val cp = s.codePointAt(i)
      val w = isWordCp(cp)
      if (w && start < 0) start = i
      else if (!w && start >= 0) {
        out += UTF8String.fromString(s.substring(start, i))
        start = -1
      }
      i += Character.charCount(cp)
    }
    if (start >= 0) out += UTF8String.fromString(s.substring(start))
    new GenericArrayData(out.toArray)
  }

  /** Linear-merge Jaccard of sorted distinct long arrays; null when
    * both are empty. */
  def sortedJaccard(x: ArrayData, y: ArrayData): java.lang.Double = {
    val nx = x.numElements(); val ny = y.numElements()
    if (nx == 0 && ny == 0) return null
    var i = 0; var j = 0; var inter = 0
    while (i < nx && j < ny) {
      val xi = x.getLong(i); val yj = y.getLong(j)
      if (xi == yj) { inter += 1; i += 1; j += 1 }
      else if (xi < yj) i += 1
      else j += 1
    }
    java.lang.Double.valueOf(inter.toDouble / (nx + ny - inter).toDouble)
  }

  /** Equal-slot count of two signatures; null on length mismatch. */
  def agreement(x: ArrayData, y: ArrayData): java.lang.Integer = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var i = 0; var eq = 0
    while (i < n) { if (x.getLong(i) == y.getLong(i)) eq += 1; i += 1 }
    java.lang.Integer.valueOf(eq)
  }

  /** Distinct minima of every `w`-wide sliding window over a long
    * array (the winnowing selection step): monotonic-deque sliding
    * minimum in O(n), then sort + in-place dedup of the ≈2n/(w+1)
    * survivors. Value-only minima (winnowing fingerprints need no
    * position tie-break: ties ARE the same value). n < w collapses to
    * the single whole-array minimum; empty stays empty. Replaces an
    * interpreted transform(sequence, array_min(slice)) chain that
    * cost O(n·w) boxed expression evals per document — this kernel is
    * the difference between a 5-minute and a sub-second x122 run. */
  /** Winnowing anchors WITH positions: the distinct (pos, hash)
    * pairs the w-window minimum selection picks over a rolling-hash
    * array — the input [[winnowMinima]] collapses to values only.
    * Tie rule: within a window the LAST index achieving the minimum
    * is selected (the deque pops `>=`), and the n ≤ w single-window
    * branch matches it — the oracle replays `max(p)` at the window
    * min. Output ascending by pos, element type
    * struct<pos:int, fp:bigint>. */
  def winnowAnchors(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val selected = new Array[Boolean](n)
    if (n <= w) {
      var m = arr.getLong(0)
      var mi = 0
      var i = 1
      while (i < n) {
        val v = arr.getLong(i)
        if (v <= m) { m = v; mi = i } // <=: last argmin, like the deque
        i += 1
      }
      selected(mi) = true
    } else {
      val dqIdx = new Array[Int](n)
      var head = 0
      var tail = 0
      var i = 0
      while (i < n) {
        val v = arr.getLong(i)
        while (tail > head && arr.getLong(dqIdx(tail - 1)) >= v) tail -= 1
        dqIdx(tail) = i; tail += 1
        if (dqIdx(head) <= i - w) head += 1
        if (i >= w - 1) selected(dqIdx(head)) = true
        i += 1
      }
    }
    var cnt = 0
    var i = 0
    while (i < n) { if (selected(i)) cnt += 1; i += 1 }
    val out = new Array[Any](cnt)
    var o = 0
    i = 0
    while (i < n) {
      if (selected(i)) {
        out(o) = org.apache.spark.sql.catalyst.InternalRow(i, arr.getLong(i))
        o += 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  def winnowMinima(arr: ArrayData, w: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyLongArray)
    if (n <= w) {
      var m = arr.getLong(0)
      var i = 1
      while (i < n) { val v = arr.getLong(i); if (v < m) m = v; i += 1 }
      return new GenericArrayData(Array(m))
    }
    val nOut = n - w + 1
    val out = new Array[Long](nOut)
    val dqIdx = new Array[Int](n) // deque of candidate indices, values increasing
    var head = 0
    var tail = 0 // exclusive
    var i = 0
    while (i < n) {
      val v = arr.getLong(i)
      while (tail > head && arr.getLong(dqIdx(tail - 1)) >= v) tail -= 1
      dqIdx(tail) = i; tail += 1
      if (dqIdx(head) <= i - w) head += 1
      if (i >= w - 1) out(i - w + 1) = arr.getLong(dqIdx(head))
      i += 1
    }
    java.util.Arrays.sort(out)
    var uniq = 1
    i = 1
    while (i < nOut) {
      if (out(i) != out(uniq - 1)) { out(uniq) = out(i); uniq += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, uniq))
  }

  /** Standard Luhn over a digit-run candidate (the ONE JVM rendering —
    * the batch count expression and the streaming PII monitor both
    * call it; Spark's own `luhn_check` built-in computes the same
    * function, unit-pinned against it). */
  @inline def luhnValid(s: String): Boolean = {
    // fail-soft guards (ADVICE r16): the regex-produced candidates in
    // piiChecksums are always non-empty digit runs, but this is a
    // public expression over arbitrary arrays — match the contract of
    // Spark's built-in luhn_check: empty or non-digit input is
    // invalid, never `true` (empty summed to 0 % 10 == 0) or garbage
    if (s.isEmpty) return false
    var sum = 0; var alt = false; var i = s.length - 1
    while (i >= 0) {
      val c = s.charAt(i)
      if (c < '0' || c > '9') return false
      var d = c - '0'
      if (alt) { d *= 2; if (d > 9) d -= 9 }
      sum += d; alt = !alt; i -= 1
    }
    sum % 10 == 0
  }

  /** ISO-7064 mod-97-10 over an uppercase [A-Z0-9] IBAN candidate:
    * first four chars rotate to the end, letters map A→10…Z→35, fold
    * (acc·10^len + v) mod 97, valid iff 1 — the identical
    * value-encoded fold the DuckDB oracle replays. */
  @inline def ibanMod97Valid(s: String): Boolean = {
    val n = s.length
    // fail-soft guards (ADVICE r16): a real IBAN is 15-34 chars, but
    // the hard floor here is structural — the 4-char rotation indexes
    // out of bounds below 5 chars — and any char outside [A-Z0-9]
    // must count the candidate invalid, not corrupt the fold
    if (n < 5) return false
    var acc = 0L
    var j = 0
    while (j < n) {
      // rotated index: chars 4..n-1 first, then 0..3
      val ch = s.charAt(if (j < n - 4) j + 4 else j - (n - 4))
      if (ch >= 'A' && ch <= 'Z') acc = (acc * 100 + (ch - 'A' + 10)) % 97
      else if (ch >= '0' && ch <= '9') acc = (acc * 10 + (ch - '0')) % 97
      else return false
      j += 1
    }
    acc == 1L
  }

  /** Count of Luhn-valid members of a string array — the codegen
    * replacement for `size(filter(arr, c -> luhn_check(c)))`, whose
    * higher-order filter runs interpreted and disqualifies the whole
    * projection from whole-stage codegen. */
  def luhnValidCount(arr: ArrayData): Long = {
    var n = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (luhnValid(arr.getUTF8String(i).toString)) n += 1
      i += 1
    }
    n
  }

  /** Flesch syllable estimate over a words() token array: per token,
    * the count of maximal vowel groups `[aeiouy]+` floored at 1,
    * summed. Derived DIRECTLY from the token array (ADVICE r16: the
    * former global-regex rendering recovered the per-word floor via a
    * run-count identity that had to be argued, not read) — per-word
    * semantics are now literal in the code. Tokens are lowercase
    * alnum runs by the words() contract; vowels are ASCII, so the
    * scan is a byte sweep (UTF-8 continuation/lead bytes are never
    * vowels). */
  def syllableCount(arr: ArrayData): Long = {
    var total = 0L
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      val b = arr.getUTF8String(i).getBytes
      var groups = 0L
      var prevVowel = false
      var j = 0
      while (j < b.length) {
        val c = b(j)
        val v = c == 'a' || c == 'e' || c == 'i' || c == 'o' || c == 'u' || c == 'y'
        if (v && !prevVowel) groups += 1
        prevVowel = v
        j += 1
      }
      total += (if (groups == 0L) 1L else groups)
      i += 1
    }
    total
  }

  /** Smallest FULL-CYCLE period of a string: the least p such that the
    * string is its first p chars repeated length/p times; length
    * itself when aperiodic (and 0 for the empty string). Computed via
    * the KMP failure function — the classic identity: the smallest
    * period is n − f(n), and it is full-cycle iff it divides n —
    * O(n) one pass, versus the O(n·d(n)) divisor check the DuckDB
    * oracle replays (both exact, so they agree on every input).
    * Operates on UTF-16 code units, which equals codepoint semantics
    * for any text whose candidate period does not split a surrogate
    * pair — and a split surrogate can never produce a full-cycle
    * match, so the verdict is codepoint-correct for all inputs. */
  def minFullPeriod(sIn: UTF8String): Long = {
    val s = sIn.toString
    val n = s.length
    if (n == 0) return 0L
    val f = new Array[Int](n + 1)
    var i = 1; var j = 0
    while (i < n) {
      val c = s.charAt(i)
      while (j > 0 && c != s.charAt(j)) j = f(j)
      if (c == s.charAt(j)) j += 1
      i += 1
      f(i) = j
    }
    val p = n - f(n)
    if (n % p == 0) p.toLong else n.toLong
  }

  /** Adjacent token pairs (w[i], w[i+1]) as struct rows — the codegen
    * replacement for the interpreted
    * `transform(sequence(1, size-1), i -> struct(element_at(w, i),
    * element_at(w, i+1)))` lambda every bigram-model operator fed to
    * explode (r18; one lambda frame + two element_at per token). < 2
    * elements → empty (callers filter size ≥ 2 anyway — this avoids
    * the descending sequence(1, 0) trap by construction). */
  def adjacentPairs(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 2) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 1)
    var prev = arr.getUTF8String(0)
    var i = 1
    while (i < n) {
      val cur = arr.getUTF8String(i)
      out(i - 1) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](prev, cur))
      prev = cur
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Adjacent token triples — the 3-token sibling of
    * [[adjacentPairs]]. */
  def adjacentTriples(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    if (n < 3) return new GenericArrayData(Array.empty[Any])
    val out = new Array[Any](n - 2)
    var a = arr.getUTF8String(0)
    var b = arr.getUTF8String(1)
    var i = 2
    while (i < n) {
      val c = arr.getUTF8String(i)
      out(i - 2) = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(Array[Any](a, b, c))
      a = b; b = c
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Count of ISO-7064 mod-97-valid members of a string array (same
    * codegen rationale as [[luhnValidCount]]). */
  def ibanValidCount(arr: ArrayData): Long = {
    var n = 0L
    var i = 0
    while (i < arr.numElements()) {
      if (ibanMod97Valid(arr.getUTF8String(i).toString)) n += 1
      i += 1
    }
    n
  }

  /** Split a string into its per-CODEPOINT single-char symbols — the
    * BPE initial state. Replaces the interpreted
    * `transform(sequence(1, length(w)), i -> substring(w, i, 1))`
    * lambda, which is O(len²) per word (substring re-walks UTF-8 from
    * the start per index) and breaks whole-stage codegen. Codepoint
    * semantics match Spark's `substring(w, i, 1)` exactly (surrogate
    * pairs stay whole). */
  def charSyms(sIn: UTF8String): ArrayData = {
    val s = sIn.toString
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0
    while (i < n) {
      val cc = Character.charCount(s.codePointAt(i))
      out += UTF8String.fromString(s.substring(i, i + cc))
      i += cc
    }
    new GenericArrayData(out.toArray)
  }

  /** Greedy non-overlapping application of ONE BPE merge (l, r) to a
    * symbol array in one pass. Left-to-right greedy selection is
    * provably identical to the even-offset-island rule of the window
    * plan (posexplode → wid-partitioned windows → collect_list agg)
    * TextAnalysisSpec keeps as the reference: matches inside an island
    * are consecutive positions, and both rules take even offsets from
    * the island's first match (the spec pins the equivalence on random
    * vocabularies, the hand-traced corpora and the aaaaa adversary). */
  private def bpeApplyMerge(syms: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = syms.numElements()
    if (n < 2) return syms
    val out = new scala.collection.mutable.ArrayBuffer[UTF8String](n)
    var i = 0
    while (i < n) {
      val s = syms.getUTF8String(i)
      if (i + 1 < n && s.equals(l) && syms.getUTF8String(i + 1).equals(r)) {
        out += UTF8String.concat(s, syms.getUTF8String(i + 1))
        i += 2
      } else {
        out += s
        i += 1
      }
    }
    new GenericArrayData(out.toArray)
  }

  /** Apply a whole round-ordered BPE merge table (parallel left/right
    * symbol arrays) in one call — [[bpeApplyMerge]] per round,
    * sequentially. Rounds absent from the table (nothing merged at
    * induction time) are naturally pass-through: they simply do not
    * appear in the arrays. Turns the encoder's per-round
    * join+window+agg+checkpoint pipeline into ONE projection, and is
    * every induction round's vocab projection too. */
  def bpeApplyMerges(symsIn: ArrayData, ls: ArrayData, rs: ArrayData): ArrayData = {
    var syms = symsIn
    val rounds = ls.numElements()
    var r = 0
    while (r < rounds) {
      syms = bpeApplyMerge(syms, ls.getUTF8String(r), rs.getUTF8String(r))
      r += 1
    }
    syms
  }
}

