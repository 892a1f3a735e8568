package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Kernels behind the dense-vector functions ([[VectorFunctions]]) over
  * `ArrayType(FloatType)` embedding columns — a top-level object, so a
  * [[KernelCall]] calls them as static methods. The inner product is the
  * innermost loop of similarity search (O(rows × dim) at 100 TB); these
  * read the columnar `ArrayData` in place and accumulate in double.
  */
object VectorKernels {

  /** cosine(x, y) = dot(x,y) / (|x|·|y|); null on length mismatch. */
  def cosine(x: ArrayData, y: ArrayData): java.lang.Double =
    if (x.numElements() != y.numElements()) null
    else cosinePrefix(x, y, x.numElements())

  /** Cosine of the first `n` elements of `x` and `y` (both at least `n`
    * long): accumulated in double, float→double per element; null on a
    * zero norm or a null element (a null read by `getFloat` would be a
    * silent 0.0). */
  private[graft] def cosinePrefix(x: ArrayData, y: ArrayData, n: Int): java.lang.Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / math.sqrt(nx * ny))
  }

  /** Σ x_i·y_i accumulated in double; null on length mismatch or a null
    * element. */
  def dot(x: ArrayData, y: ArrayData): java.lang.Double = {
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** round(v · scale) HALF_UP as a Long, total on any double: NaN → 0,
    * ±Inf and overflow saturate to Long.Min/MaxValue (the non-ANSI
    * double→long cast's behavior; BigDecimal.valueOf alone would throw
    * on a non-finite value), and finite values take BigDecimal.valueOf +
    * HALF_UP — the Round expression's double path, NOT Math.round,
    * whose half-case rounds toward +∞. So the result equals
    * `CAST(round(CAST(v AS DOUBLE) * scale) AS BIGINT)` under non-ANSI
    * semantics bit-for-bit. Float callers widen exactly. */
  private[graft] def roundHalfUp(v: Double, scale: Double): Long = {
    val d = v * scale
    if (d.isNaN) 0L
    else if (d >= Long.MaxValue.toDouble) Long.MaxValue
    else if (d <= Long.MinValue.toDouble) Long.MinValue
    else java.math.BigDecimal.valueOf(d)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
  }

  /** Symmetric per-vector int8 quantization — the standard storage
    * format for embeddings at scale (4× smaller than float32, SIMD-
    * friendly distance kernels): q_i = floor(x_i · 127/max|x| + 0.5)
    * clamped to ±127. Returns null (callers map it) for empty,
    * all-zero, or non-finite vectors — quantizing those is undefined,
    * and a garbage scale must not silently produce plausible bytes. */
  def quantizeI8(x: ArrayData): ArrayData = {
    val n = x.numElements()
    var maxAbs = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i)) return null
      val v = math.abs(x.getFloat(i).toDouble)
      // NaN never compares greater than maxAbs, so it would slip past
      // the max tracking and quantize to 0 — reject it per element
      if (v != v) return null
      if (v > maxAbs) maxAbs = v
      i += 1
    }
    if (n == 0 || maxAbs == 0.0 || java.lang.Double.isInfinite(maxAbs)) return null
    val scale = 127.0 / maxAbs
    val out = new Array[Byte](n)
    i = 0
    while (i < n) {
      val q = math.floor(x.getFloat(i).toDouble * scale + 0.5)
      out(i) = (if (q > 127.0) 127 else if (q < -127.0) -127 else q.toInt).toByte
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Micro-quantization of a float vector: q_i = CAST(round(CAST(v AS
    * DOUBLE) · 1e6, 0) AS BIGINT), bit-for-bit ([[roundHalfUp]], the
    * [[graft.functions.ScatterMoments]] quantize contract at micro
    * scale). Null ELEMENTS stay null (the SQL tree propagated them into
    * null products that the covariance sums skip). r18: evaluating the
    * SQL round per (i, j) CELL of the covariance fan-out cost one
    * BigDecimal allocation per cell (16M per 2 000×64 corpus — ~6 s of
    * the old 7.5 s cells pass); this runs ONCE per vector. */
  def quantizeMicro(x: ArrayData): ArrayData = {
    val n = x.numElements()
    val out = new Array[Any](n)
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i)) out(i) = roundHalfUp(x.getFloat(i), 1000000.0)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Scatter of the hashing-trick embedding's sparse (component,
    * signed-tf) cells into the dense `dim` float vector — bit-equal to
    * the SQL `transform(sequence(0, dim-1), i -> CAST(coalesce(
    * map[i], 0L) AS FLOAT))` tree it replaces: missing components are
    * 0.0f and present ones take the total LONG→FLOAT cast (exact for
    * the |tf| ≪ 2²⁴ signed term frequencies; the cast itself is the
    * same `(float) v` either way). Component indices outside
    * [0, dim) are ignored exactly as the map lookup ignored them
    * (cannot occur — the producer pmods by dim); null entries /
    * fields are skipped defensively (cannot occur post-aggregation). */
  def denseEmbedding(entries: ArrayData, dim: Int): ArrayData = {
    val out = new Array[Float](dim)
    val n = entries.numElements()
    var k = 0
    while (k < n) {
      if (!entries.isNullAt(k)) {
        val row = entries.getStruct(k, 2)
        if (!row.isNullAt(0) && !row.isNullAt(1)) {
          val i = row.getInt(0)
          if (i >= 0 && i < dim) out(i) = row.getLong(1).toFloat
        }
      }
      k += 1
    }
    new GenericArrayData(out)
  }

  // ---- PQ kernels (r18) ---------------------------------------------
  // The PQ encode/ADC/error expressions were composed from zip_with +
  // left-fold `aggregate` higher-order lambdas over `slice`s — which
  // run INTERPRETED (the round-9 winnowing lesson: ~300× vs a codegen
  // kernel) and allocate a slice array per (row, subspace, centroid).
  // These kernels replay the identical IEEE trees: the fold is a
  // sequential left-to-right double accumulation, the micro rounding
  // is Spark's Round semantics (BigDecimal HALF_UP on finite doubles,
  // pass-through on NaN/Inf, total non-ANSI double→long cast), and
  // null elements / short vectors return null exactly where the
  // zip_with null-padding nulled the SQL result.

  /** Left-to-right Σ(x−y)² over subspace j of `v` against centroid
    * `c`; NaN-free inputs only by contract of the callers. Returns
    * NaN-poisoned sums exactly as the fold did. Double.NaN sentinel
    * is NOT used for null — nullity is signalled by the callers. */
  @inline private def l2sqAt(v: ArrayData, off: Int, c: Array[Double]): Double = {
    var acc = 0.0
    var k = 0
    while (k < c.length) {
      val d = v.getDouble(off + k) - c(k)
      acc += d * d
      k += 1
    }
    acc
  }

  @inline private def hasNullRange(v: ArrayData, off: Int, len: Int): Boolean = {
    var k = 0
    while (k < len) { if (v.isNullAt(off + k)) return true; k += 1 }
    false
  }

  /** Spark `round(d, scale)` double semantics. */
  @inline private def roundAt(d: Double, scale: Int): Double =
    if (d.isNaN || d.isInfinite) d
    else java.math.BigDecimal.valueOf(d)
      .setScale(scale, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Non-ANSI double→long cast (total). */
  @inline private def toLongCast(d: Double): Long =
    if (d.isNaN) 0L
    else if (d >= Long.MaxValue.toDouble) Long.MaxValue
    else if (d <= Long.MinValue.toDouble) Long.MinValue
    else d.toLong

  /** PQ code assignment: argmin squared-L2 per subspace, ties to the
    * smaller index (the array_sort(struct(d, idx)) rule — NaN
    * distances order last, so an all-NaN subspace picks index 0,
    * identical to the SQL form). Null on short vectors / null
    * elements, where zip_with padding nulled the SQL fold. */
  def pqAssignCodes(v: ArrayData, cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val sub = cb(0)(0).length
    if (v.numElements() < m * sub || hasNullRange(v, 0, m * sub)) return null
    val codes = new Array[Int](m)
    var j = 0
    while (j < m) {
      val off = j * sub
      var bestD = l2sqAt(v, off, cb(j)(0))
      var bestI = 0
      var i = 1
      while (i < cb(j).length) {
        val d = l2sqAt(v, off, cb(j)(i))
        if (d < bestD) { bestD = d; bestI = i } // NaN never wins
        i += 1
      }
      codes(j) = bestI
      j += 1
    }
    new GenericArrayData(codes)
  }

  /** Integer ADC: Σ_j round(round(l2sq_j, 6)·1e6)→long, LONG addition
    * (wrapping, as SQL long + does). Null when the query vector is
    * short / has null elements or `codes` has a null slot. */
  def pqAdcMicro(codes: ArrayData, q: ArrayData,
      cb: Array[Array[Array[Double]]]): java.lang.Long = {
    val m = cb.length
    val sub = cb(0)(0).length
    if (q.numElements() < m * sub || hasNullRange(q, 0, m * sub)) return null
    var acc = 0L
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val c = cb(j)(codes.getInt(j))
      val l2 = l2sqAt(q, j * sub, c)
      acc += toLongCast(roundAt(roundAt(l2, 6) * 1000000.0, 0))
      j += 1
    }
    java.lang.Long.valueOf(acc)
  }

  /** Per-subspace quantization error against the vector's OWN chosen
    * centroid, micro-quantized like the ADC — array<long> of length m
    * (position = subspace). Null under the same conditions as
    * [[pqAdcMicro]]. */
  def pqErrMicro(v: ArrayData, codes: ArrayData,
      cb: Array[Array[Array[Double]]]): ArrayData = {
    val m = cb.length
    val sub = cb(0)(0).length
    if (v.numElements() < m * sub || hasNullRange(v, 0, m * sub)) return null
    val out = new Array[Long](m)
    var j = 0
    while (j < m) {
      if (codes.isNullAt(j)) return null
      val c = cb(j)(codes.getInt(j))
      out(j) = toLongCast(roundAt(roundAt(l2sqAt(v, j * sub, c), 6) * 1000000.0, 0))
      j += 1
    }
    new GenericArrayData(out)
  }

  /** Deterministic ±1 Johnson–Lindenstrauss sign matrix (`nOut × dim`),
    * derived per cell from md5("jl:seed:j:i") — the same portability
    * trick as the md5-60 hash family: any engine (the DuckDB oracle
    * included) can re-derive or embed the identical constants, so a
    * "random" projection stays value-checkable. Achlioptas (2003) shows
    * ±1 entries preserve the JL guarantee of Gaussian matrices. */
  def jlSigns(nOut: Int, dim: Int, seed: Int): Array[Array[Double]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(nOut, dim) { (j, i) =>
      val h = md.digest(s"jl:$seed:$j:$i".getBytes("UTF-8"))
      if ((h(0) & 1) == 0) 1.0 else -1.0
    }
  }

  /** JL projection kernel: out_j = Σ_i x_i·sign(j,i) / √nOut. The √nOut
    * scale makes the projection norm-preserving in expectation
    * (E‖proj‖² = ‖x‖²); callers pick nOut a power of 4 so the scale is
    * a power of two and the division is EXACT in float64 — the oracle
    * replays bit-identical values. Null on dim mismatch / null elements
    * (same contract as the distance kernels above). */
  def jlProject(x: ArrayData, jl: JlSigns): ArrayData = {
    val signs = jl.rows
    val nOut = signs.length
    if (nOut == 0 || x.numElements() != signs(0).length) return null
    val dim = signs(0).length
    val scale = math.sqrt(nOut.toDouble)
    val out = new Array[Double](nOut)
    var j = 0
    while (j < nOut) {
      val row = signs(j)
      var acc = 0.0
      var i = 0
      while (i < dim) {
        if (x.isNullAt(i)) return null
        acc += x.getFloat(i).toDouble * row(i)
        i += 1
      }
      out(j) = acc / scale
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** The sign matrix of one (nOut, dim, seed) JL projection, derived once
  * where the call is declared and shipped with the plan. Equal keys are
  * equal values, so two equal `jl_project` calls stay one expression. */
final case class JlSigns(nOut: Int, dim: Int, seed: Int) {
  val rows: Array[Array[Double]] = VectorKernels.jlSigns(nOut, dim, seed)
}
