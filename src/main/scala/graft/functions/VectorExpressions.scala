package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{ArrayType, ByteType, DataType, DoubleType, FloatType, IntegerType, LongType, StructType}

/** Native Catalyst expressions for dense-vector math over
  * `ArrayType(FloatType)` embedding columns.
  *
  * Why an Expression and not a UDF / higher-order function: the inner
  * product is the innermost loop of similarity search — at 100 TB it runs
  * O(rows × dim) times. A Scala UDF deserializes each array to
  * `Seq[Float]` per call; `aggregate(zip_with(...))` allocates a lambda
  * frame per element. This expression reads the columnar `ArrayData`
  * in place and participates in whole-stage codegen via `doGenCode`.
  */
abstract class VectorBinaryExpression extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
}

/** `cosine_similarity(a, b)` = dot(a,b) / (|a|·|b|); null on length
  * mismatch or zero norm. Accumulates in double for stability. */
case class CosineSimilarity(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      // null elements (containsNull arrays) would read as 0.0 via
      // getFloat — a silently wrong score; null the result instead
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    if (nx == 0.0 || ny == 0.0) null
    else java.lang.Double.valueOf(dot / math.sqrt(nx * ny))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot"); val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny"); val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; } else {
         |  double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; }
         |    else {
         |      final double $xi = (double) $x.getFloat($i);
         |      final double $yi = (double) $y.getFloat($i);
         |      $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |    }
         |  }
         |  if (!${ev.isNull}) {
         |    if ($nx == 0.0 || $ny == 0.0) { ${ev.isNull} = true; }
         |    else { ${ev.value} = $dot / java.lang.Math.sqrt($nx * $ny); }
         |  }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `dot_product(a, b)`; null on length mismatch. */
case class DotProduct(left: Expression, right: Expression)
    extends VectorBinaryExpression {

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var dot = 0.0; var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      dot += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i"); val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      s"""
         |final int $n = $x.numElements();
         |if ($n != $y.numElements()) { ${ev.isNull} = true; } else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n && !${ev.isNull}; $i++) {
         |    if ($x.isNullAt($i) || $y.isNullAt($i)) { ${ev.isNull} = true; }
         |    else { $dot += (double) $x.getFloat($i) * (double) $y.getFloat($i); }
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Static kernel for [[QuantizeI8]] — top-level object so codegen can
  * call it as a static forwarder inside whole-stage spans. */
object VectorKernels {

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
      cb: Array[Array[Array[Double]]]): Any = {
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
  def jlProject(x: ArrayData, signs: Array[Array[Double]]): ArrayData = {
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

/** `jl_project(vec)` → array<double>: deterministic ±1 random projection
  * (dimension reduction for ANN pre-screening / cheap distance sketches).
  * The sign matrix is a compile-time constant per (nOut, dim, seed) —
  * shipped into codegen as a reference object, no per-row derivation. */
case class JlProject(child: Expression, nOut: Int, dim: Int, seed: Int)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "jl_project"

  @transient private lazy val signs: Array[Array[Double]] =
    VectorKernels.jlSigns(nOut, dim, seed)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.jlProject(input.asInstanceOf[ArrayData], signs)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val signsRef = ctx.addReferenceObj("jlSigns", signs, "double[][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.VectorKernels.jlProject($c, $signsRef);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `quantize_i8(vec)` → array<tinyint>: symmetric int8 quantization
  * (see [[VectorKernels.quantizeI8]]). */
case class QuantizeI8(child: Expression) extends UnaryExpression {

  override def dataType: DataType = ArrayType(ByteType, containsNull = false)
  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any =
    VectorKernels.quantizeI8(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.VectorKernels.quantizeI8($c);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `pq_assign_codes(vec)` → array<int>: PQ code assignment against a
  * codebook literal (see [[VectorKernels.pqAssignCodes]]). */
case class PqAssignCodes(child: Expression,
    codebook: Array[Array[Array[Double]]]) extends UnaryExpression {
  PqChecks.requireCodebook(codebook, "pq_assign_codes")
  override def prettyName: String = "pq_assign_codes"
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() =
    PqChecks.expectDoubleArray("pq_assign_codes", child.dataType)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.pqAssignCodes(input.asInstanceOf[ArrayData], codebook)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = graft.functions.VectorKernels.pqAssignCodes($c, $cbRef);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Shared analysis-time validation for the PQ expressions (ADVICE
  * r18: a wrong-typed child used to surface as a runtime
  * ClassCastException instead of an analysis error, and an
  * empty/ragged codebook as an NPE at first eval). */
private[functions] object PqChecks {
  import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
  def expectDoubleArray(fn: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<double> (callers cast the float vectors), " +
        s"got ${other.sql}")
  }
  def expectIntArray(fn: String, dt: DataType): TypeCheckResult = dt match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$fn expects array<int>, got ${other.sql}")
  }
  def both(a: TypeCheckResult, b: => TypeCheckResult): TypeCheckResult =
    if (a.isFailure) a else b
  def requireCodebook(cb: Array[Array[Array[Double]]], fn: String): Unit = {
    require(cb != null && cb.nonEmpty && cb.forall(s => s != null && s.nonEmpty),
      s"$fn: codebook must have >= 1 centroid per subspace")
    val sub = cb(0)(0).length
    require(sub > 0 && cb.forall(_.forall(c => c != null && c.length == sub)),
      s"$fn: codebook centroids must be non-empty and rectangular")
  }
}

/** `pq_adc_micro(codes, qvec)` → bigint: integer asymmetric-distance
  * score (see [[VectorKernels.pqAdcMicro]]). */
case class PqAdcMicro(left: Expression, right: Expression,
    codebook: Array[Array[Array[Double]]]) extends BinaryExpression {
  PqChecks.requireCodebook(codebook, "pq_adc_micro")
  override def prettyName: String = "pq_adc_micro"
  override def dataType: DataType = LongType
  override def nullable: Boolean = true

  override def checkInputDataTypes() = PqChecks.both(
    PqChecks.expectIntArray("pq_adc_micro (codes)", left.dataType),
    PqChecks.expectDoubleArray("pq_adc_micro (qvec)", right.dataType))

  override def nullSafeEval(codes: Any, q: Any): Any =
    VectorKernels.pqAdcMicro(codes.asInstanceOf[ArrayData],
      q.asInstanceOf[ArrayData], codebook)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    val r = ctx.freshName("adc")
    nullSafeCodeGen(ctx, ev, (c, q) => s"""
      Object $r = graft.functions.VectorKernels.pqAdcMicro($c, $q, $cbRef);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = ((java.lang.Long) $r).longValue(); }
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `pq_err_micro(vec, codes)` → array<bigint>: per-subspace micro
  * quantization error (see [[VectorKernels.pqErrMicro]]). */
case class PqErrMicro(left: Expression, right: Expression,
    codebook: Array[Array[Array[Double]]]) extends BinaryExpression {
  PqChecks.requireCodebook(codebook, "pq_err_micro")
  override def prettyName: String = "pq_err_micro"
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() = PqChecks.both(
    PqChecks.expectDoubleArray("pq_err_micro (vec)", left.dataType),
    PqChecks.expectIntArray("pq_err_micro (codes)", right.dataType))

  override def nullSafeEval(v: Any, codes: Any): Any =
    VectorKernels.pqErrMicro(v.asInstanceOf[ArrayData],
      codes.asInstanceOf[ArrayData], codebook)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebook", codebook, "double[][][]")
    nullSafeCodeGen(ctx, ev, (v, c) => s"""
      ${ev.value} = graft.functions.VectorKernels.pqErrMicro($v, $c, $cbRef);
      if (${ev.value} == null) { ${ev.isNull} = true; }
    """)
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** `dense_embedding(entries, dim)` → array<float>: scatter the sparse
  * (component, signed-tf) cells of the hashing-trick embedding into
  * the dense `dim`-vector ([[VectorKernels.denseEmbedding]]) — the
  * codegen replacement for the interpreted
  * `transform(sequence(0, dim-1), i -> CAST(coalesce(map[i], 0L) AS
  * FLOAT))` per-doc lambda (r19, VERDICT r18 item 1). */
case class DenseEmbedding(child: Expression, dim: Int)
    extends UnaryExpression {
  override def prettyName: String = "dense_embedding"

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(s: StructType, _) if s.length == 2 &&
        s(0).dataType == IntegerType && s(1).dataType == LongType =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dense_embedding expects array<struct<int, bigint>>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.denseEmbedding(input.asInstanceOf[ArrayData], dim)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.denseEmbedding($c, $dim)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `quantize_micro(vec)` → array<bigint>: per-element micro
  * quantization (see [[VectorKernels.quantizeMicro]] for the
  * bit-identity contract with the SQL round/cast tree). */
case class QuantizeMicro(child: Expression) extends UnaryExpression {
  override def prettyName: String = "quantize_micro"

  override def checkInputDataTypes() = child.dataType match {
    case ArrayType(FloatType, _) =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    case other =>
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"quantize_micro expects array<float>, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  override def nullSafeEval(input: Any): Any =
    VectorKernels.quantizeMicro(input.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.VectorKernels.quantizeMicro($c)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `l2_norm_sq(a)` via DotProduct(a, a) is enough; no separate node. */
object VectorFunctions {
  def quantize_micro(vec: Column): Column =
    toColumn(QuantizeMicro(toExpression(vec)))
  def dense_embedding(entries: Column, dim: Int): Column =
    toColumn(DenseEmbedding(toExpression(entries), dim))
  def pq_assign_codes(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    toColumn(PqAssignCodes(toExpression(vec), cb))
  def pq_adc_micro(codes: Column, qvec: Column,
      cb: Array[Array[Array[Double]]]): Column =
    toColumn(PqAdcMicro(toExpression(codes), toExpression(qvec), cb))
  def pq_err_micro(vec: Column, codes: Column,
      cb: Array[Array[Array[Double]]]): Column =
    toColumn(PqErrMicro(toExpression(vec), toExpression(codes), cb))
  def cosine_similarity(a: Column, b: Column): Column =
    toColumn(CosineSimilarity(toExpression(a), toExpression(b)))
  def dot_product(a: Column, b: Column): Column =
    toColumn(DotProduct(toExpression(a), toExpression(b)))
  def quantize_i8(vec: Column): Column =
    toColumn(QuantizeI8(toExpression(vec)))
  def jl_project(vec: Column, nOut: Int, dim: Int, seed: Int): Column =
    toColumn(JlProject(toExpression(vec), nOut, dim, seed))
}
