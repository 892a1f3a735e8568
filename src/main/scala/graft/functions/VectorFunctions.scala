package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.types._

import KernelCall.{Const, Positive, Typed, call}

/** Dense-vector native functions over `ArrayType(FloatType)` embedding
  * columns, each one [[KernelCall]] of a [[VectorKernels]] method.
  * `l2_norm_sq(a)` is `dot_product(a, a)`; no separate function. */
object VectorFunctions {
  private val floats = ArrayType(FloatType)
  private val doubles = ArrayType(DoubleType)
  private val ints = ArrayType(IntegerType)

  private def kernel(name: String, method: String, dataType: DataType,
      returnNullable: Boolean = false)(args: KernelCall.Arg*): Column =
    call(VectorKernels, name, method, dataType, returnNullable)(args: _*)

  /** `cosine_similarity(a, b)` = dot(a,b) / (|a|·|b|); null on length
    * mismatch, zero norm or a null element. */
  def cosine_similarity(a: Column, b: Column): Column =
    kernel("cosine_similarity", "cosine", DoubleType, returnNullable = true)(
      Typed(a, floats), Typed(b, floats))

  /** `dot_product(a, b)`; null on length mismatch or a null element. */
  def dot_product(a: Column, b: Column): Column =
    kernel("dot_product", "dot", DoubleType, returnNullable = true)(
      Typed(a, floats), Typed(b, floats))

  /** `quantize_i8(vec)` → array<tinyint>: symmetric int8 quantization
    * (see [[VectorKernels.quantizeI8]]). */
  def quantize_i8(vec: Column): Column =
    kernel("quantize_i8", "quantizeI8", ArrayType(ByteType, containsNull = false),
      returnNullable = true)(Typed(vec, floats))

  /** `jl_project(vec)` → array<double>: deterministic ±1 random
    * projection (dimension reduction for ANN pre-screening / cheap
    * distance sketches). The sign matrix is a constant per (nOut, dim,
    * seed), shipped with the plan — no per-row derivation. */
  def jl_project(vec: Column, nOut: Int, dim: Int, seed: Int): Column =
    kernel("jl_project", "jlProject", ArrayType(DoubleType, containsNull = false),
      returnNullable = true)(Typed(vec, floats), Const(JlSigns(nOut, dim, seed)))

  /** `pq_assign_codes(vec)` → array<int>: PQ code assignment against a
    * codebook constant (see [[VectorKernels.pqAssignCodes]]). Callers
    * cast the float vectors to array<double>. */
  def pq_assign_codes(vec: Column, cb: Array[Array[Array[Double]]]): Column =
    kernel("pq_assign_codes", "pqAssignCodes", ArrayType(IntegerType, containsNull = false),
      returnNullable = true)(Typed(vec, doubles), codebook("pq_assign_codes", cb))

  /** `pq_adc_micro(codes, qvec)` → bigint: integer asymmetric-distance
    * score (see [[VectorKernels.pqAdcMicro]]). */
  def pq_adc_micro(codes: Column, qvec: Column,
      cb: Array[Array[Array[Double]]]): Column =
    kernel("pq_adc_micro", "pqAdcMicro", LongType, returnNullable = true)(
      Typed(codes, ints), Typed(qvec, doubles), codebook("pq_adc_micro", cb))

  /** `pq_err_micro(vec, codes)` → array<bigint>: per-subspace micro
    * quantization error (see [[VectorKernels.pqErrMicro]]). */
  def pq_err_micro(vec: Column, codes: Column,
      cb: Array[Array[Array[Double]]]): Column =
    kernel("pq_err_micro", "pqErrMicro", ArrayType(LongType, containsNull = false),
      returnNullable = true)(Typed(vec, doubles), Typed(codes, ints), codebook("pq_err_micro", cb))

  /** `dense_embedding(entries, dim)` → array<float>: scatter the sparse
    * (component, signed-tf) cells of the hashing-trick embedding into
    * the dense `dim`-vector ([[VectorKernels.denseEmbedding]]) — the
    * replacement for the interpreted `transform(sequence(0, dim-1),
    * i -> CAST(coalesce(map[i], 0L) AS FLOAT))` per-doc lambda. */
  def dense_embedding(entries: Column, dim: Int): Column =
    kernel("dense_embedding", "denseEmbedding", ArrayType(FloatType, containsNull = false))(
      Typed(entries, ArrayType(StructType(Seq(
        StructField("i", IntegerType), StructField("v", LongType))))),
      Positive("dim", dim))

  /** `quantize_micro(vec)` → array<bigint>: per-element micro
    * quantization (see [[VectorKernels.quantizeMicro]] for the
    * bit-identity contract with the SQL round/cast tree). */
  def quantize_micro(vec: Column): Column =
    kernel("quantize_micro", "quantizeMicro", ArrayType(LongType, containsNull = true))(
      Typed(vec, floats))

  /** The codebook as a kernel constant, rejected when the call is
    * declared unless every subspace has ≥ 1 centroid and all centroids
    * share one non-zero length (an empty or ragged codebook would fail
    * at the first row). */
  private def codebook(fn: String, cb: Array[Array[Array[Double]]]): KernelCall.Arg = {
    require(cb != null && cb.nonEmpty && cb.forall(s => s != null && s.nonEmpty),
      s"$fn: codebook must have >= 1 centroid per subspace")
    val sub = cb(0)(0).length
    require(sub > 0 && cb.forall(_.forall(c => c != null && c.length == sub)),
      s"$fn: codebook centroids must be non-empty and rectangular")
    Const(cb)
  }
}
