package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed UDAFs (SURVEY §2.7): custom aggregation where a monoid merge
  * beats collect-and-post-process.
  */

/** Bottom-k distinct longs per group — the group-level form of the
  * bottom-k fingerprint (TextFunctions.fingerprint): merging two
  * bottom-k sketches yields the bottom-k of the union, so partial
  * aggregation (map-side combine) is exact, and the shuffle carries k
  * longs per group instead of all values. Use for e.g. a per-source
  * content sketch over millions of documents. */
class BottomKLongs(k: Int) extends Aggregator[Long, Array[Long], Array[Long]] {

  override def zero: Array[Long] = Array.empty

  override def reduce(buf: Array[Long], v: Long): Array[Long] = insert(buf, v)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    b.foldLeft(a)(insert)

  /** sorted-insert keeping the k smallest distinct values */
  private def insert(buf: Array[Long], v: Long): Array[Long] = {
    val idx = java.util.Arrays.binarySearch(buf, v)
    if (idx >= 0) buf // already present
    else {
      val at = -idx - 1
      if (at >= k) buf // larger than current bottom-k
      else {
        val n = math.min(buf.length + 1, k)
        val out = new Array[Long](n)
        System.arraycopy(buf, 0, out, 0, at)
        out(at) = v
        System.arraycopy(buf, at, out, at + 1, n - at - 1)
        out
      }
    }
  }

  override def finish(buf: Array[Long]): Array[Long] = buf
  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoders.longArray
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoders.longArray
}

/** One scored candidate row for [[TopKScored]]. */
final case class Scored(id: Long, score: Double)

/** Exact top-k by (score DESC, id ASC) — the aggregation form of
  * `row_number() OVER (ORDER BY score DESC, id) <= k`. The buffer is a
  * sorted array capped at k, and merging two buffers yields the top-k
  * of the union, so partial (map-side) aggregation is exact: the
  * shuffle carries at most k rows per (partition, group) instead of
  * every scored candidate — at 100 TB the difference between moving
  * k·partitions rows and moving the corpus once per query. */
class TopKScored(k: Int) extends Aggregator[Scored, Seq[Scored], Seq[Scored]] {

  private def better(a: Scored, b: Scored): Boolean =
    a.score > b.score || (a.score == b.score && a.id < b.id)

  override def zero: Seq[Scored] = Vector.empty

  override def reduce(buf: Seq[Scored], v: Scored): Seq[Scored] = insert(buf, v)

  override def merge(a: Seq[Scored], b: Seq[Scored]): Seq[Scored] =
    b.foldLeft(a)(insert)

  private def insert(buf: Seq[Scored], v: Scored): Seq[Scored] = {
    if (buf.length >= k && better(buf.last, v)) buf
    else {
      val at = buf.indexWhere(x => better(v, x)) match {
        case -1 => buf.length
        case i => i
      }
      // trim AFTER concatenation: when a full buffer's last element
      // exactly equals v (duplicate id+score), neither is `better`,
      // at = buf.length, and the pre-trim form returned k+1 elements
      ((buf.take(at) :+ v) ++ buf.drop(at)).take(k)
    }
  }

  override def finish(buf: Seq[Scored]): Seq[Scored] = buf
  override def bufferEncoder: Encoder[Seq[Scored]] = ExpressionEncoders.scoredSeq
  override def outputEncoder: Encoder[Seq[Scored]] = ExpressionEncoders.scoredSeq
}

/** One-pass centered-scatter moments for [[graft.operators.Similarity
  * .embeddingAnisotropy]]: accumulates, over milli-quantized embedding
  * vectors, the row count n, the per-dimension component sums
  * s_i = Σ q_i, and the raw product sums P_ij = Σ q_i·q_j — packed as
  * ONE Long array [n, s_0..s_{d−1}, P_00..P_{dd}] so partial
  * aggregation (map-side combine) ships dim²+dim+1 longs per task and
  * the shuffle is schema-bounded. The caller reconstructs the exact
  * centered scatter via the integer identity
  * S_ij = P_ij − mu_j·s_i − mu_i·s_j + n·mu_i·mu_j (mu = s div n,
  * truncating toward zero — the same floor-division mean the de-
  * exploded formulation used), replacing the posexplode self-join
  * that materialized n·dim² intermediate rows (VERDICT r11 item 2).
  *
  * Quantization matches `CAST(round(cast(v AS double) * 1000.0) AS
  * long)` under non-ANSI semantics bit-for-bit
  * ([[VectorKernels.roundHalfUp]], total on non-finite components, so
  * one Inf component cannot abort the whole query). Hash-identical to
  * the exploded form (unit-pinned on .5-boundary adversaries). Only the
  * upper triangle accumulates (P is symmetric); finish() mirrors.
  * Overflow envelope: |q| ≤ ~2e3 milli for unit-scale embeddings, so
  * P_ij grows ~4e6·n — exact in Long to n ≈ 2e12 rows, the same
  * envelope the exploded BIGINT aggregation had. */
class ScatterMoments(dim: Int) extends Aggregator[Array[Float], Array[Long], Array[Long]] {
  require(dim >= 1, s"ScatterMoments: dim must be positive, got $dim")

  override def zero: Array[Long] = new Array[Long](1 + dim + dim * dim)

  override def reduce(buf: Array[Long], vec: Array[Float]): Array[Long] = {
    val q = new Array[Long](dim)
    var i = 0
    while (i < dim) { q(i) = VectorKernels.roundHalfUp(vec(i), 1000.0); i += 1 }
    buf(0) += 1L
    i = 0
    while (i < dim) {
      buf(1 + i) += q(i)
      var j = i // upper triangle only; finish() mirrors
      val row = 1 + dim + i * dim
      while (j < dim) { buf(row + j) += q(i) * q(j); j += 1 }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    var i = 0
    while (i < a.length) { a(i) += b(i); i += 1 }
    a
  }

  override def finish(buf: Array[Long]): Array[Long] = {
    var i = 1
    while (i < dim) {
      var j = 0
      while (j < i) {
        buf(1 + dim + i * dim + j) = buf(1 + dim + j * dim + i)
        j += 1
      }
      i += 1
    }
    buf
  }

  override def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoders.longArray
  override def outputEncoder: Encoder[Array[Long]] = ExpressionEncoders.longArray
}

/** Shared typed encoders for aggregator buffers AND streaming state
  * ([[graft.streaming]]'s KMV processor stores the same Array[Long]
  * sketch) — one encoder definition per shape. */
private[graft] object ExpressionEncoders {
  val longArray: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  val scoredSeq: Encoder[Seq[Scored]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
}
