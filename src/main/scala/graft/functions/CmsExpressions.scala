package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.sketch.CountMinSketch

/** Point-query side of Spark's `count_min_sketch` aggregate.
  *
  * Spark ships the CMS *builder* as a SQL aggregate (binary sketch out,
  * mergeable map-side — the property that makes it the 100 TB
  * heavy-hitter path: the shuffle carries one ~KB array per group
  * instead of the raw key stream) but provides no SQL surface to READ
  * the sketch back. `cms_estimate(sketch, item)` closes that gap.
  *
  * Encoding contract: `CountMinSketchAgg` inserts StringType items as
  * their UTF-8 bytes (`addBinary`), so the estimate side must hash the
  * same bytes — `UTF8String.getBytes`, not a Java String — or every
  * lookup silently misses.
  *
  * CodegenFallback is deliberate: the sketch arrives as a per-row
  * binary column, so each eval deserializes it (~KB). That is only
  * sane on control-plane cardinalities (the top-k join in x74 feeds it
  * tens of rows against a one-row broadcast sketch); a per-document
  * hot path must keep the sketch on the aggregate side instead.
  */
case class CmsEstimate(left: Expression, right: Expression)
    extends BinaryExpression with CodegenFallback {

  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "cms_estimate"

  override def nullSafeEval(sketchBytes: Any, item: Any): Any = {
    val in = new java.io.ByteArrayInputStream(sketchBytes.asInstanceOf[Array[Byte]])
    val sketch = CountMinSketch.readFrom(in)
    java.lang.Long.valueOf(
      sketch.estimateCount(item.asInstanceOf[UTF8String].getBytes))
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object CmsFunctions {
  /** Estimated count of `item` (string) in a `count_min_sketch` binary. */
  def cms_estimate(sketch: Column, item: Column): Column =
    toColumn(CmsEstimate(toExpression(sketch), toExpression(item)))
}
