package org.apache.spark.sql

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.types.StructType

/** Bridge between the public `Column` API and Catalyst `Expression`s.
  *
  * Spark 4 hides the Column↔Expression conversion behind
  * `private[sql]` (`org.apache.spark.sql.classic.ExpressionUtils`)
  * because of the Connect split. Libraries that ship native Catalyst
  * expressions (as this one does for vector math and hashing — see
  * `graft.functions`) conventionally expose it from a package stub
  * inside `org.apache.spark.sql`; this object is that stub and the
  * only program file living outside the `graft` namespace (the tests
  * add a listener-bus accessor beside it).
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Release the storage blocks behind a `localCheckpoint`ed frame NOW.
    *
    * `Dataset.unpersist` only uncaches CacheManager entries; a local
    * checkpoint's persistence lives at the RDD layer (the `LogicalRDD`
    * the checkpointed plan is), which the public API cannot reach —
    * without this, blocks are freed only when the ContextCleaner
    * eventually GCs the dropped RDD, which is too lazy for iterative
    * algorithms holding one snapshot per round. No-op unless the
    * frame's analyzed plan IS the checkpoint: a frame derived from one
    * only reads it, and must not free what other frames still read. */
  def unpersistCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** A frame over rows already in Catalyst's internal form: the local
    * relation `createDataFrame` builds, without the round trip through
    * external rows (which re-encodes strings via java.lang.String). */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
