package org.apache.spark.sql

import org.apache.spark.rdd.RDD
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
  * add listener-bus and block-manager accessors beside it).
  */
package object graftbridge {
  def toColumn(e: Expression): Column = classic.ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The RDD behind a `localCheckpoint`ed frame: `Some` only when the
    * frame's analyzed plan IS the checkpoint (the `LogicalRDD` scan). A
    * local checkpoint's persistence lives at that RDD layer, which the
    * public API cannot reach: `Dataset.unpersist` only uncaches
    * CacheManager entries. A frame derived from a checkpoint only reads
    * it, so it has none. */
  def checkpointRdd(df: DataFrame): Option[RDD[InternalRow]] =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Free an RDD's storage blocks NOW, without the WARN that
    * `RDD.unpersist` logs for every locally checkpointed RDD ("its
    * lineage has been truncated"): here the free is expected, and the
    * ContextCleaner frees the same way. Waits for the blocks to go
    * when `blocking`. */
  def unpersistQuietly(r: RDD[_], blocking: Boolean): Unit =
    r.sparkContext.unpersistRDD(r.id, blocking)

  /** A frame over rows already in Catalyst's internal form: the local
    * relation `createDataFrame` builds, without the round trip through
    * external rows (which re-encodes strings via java.lang.String). */
  def localFrame(spark: SparkSession, schema: StructType, rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
