package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]`/`private[spark]` members: the
  * Column↔Expression conversion (the standard extension-library pattern
  * for registering custom Catalyst expressions as user-facing Columns on
  * Spark 4.x, where `new Column(expr)` is no longer public API), the
  * schema merge and the block release of a local checkpoint.
  */
object bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Spark's parquet schema merge (`StructType.merge`, what
    * `spark.sql.parquet.mergeSchema` folds footers with). */
  def mergeSchemas(a: StructType, b: StructType, caseSensitive: Boolean): StructType =
    a.merge(b, caseSensitive)

  /** Drops the blocks of a local checkpoint's RDD the way
    * `RDD.unpersist` does, minus its warning that the checkpoint cannot
    * be recomputed afterwards: freeing it is the caller's intent. */
  def dropCheckpointBlocks(rdd: RDD[_]): Unit =
    rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
}
