package org.apache.spark.sql.graft

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's `private[sql]`/`private[spark]` members: the
  * Column↔Expression conversion (the standard extension-library pattern
  * for registering custom Catalyst expressions as user-facing Columns on
  * Spark 4.x, where `new Column(expr)` is no longer public API), the
  * schema merge, the block release of a local checkpoint, and the
  * listener-bus drain and job-tag lookup [[graft.RunMeter]] measures
  * with.
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

  /** Blocks until every listener event posted so far was delivered. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The job tags a job started with, from its local properties. */
  def jobTags(props: java.util.Properties): Set[String] =
    Option(props).flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
      .map(_.split(SparkContext.SPARK_JOB_TAGS_SEP).toSet).getOrElse(Set.empty)
}
