package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.bridge

/** The one way an intermediate is materialized and released.
  *
  * Policy: a relation read more than once, or whose lineage would grow
  * with every loop round, is cut by an eager executor-local checkpoint;
  * a relation several branches of one computation share is cached for
  * that computation only. A local checkpoint cannot be recomputed: if
  * an executor holding its blocks is lost, every plan still reading it
  * fails. `Dataset.unpersist` leaves a checkpoint's blocks in place
  * (they belong to the RDD under its `LogicalRDD`); `release` drops
  * them, without `RDD.unpersist`'s warning that a local checkpoint
  * cannot be recomputed. Whatever supersedes a checkpoint releases it,
  * else the enclosing `scope` does; outside any scope it stays until a
  * driver GC lets Spark's ContextCleaner drop it. Releases never block.
  */
object Materialize {
  private val current = new ThreadLocal[ArrayBuffer[RDD[_]]]

  private def rddOf(ds: Dataset[_]): Option[RDD[_]] = ds.queryExecution.analyzed match {
    case r: LogicalRDD => Some(r.rdd)
    case _ => None
  }

  /** An eager local checkpoint of `ds`, recorded in the current scope. */
  def apply[T](ds: Dataset[T]): Dataset[T] = {
    val out = ds.localCheckpoint()
    for (rdd <- rddOf(out); s <- Option(current.get)) s += rdd
    out
  }

  /** Runs `body` over `ds` cached, and releases the cache afterwards. */
  def cached[T, R](ds: Dataset[T])(body: Dataset[T] => R): R = {
    val c = ds.persist()
    try body(c) finally { c.unpersist(blocking = false); () }
  }

  /** `n` rounds of `step` from `init`, each checkpointed; the frame a
    * round replaces, `init` included, is released once the new one
    * exists. */
  def iterate[T](init: Dataset[T], n: Int)(step: Dataset[T] => Dataset[T]): Dataset[T] =
    (1 to n).foldLeft(init) { (cur, _) =>
      val next = apply(step(cur))
      release(cur)
      next
    }

  /** A local checkpoint (checkpointed, no checkpoint file) drops its
    * blocks through the bridge; any other RDD is unpersisted. */
  private def free(rdd: RDD[_]): Unit =
    if (rdd.isCheckpointed && rdd.getCheckpointFile.isEmpty) bridge.dropCheckpointBlocks(rdd)
    else rdd.unpersist(blocking = false)

  /** Drops the blocks of a checkpoint or of a cached frame. */
  def release(ds: Dataset[_]): Unit = rddOf(ds) match {
    case Some(rdd) =>
      free(rdd)
      Option(current.get).foreach(_ -= rdd)
    case None => ds.unpersist(blocking = false)
  }

  /** Runs `body`, then releases every checkpoint `apply` recorded in it
    * on this thread. */
  def scope[R](body: => R): R = {
    val outer = current.get
    val mine = ArrayBuffer.empty[RDD[_]]
    current.set(mine)
    try body finally {
      current.set(outer)
      mine.foreach(free)
    }
  }
}
