package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

/** The one epoch layout: a store under `dir` holds one `batch=<epoch>`
  * partition per streaming epoch, and readers see it as a parquet
  * table with `batch` as a partition column.
  *
  * Replay idempotence rests on two rules, stated here once. A write
  * overwrites its own epoch's partition, so a foreachBatch retry
  * replaces its output instead of duplicating it. A probe reads the
  * store without the epoch it is computing ([[prior]]): a retry
  * re-delivers an epoch whose output already committed, and probing an
  * arrival against its own committed copy would reject the whole epoch
  * and overwrite its output with nothing.
  */
object EpochStore {
  /** The partition column that names an epoch. */
  val Col = "batch"

  /** The epoch id compaction gives the base generation it collapses
    * older epochs into. */
  val BaseEpoch: Long = -1L

  /** The directory of one epoch's partition. */
  def path(dir: String, epoch: Long): String = s"$dir/$Col=$epoch"

  /** Overwrites `dir`'s partition for `epoch` with `df`, partitioned by
    * `partitionBy` within it. The row count is an observed metric of
    * the write itself, so counting costs no job. */
  def write(df: DataFrame, dir: String, epoch: Long, partitionBy: String*): Long = {
    val written = Observation()
    val writer = df.observe(written, count(lit(1)).as("rows")).write.mode("overwrite")
    (if (partitionBy.isEmpty) writer else writer.partitionBy(partitionBy: _*))
      .parquet(path(dir, epoch))
    written.get("rows").asInstanceOf[Long]
  }

  /** The store under `dir`, or None before its first epoch commits.
    * Empty is decided by listing (a missing root or no data file yet),
    * never by swallowing a read error: a corrupt store must fail the
    * epoch loudly, not silently skip a probe. */
  def read(spark: SparkSession, dir: String): Option[DataFrame] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    val hasData = fs.exists(root) && {
      val it = fs.listFiles(root, true)
      var found = false
      while (!found && it.hasNext) {
        val f = it.next()
        found = f.isFile && f.getLen > 0 && !f.getPath.getName.startsWith("_")
      }
      found
    }
    if (hasData) Some(spark.read.parquet(dir)) else None
  }

  /** The store under `dir` without `epoch`'s own partition, or None
    * before its first epoch commits. */
  def prior(spark: SparkSession, dir: String, epoch: Long): Option[DataFrame] =
    read(spark, dir).map(_.filter(col(Col) =!= epoch))

  /** The epoch ids with a partition directory under `dir`, ascending;
    * a `batch=` name that is not a number is skipped. */
  def epochs(spark: SparkSession, dir: String): Seq[Long] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith(s"$Col="))
      .flatMap(n => n.stripPrefix(s"$Col=").toLongOption).sorted
  }
}
