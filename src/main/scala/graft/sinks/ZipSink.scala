package graft.sinks

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.io.OutputStream
import java.nio.charset.StandardCharsets
import java.util.zip.{ZipEntry, ZipOutputStream}

/** Archive sink — Spark analog of the reference's zip sink
  * (B9/B10, /root/reference/pkg/sink/zip.go:27-53, sink.go:18-21).
  *
  * Input contract: a DataFrame with exactly two string columns,
  * `path` (archive entry name) and `data` (entry contents).
  *
  * All file I/O goes through the Hadoop `FileSystem` API — an export
  * destination at 100 TB is an object store or HDFS, not a POSIX disk,
  * so nothing here may assume `java.io.File` (same rule the destination
  * commit in [[graft.streaming.SyncStream]] follows). Executors rebuild
  * the driver's Hadoop configuration from a serialized key/value map
  * (`Configuration` itself is not serializable).
  *
  * Three modes, per SURVEY §7.4 (zip-sink-at-scale):
  *   - [[writeSharded]] — one zip per partition, written by executors
  *     with `foreachPartition`; this is the 100 TB path (no driver
  *     bottleneck, scales with the cluster).
  *   - [[writePartitionedByPrefix]] — executor-side like sharded, but
  *     archives are partitioned by the entry path's first segment and
  *     named for it, enabling archive-level pruning in the reader.
  *   - [[writeSingle]] — one archive, exact parity with the reference
  *     CLI; inherently a single-writer operation so it streams through
  *     the driver via `toLocalIterator` (documented limitation, small
  *     exports only).
  */
trait Sink {
  def write(path: String, data: Array[Byte]): Unit
  def close(): Unit
}

final class ZipFileSink(out: OutputStream) extends Sink {
  private val zos = new ZipOutputStream(out)
  override def write(path: String, data: Array[Byte]): Unit = {
    zos.putNextEntry(new ZipEntry(path))
    zos.write(data)
    zos.closeEntry()
  }
  override def close(): Unit = zos.close()
}

object ZipSink {

  private def validated(df: DataFrame): DataFrame =
    df.select(col("path").cast("string"), col("data").cast("string"))

  /** The session's Hadoop conf as a serializable map (executors rebuild
    * a `Configuration` from it — see [[confFrom]]). */
  private def hadoopConfMap(df: DataFrame): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    df.sparkSession.sessionState.newHadoopConf()
      .iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private def confFrom(m: Map[String, String]): Configuration = {
    val c = new Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  private def openCreate(conf: Configuration, path: String): OutputStream = {
    val p = new Path(path)
    p.getFileSystem(conf).create(p, true)
  }

  /** Scale path: one archive per partition under `dir`. Returns the
    * number of entries written (counted by accumulator inside the single
    * sink pass — the write IS the count, no second evaluation of the
    * upstream plan).
    */
  def writeSharded(df: DataFrame, dir: String): Long = {
    val hconf = hadoopConfMap(df)
    val entries = df.sparkSession.sparkContext.longAccumulator("zip_entries")
    validated(df).foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
      if (rows.hasNext) {
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val sink = new ZipFileSink(openCreate(confFrom(hconf), f"$dir/part-$pid%05d.zip"))
        try rows.foreach { r =>
          val p = r.getString(0)
          val d = r.getString(1)
          if (p != null) {
            sink.write(p, (if (d == null) "" else d).getBytes(StandardCharsets.UTF_8))
            entries.add(1L)
          }
        } finally sink.close()
      }
    }
    entries.value
  }

  /** Layout path: archives partitioned by the FIRST PATH SEGMENT of the
    * entry name (`namespace/kind/name.yaml` → segment `namespace`), each
    * named `prefix=<urlencoded-segment>.part-<pid>.zip`. This is the
    * export-layout analog of a partitioned parquet table: the archive
    * NAME carries an invariant ("every entry path in here starts with
    * this segment"), so [[graft.sources.ZipDataSource]] can prune whole
    * archives against a pushed `path` prefix filter without opening
    * them — at 100 TB of exports, a per-namespace read touches one
    * namespace's archives, not the fleet's.
    *
    * Same executor-side mechanics as [[writeSharded]] (`foreachPartition`
    * after hash-repartitioning on the segment; no driver bottleneck). The
    * repartition asks for the session's `spark.sql.shuffle.partitions`
    * explicitly, so adaptive execution cannot coalesce the writers into
    * one task: a small export still writes its archives in parallel.
    * Every segment hashes to exactly one partition, so it gets exactly
    * one archive, whose `part-<pid>` suffix is the writing partition; a
    * partition holding several segments keeps one open sink per segment.
    * Returns the number of entries written.
    */
  def writePartitionedByPrefix(df: DataFrame, dir: String): Long = {
    val hconf = hadoopConfMap(df)
    val entries = df.sparkSession.sparkContext.longAccumulator("zip_entries")
    val withSeg = validated(df).withColumn("_seg",
      org.apache.spark.sql.functions.substring_index(col("path"), "/", 1))
    val writers = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    withSeg.repartition(writers, col("_seg")).foreachPartition {
      rows: Iterator[org.apache.spark.sql.Row] =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val conf = confFrom(hconf)
        val open = scala.collection.mutable.Map.empty[String, ZipFileSink]
        try rows.foreach { r =>
          val p = r.getString(0)
          val d = r.getString(1)
          if (p != null) {
            val seg = r.getString(2)
            val sink = open.getOrElseUpdate(seg, {
              val enc = java.net.URLEncoder.encode(seg, "UTF-8")
              new ZipFileSink(openCreate(conf, f"$dir/prefix=$enc.part-$pid%05d.zip"))
            })
            sink.write(p, (if (d == null) "" else d).getBytes(StandardCharsets.UTF_8))
            entries.add(1L)
          }
        } finally open.values.foreach(_.close())
    }
    entries.value
  }

  /** Parity path: one archive, streamed through the driver (the archive
    * format itself is single-writer; matches the reference CLI exactly).
    * Returns the number of entries written.
    */
  def writeSingle(df: DataFrame, file: String): Long = {
    val sink = new ZipFileSink(
      openCreate(df.sparkSession.sessionState.newHadoopConf(), file))
    var n = 0L
    try validated(df).toLocalIterator().forEachRemaining { r =>
      val p = r.getString(0)
      val d = r.getString(1)
      if (p != null) {
        sink.write(p, (if (d == null) "" else d).getBytes(StandardCharsets.UTF_8))
        n += 1L
      }
    } finally sink.close()
    n
  }
}
