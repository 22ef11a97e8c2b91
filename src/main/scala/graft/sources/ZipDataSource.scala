package graft.sources

import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, StringContains, StringStartsWith}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.unsafe.types.UTF8String

import java.util.zip.ZipInputStream

/** DataSource V2 reader for the engine's export archives (B9/B10): the
  * inverse of [[graft.sinks.ZipSink]], closing the export→ingest round
  * trip the reference leaves to `unzip` (/root/reference/pkg/sink/
  * zip.go:27-53 writes archives; nothing reads them back).
  *
  *   spark.read.format("graft-zip").load("/exports")   // file or dir
  *   → (archive string, path string, data string)
  *
  * Spark-first mechanics:
  *   - one [[InputPartition]] per archive — a sharded export
  *     (`part-*.zip`) parallelizes across the cluster exactly as it was
  *     written, no driver bottleneck;
  *   - column pruning is pushed into the reader
  *     ([[SupportsPushDownRequiredColumns]]): a `path`-only projection
  *     never materializes entry bytes (`ZipInputStream.closeEntry` skips
  *     the payload), so `count`/listing scans stream metadata only;
  *   - filter pushdown ([[SupportsPushDownFilters]]) prunes WHOLE
  *     ARCHIVES before they are opened — the export-layout analog of
  *     partition pruning. Filters on `archive` prune by filename;
  *     filters on `path` prune via the first-segment invariant that
  *     [[graft.sinks.ZipSink.writePartitionedByPrefix]] encodes in the
  *     archive name (`prefix=<seg>.part-N.zip` ⇒ every entry path in it
  *     is `<seg>` or starts with `<seg>/`). Pruning is plan-only: every
  *     filter is also returned as residual, so Spark re-applies it
  *     row-wise and a conservative keep can never change results.
  *     Within a kept archive the same `path` filters skip non-matching
  *     entries without materializing their payloads;
  *   - entries stream one at a time — memory is O(largest entry), not
  *     O(archive).
  */
class ZipDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-zip"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ZipDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ZipTable(properties.get("path"))

  override def supportsExternalMetadata(): Boolean = false
}

object ZipDataSource {
  val schema: StructType = StructType(Seq(
    StructField("archive", StringType, nullable = false),
    StructField("path", StringType, nullable = false),
    StructField("data", StringType, nullable = true)))

  /** Driver-side Hadoop conf as a serializable map; executor readers
    * rebuild a `Configuration` from it (see [[confFrom]]) — exports live
    * on object stores/HDFS at scale, so the reader, like
    * [[graft.sinks.ZipSink]], never touches `java.io.File`. */
  def hadoopConfMap(): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
      .iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  def confFrom(m: Map[String, String]): org.apache.hadoop.conf.Configuration = {
    val c = new org.apache.hadoop.conf.Configuration(false)
    m.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** Expand a file-or-directory path into the (fully-qualified) archive
    * list. Driver-side: uses the active session's Hadoop conf. */
  def archivesUnder(root: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(
      org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf())
    val st = fs.getFileStatus(p)
    if (st.isDirectory)
      fs.listStatus(p).iterator
        .filter(s => s.isFile && s.getPath.getName.endsWith(".zip"))
        .map(_.getPath.toString).toSeq.sorted
    else Seq(fs.makeQualified(p).toString)
  }

  /** Test probe: archives actually opened by readers. Meaningful in
    * local mode only (readers share the driver JVM) — production
    * observability is the scan description's pruned/total counts. */
  val openedArchives = new java.util.concurrent.atomic.AtomicLong(0L)

  private val PrefixRe = """prefix=(.+)\.part-\d+\.zip""".r

  /** The entry-path first-segment invariant encoded in an archive's
    * filename by `writePartitionedByPrefix`, if any. */
  def archiveSegment(archive: String): Option[String] =
    new org.apache.hadoop.fs.Path(archive).getName match {
      case PrefixRe(enc) => Some(java.net.URLDecoder.decode(enc, "UTF-8"))
      case _ => None
    }

  /** True unless `filters` PROVE no entry of `archive` can match.
    * `archive`-column predicates evaluate on the filename directly; a
    * `path` prefix predicate `p` uses the segment invariant: every entry
    * is `seg` or `seg/...`, so a match requires `seg.startsWith(p)` or
    * `p.startsWith(seg)` (conservative on the `/` boundary — a false
    * keep costs one archive open, a false prune would lose rows).
    * Archives without the invariant never prune on `path`. */
  def archiveCanMatch(archive: String, filters: Seq[Filter]): Boolean =
    filters.forall {
      case EqualTo("archive", v: String) => archive == v
      case StringStartsWith("archive", p) => archive.startsWith(p)
      case StringContains("archive", s) => archive.contains(s)
      case In("archive", vs) => vs.exists {
        case v: String => archive == v
        case _ => true
      }
      case StringStartsWith("path", p) => pathPrefixCanMatch(archive, p)
      case EqualTo("path", v: String) => pathPrefixCanMatch(archive, v)
      case _ => true
    }

  private def pathPrefixCanMatch(archive: String, p: String): Boolean =
    archiveSegment(archive) match {
      case Some(seg) => seg.startsWith(p) || p.startsWith(seg)
      case None => true
    }

  /** Exact per-entry check for the pushed `path` predicates (skips a
    * non-matching entry's payload inside a kept archive). Unknown
    * predicate shapes were already filtered out by `isPrunable`. */
  def entryCanMatch(entryPath: String, filters: Seq[Filter]): Boolean =
    filters.forall {
      case StringStartsWith("path", p) => entryPath.startsWith(p)
      case EqualTo("path", v: String) => entryPath == v
      case StringContains("path", s) => entryPath.contains(s)
      case _ => true
    }

  /** Predicate shapes the scan knows how to use for pruning/skipping. */
  def isPrunable(f: Filter): Boolean = f match {
    case EqualTo(a, _: String) => a == "archive" || a == "path"
    case StringStartsWith(a, _) => a == "archive" || a == "path"
    case StringContains(a, _) => a == "archive" || a == "path"
    case In("archive", _) => true
    case _ => false
  }
}

final class ZipTable(path: String) extends Table with SupportsRead {
  require(path != null, "graft-zip requires a load path")
  override def name(): String = s"graft-zip:$path"
  override def schema(): StructType = ZipDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ZipScanBuilder(path)
}

final class ZipScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = ZipDataSource.schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(ZipDataSource.isPrunable)
    // Every filter stays residual: pushdown here only PRUNES (archives,
    // entry payloads); Spark's row-level re-check keeps correctness
    // independent of the pruning logic.
    filters
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new ZipScan(path, required, pushed)
}

final case class ZipArchivePartition(archive: String) extends InputPartition

final class ZipScan(path: String, required: StructType, filters: Array[Filter])
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  private lazy val all = ZipDataSource.archivesUnder(path)
  private lazy val kept = all.filter(ZipDataSource.archiveCanMatch(_, filters))

  override def description(): String =
    s"graft-zip $path, columns [${required.fieldNames.mkString(",")}], " +
      s"PushedFilters: [${filters.mkString(", ")}], " +
      s"archives ${kept.length}/${all.length} after pruning"

  override def planInputPartitions(): Array[InputPartition] =
    kept.map(ZipArchivePartition.apply).toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ZipReaderFactory(required.fieldNames, filters, ZipDataSource.hadoopConfMap())
}

final class ZipReaderFactory(columns: Array[String], filters: Array[Filter],
    hconf: Map[String, String]) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new ZipEntryReader(partition.asInstanceOf[ZipArchivePartition].archive,
      columns, filters, hconf)
}

/** Streams one archive's entries; reads entry bytes only when the `data`
  * column survived pruning AND the entry path passes the pushed `path`
  * filters (non-matching entries are skipped without decoding). */
final class ZipEntryReader(archive: String, columns: Array[String],
    filters: Array[Filter], hconf: Map[String, String])
    extends PartitionReader[InternalRow] {
  ZipDataSource.openedArchives.incrementAndGet()
  private val needData = columns.contains("data")
  private val zis = {
    val p = new org.apache.hadoop.fs.Path(archive)
    val fs = p.getFileSystem(ZipDataSource.confFrom(hconf))
    new ZipInputStream(new java.io.BufferedInputStream(fs.open(p)))
  }
  private val archiveU = UTF8String.fromString(archive)
  private var row: InternalRow = _

  @annotation.tailrec
  override def next(): Boolean = {
    val e = zis.getNextEntry
    if (e == null) return false
    if (!ZipDataSource.entryCanMatch(e.getName, filters)) {
      zis.closeEntry() // definite non-match: payload never decoded
      next()
    } else {
      // pruned `data`: closeEntry skips the payload without decoding
      val data = if (needData) UTF8String.fromBytes(zis.readAllBytes()) else null
      zis.closeEntry()
      row = new GenericInternalRow(columns.map[Any] {
        case "archive" => archiveU
        case "path" => UTF8String.fromString(e.getName)
        case "data" => data
        case other => throw new IllegalArgumentException(s"unknown column $other")
      })
      true
    }
  }

  override def get(): InternalRow = row
  override def close(): Unit = zis.close()
}
