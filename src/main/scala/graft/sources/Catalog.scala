package graft.sources

import graft.operators.RuleCompiler.CatalogResource
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal
import scala.util.{Failure, Success, Try}

/** Source catalog — the Spark analog of the reference's discovery scan
  * (B2, /root/reference/pkg/export/export.go:88-109): enumerate every
  * "table" under a data root. A cluster's resource types map to one
  * parquet/json table per GVK; discovery is a directory listing (or
  * `spark.catalog.listTables` when a metastore exists).
  *
  * Partial-failure tolerance is part of the operator's contract: the
  * reference tolerates partially-failed discovery (export.go:100-109) and
  * per-table scan errors (export.go:130-134 collects, continues). We
  * return successes alongside accumulated errors — never fail-fast.
  */
object Catalog {

  final case class TableRef(name: String, path: String)

  /** One relation over every table in `tables`: they share one schema,
    * or `tables` is a single Hive-partitioned table. */
  final case class ScanGroup(tables: Seq[TableRef], frame: DataFrame)
  final case class ScanResult(groups: Seq[ScanGroup], errors: Seq[String])

  /** B2 — enumerate tables under a root directory (one file/dir per
    * table). Hadoop FS API so the same code works on local FS, HDFS or
    * object stores at scale.
    */
  def discover(spark: SparkSession, root: String): (Seq[TableRef], Seq[String]) = {
    Try {
      val path = new Path(root)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(path).toSeq
        .map(_.getPath)
        .filter(p => p.getName.endsWith(".parquet") || fs.getFileStatus(p).isDirectory)
        .map(p => TableRef(p.getName.stripSuffix(".parquet"), p.toString))
        .sortBy(_.name)
    } match {
      case Success(ts) => (ts, Nil)
      case Failure(e)  => (Nil, Seq(s"discovery failed for $root: ${e.getMessage}"))
    }
  }

  /** A table's leaf files as Spark's file index lists them, and whether
    * any sit in (partition) subdirectories. */
  private final case class Listing(table: TableRef, leaves: Seq[FileStatus], partitioned: Boolean)

  /** B5 + B11 — scan every discovered table in a fixed number of Spark
    * jobs, accumulating per-table errors instead of aborting
    * (errors.Join semantics, export.go:167):
    *
    *   - the driver lists each table;
    *   - ONE job reads the footer schema of every table (the file
    *     non-merging inference picks, or every file under
    *     `spark.sql.parquet.mergeSchema`), instead of one inference job
    *     per `spark.read.parquet(table)`;
    *   - tables with equal schemas become one `spark.read.schema(s)`
    *     relation over all their paths; a Hive-partitioned table keeps
    *     its own relation, so Spark still discovers its partition columns.
    *
    * Each group's frame has the schema `spark.read.parquet` gives each
    * of its tables alone.
    */
  def scanAll(spark: SparkSession, tables: Seq[TableRef]): ScanResult = {
    val conf = spark.sessionState.newHadoopConf()
    val listed = tables.map { t =>
      Try(listLeaves(t, conf)).toEither.left.map(e => s"${t.name}: ${e.getMessage}")
    }
    val listings = listed.collect { case Right(l) => l }
    val schemas = readSchemas(spark, listings)
    val keyed = listings.zip(schemas).collect { case (l, Right(s)) =>
      (s, if (l.partitioned) Some(l.table.path) else None) -> l.table
    }
    val attempts = keyed.map(_._1).distinct.map { case key @ (schema, _) =>
      val members = keyed.collect { case (`key`, t) => t }
      Try(spark.read.schema(schema).parquet(members.map(_.path): _*)).toEither
        .map(ScanGroup(members, _))
        .left.map(e => members.map(t => s"${t.name}: ${e.getMessage}"))
    }
    ScanResult(attempts.collect { case Right(g) => g },
      (listed ++ schemas).collect { case Left(e) => e } ++ attempts.collect { case Left(es) => es }.flatten)
  }

  /** Hidden-file rule of Spark's file index: `_`/`.` names are skipped
    * (partition directories like `_x=1` and the parquet summary files
    * excepted), as are files still being copied. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)

  private def listLeaves(t: TableRef, conf: org.apache.hadoop.conf.Configuration): Listing = {
    val root = new Path(t.path)
    val fs = root.getFileSystem(conf)
    var partitioned = false
    def walk(dir: Path): Seq[FileStatus] =
      fs.listStatus(dir).toSeq.filterNot(s => hidden(s.getPath.getName)).flatMap { s =>
        if (s.isDirectory) { partitioned = true; walk(s.getPath) } else Seq(s)
      }
    val st = fs.getFileStatus(root)
    val leaves = if (st.isDirectory) walk(root) else Seq(st)
    Listing(t, leaves.sortBy(_.getPath.toString), partitioned)
  }

  /** The files whose footers Spark's parquet inference reads: every data
    * file plus the summaries when merging (summaries only under
    * `spark.sql.parquet.respectSummaryFiles`), else one file —
    * `_common_metadata`, else `_metadata`, else the first data file. */
  private def filesToTouch(leaves: Seq[FileStatus], merge: Boolean, respectSummaries: Boolean)
      : Seq[FileStatus] = {
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE => Common, PARQUET_METADATA_FILE => Meta}
    val named = (n: String) => leaves.filter(_.getPath.getName == n)
    val (common, meta) = (named(Common), named(Meta))
    val data = leaves.filterNot(s => s.getPath.getName == Common || s.getPath.getName == Meta)
    if (merge) (if (respectSummaries) Nil else data) ++ meta ++ common
    else common.headOption.orElse(meta.headOption).orElse(data.headOption).toSeq
  }

  /** One Spark job reads the touched footers of every table with Spark's
    * own `ParquetFileFormat.readSchemaFromFooter`, merging per table when
    * `spark.sql.parquet.mergeSchema` is on. Returns each listing's schema
    * or its error, which names the table. `collect` and `groupBy` keep
    * each table's files in listing order, so the merge folds them in
    * Spark's own order. */
  private def readSchemas(spark: SparkSession, listings: Seq[Listing])
      : Seq[Either[String, StructType]] = {
    val sql = spark.sessionState.conf
    val merge = sql.isParquetSchemaMergingEnabled
    val touch = listings.zipWithIndex.flatMap { case (l, i) =>
      filesToTouch(l.leaves, merge, sql.isParquetSchemaRespectSummaries).map(i -> _)
    }
    val folded: Map[Int, Footers] =
      if (touch.isEmpty) Map.empty
      else {
        val hconf = ZipDataSource.hadoopConfMap()
        val binaryAsString = sql.isParquetBinaryAsString
        val int96AsTimestamp = sql.isParquetINT96AsTimestamp
        val inferNtz = sql.parquetInferTimestampNTZEnabled
        val nanosAsLong = sql.legacyParquetNanosAsLong
        val respectUnknown = sql.parquetReaderRespectUnknownTypeAnnotation
        val ignoreCorrupt = sql.ignoreCorruptFiles
        val caseSensitive = sql.caseSensitiveAnalysis
        val sc = spark.sparkContext
        sc.parallelize(touch, math.min(touch.size, sc.defaultParallelism)).mapPartitions { files =>
          val conf = ZipDataSource.confFrom(hconf)
          val converter = new ParquetToSparkSchemaConverter(
            assumeBinaryIsString = binaryAsString,
            assumeInt96IsTimestamp = int96AsTimestamp,
            inferTimestampNTZ = inferNtz,
            nanosAsLong = nanosAsLong,
            respectUnknownTypeAnnotation = respectUnknown)
          files.map { case (i, f) =>
            val schema: Footers =
              try {
                val meta = ParquetFooterReader.readFooter(
                  HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
                Right(Some(ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, meta), converter)))
              } catch {
                case _: RuntimeException if ignoreCorrupt => Right(None)
                case NonFatal(e) => Left(s"could not read footer of ${f.getPath}: ${e.getMessage}")
              }
            i -> schema
          }
        }.collect().toSeq
          .groupBy(_._1)
          .map { case (i, parts) => i -> parts.map(_._2).reduce(combine(_, _, caseSensitive)) }
      }
    listings.zipWithIndex.map { case (l, i) =>
      folded.get(i) match {
        case Some(Right(Some(s))) => Right(s)
        case Some(Left(e)) => Left(s"${l.table.name}: $e")
        case _ => Left(s"${l.table.name}: unable to infer schema for Parquet at ${l.table.path}")
      }
    }
  }

  /** A table's footer schemas folded so far: an error, or the merged
    * schema (None while every file read was an ignored corrupt one). */
  private type Footers = Either[String, Option[StructType]]

  /** Fold two partial footer results of one table: the first error wins,
    * an ignored corrupt file (None) drops out, two schemas merge. */
  private def combine(a: Footers, b: Footers, caseSensitive: Boolean): Footers = (a, b) match {
    case (Left(_), _) => a
    case (_, Left(_)) => b
    case (Right(Some(x)), Right(Some(y))) =>
      Try(org.apache.spark.sql.graft.bridge.mergeSchemas(x, y, caseSensitive)) match {
        case Success(m) => Right(Some(m))
        case Failure(e) => Left(s"failed merging schema: ${e.getMessage}")
      }
    case (Right(None), _) => b
    case _ => a
  }

  /** In-memory catalog view for the rule compiler: each discovered table
    * is a listable resource (mirrors APIResourceList). Verbs are
    * synthesized: parquet tables are list+watch-able.
    */
  def asResources(tables: Seq[TableRef], group: String = "", version: String = "v1")
      : Seq[CatalogResource] =
    tables.map(t => CatalogResource(group, version, t.name.capitalize, t.name,
      Seq("get", "list", "watch")))
}
