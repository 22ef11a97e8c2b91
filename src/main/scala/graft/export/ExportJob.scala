package graft.export

import graft.operators.ExportOps
import graft.sinks.ZipSink
import graft.sources.Catalog
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The batch snapshot export job (SURVEY.md §2.1 / §3.1): the Spark
  * re-expression of `kube-etl export` (/root/reference/pkg/export/
  * export.go:64-168).
  *
  *   discover tables (B2) → capability/subresource filters (B3,B4)
  *   → per-table scan (B5) → defaulting (B6) → path derivation (B7)
  *   → serialization (B8) → archive sink (B9,B10), with per-record
  *   error accumulation (B11).
  *
  * Where the reference is sequential (one List per GVR, one thread), an
  * export here runs a fixed number of Spark jobs however many tables
  * there are: [[Catalog.scanAll]] reads every table's footer schema in
  * one job and scans each group of same-schema tables as one relation,
  * then the sink's write is the only other action. Entry order inside an
  * archive follows the scan's splits, not table order: entry names are
  * the contract. YAML rendering happens only at the sink edge.
  */
object ExportJob {

  final case class ExportResult(entries: Long, errors: Seq[String])

  /** Build the (path, data) DataFrame for one canonical-KRM table. The
    * document payload is serialized from identity + payload columns; data
    * is the YAML surface form rendered at the sink edge, so here we keep
    * canonical JSON.
    */
  def entriesFor(df: DataFrame): DataFrame = {
    val cols = krmColumns(df)
    val ns = if (cols.contains("namespace")) col("namespace") else lit(null).cast("string")
    val group = if (cols.contains("apiGroup")) col("apiGroup") else lit(null).cast("string")
    df.select(
      ExportOps.krmPath(ns, group, col("kind"), col("name")).as("path"),
      ExportOps.serializeJson(struct(df.columns.map(col).toIndexedSeq: _*)).as("data"))
  }

  /** The columns of a canonical-KRM table; any other table fails here. */
  private def krmColumns(df: DataFrame): Set[String] = {
    val cols = df.columns.toSet
    require(Set("kind", "name").subsetOf(cols), s"not a KRM table: ${cols.mkString(",")}")
    cols
  }

  /** The 100 TB export path: no archive at all — write the rendered
    * entries as parquet partitioned by (namespace, kind), so downstream
    * consumers get partition pruning and the write parallelizes across
    * the cluster (SURVEY.md §2.1 B10 scale note). The zip modes remain
    * for reference-parity single-archive exports.
    */
  def runPartitioned(spark: SparkSession, root: String, outDir: String): ExportResult = {
    val (frames, errs) = scanned(spark, root) { df =>
      val cols = krmColumns(df)
      val ns = if (cols.contains("namespace")) col("namespace") else lit(null).cast("string")
      df.select(
        ExportOps.defaultNamespace(ns).as("namespace"),
        col("kind"),
        col("name"),
        ExportOps.serializeJson(struct(df.columns.map(col).toIndexedSeq: _*)).as("doc"))
    }
    if (frames.isEmpty) return ExportResult(0L, errs)
    // the entry count is an observed metric of the write itself, not a
    // second job over the output
    val written = Observation("export")
    frames.reduce(_ union _).observe(written, count(lit(1)).as("entries"))
      .write.mode("overwrite").partitionBy("namespace", "kind").parquet(outDir)
    ExportResult(written.get("entries").asInstanceOf[Long], errs)
  }

  /** Discover and scan every table under `root`, and shape each scan
    * group with `shape`. A group `shape` rejects is reported under each
    * of its tables' names, next to the discovery and scan errors (B11 —
    * never fail-fast). */
  private def scanned(spark: SparkSession, root: String)(shape: DataFrame => DataFrame)
      : (Seq[DataFrame], Seq[String]) = {
    val (tables, discErrs) = Catalog.discover(spark, root)
    val scan = Catalog.scanAll(spark, tables)
    val attempts = scan.groups.map { g =>
      scala.util.Try(shape(g.frame)).toEither.left
        .map(ex => g.tables.map(t => s"${t.name}: ${ex.getMessage}"))
    }
    (attempts.collect { case Right(df) => df },
      discErrs ++ scan.errors ++ attempts.collect { case Left(e) => e }.flatten)
  }

  /** Discover, scan, render: the shared head of every zip-mode export.
    * Returns the rendered (path, data) frame (None when no table
    * survived) plus accumulated errors.
    */
  private def renderedEntries(spark: SparkSession, root: String)
      : (Option[DataFrame], Seq[String]) = {
    val (frames, errs) = scanned(spark, root)(entriesFor)
    if (frames.isEmpty) (None, errs)
    else {
      val unioned = frames.reduce(_ union _)
      // YAML at the edge: rendered per entry inside the single sink pass —
      // the sink's own entry count is the result, so the expression is
      // evaluated exactly once per row (no count() pre-pass). to_yaml is a
      // Catalyst expression, not a UDF, so it stays analyzable/prunable.
      (Some(unioned.select(col("path"),
        graft.functions.functions.to_yaml(col("data")).as("data"))), errs)
    }
  }

  /** Run the full export of a KRM data root into a zip archive.
    * `sharded=true` writes one archive per partition (the scale path).
    */
  def run(spark: SparkSession, root: String, out: String, sharded: Boolean = false): ExportResult =
    renderedEntries(spark, root) match {
      case (None, errs) => ExportResult(0L, errs)
      case (Some(rendered), errs) =>
        val n =
          if (sharded) ZipSink.writeSharded(rendered, out)
          else ZipSink.writeSingle(rendered, out)
        ExportResult(n, errs)
    }

  /** Zip export partitioned by the entries' first path segment (the
    * namespace, per B7 path derivation): archive names carry the
    * segment, so the `graft-zip` reader prunes whole archives against a
    * `path` prefix filter — the layout to pick when downstream reads are
    * namespace-scoped (see [[graft.sinks.ZipSink.writePartitionedByPrefix]]).
    */
  def runPartitionedZip(spark: SparkSession, root: String, outDir: String): ExportResult =
    renderedEntries(spark, root) match {
      case (None, errs) => ExportResult(0L, errs)
      case (Some(rendered), errs) =>
        ExportResult(ZipSink.writePartitionedByPrefix(rendered, outDir), errs)
    }
}
