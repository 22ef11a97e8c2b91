package graft.export

import org.apache.spark.sql.SparkSession

/** B1 — CLI entry point for the batch export: the spark-submit analog of
  * `kube-etl export --output out.zip` (/root/reference/main.go:26-35,
  * /root/reference/pkg/export/export.go:44-62). Same flag contract as the
  * reference: `--output` is required ("required flag(s) \"output\" not
  * set"), positional arguments are rejected ("unexpected arguments").
  * `--root` names the data root to export (the reference reads the
  * current cluster; the library reads a table directory).
  *
  * Usage:
  *   graft.export.Main --root <dir> --output <zip|dir>
  *     [--sharded|--partitioned|--partitioned-zip]
  *
  *   (default)          one zip archive — exact reference parity
  *   --sharded          one zip per partition, written by executors
  *   --partitioned      parquet partitioned by (namespace, kind) — the
  *                      100 TB path (no archive, full write parallelism)
  *   --partitioned-zip  archives partitioned by namespace (the entry
  *                      path's first segment); the graft-zip reader
  *                      prunes whole archives on path-prefix filters
  */
object Main {

  final case class Options(
      root: String = null,
      output: String = null,
      sharded: Boolean = false,
      partitioned: Boolean = false,
      partitionedZip: Boolean = false)

  def parse(args: Seq[String]): Either[String, Options] = {
    @annotation.tailrec
    def loop(rest: List[String], opt: Options): Either[String, Options] = rest match {
      case Nil => Right(opt)
      case "--root" :: v :: t => loop(t, opt.copy(root = v))
      case "--output" :: v :: t => loop(t, opt.copy(output = v))
      case "--sharded" :: t => loop(t, opt.copy(sharded = true))
      case "--partitioned" :: t => loop(t, opt.copy(partitioned = true))
      case "--partitioned-zip" :: t => loop(t, opt.copy(partitionedZip = true))
      case other :: _ if !other.startsWith("--") =>
        Left(s"unexpected arguments: ${rest.mkString(" ")}")
      case other :: _ => Left(s"unknown flag: $other")
    }
    loop(args.toList, Options()).flatMap { o =>
      if (o.output == null) Left("required flag(s) \"output\" not set")
      else if (o.root == null) Left("required flag(s) \"root\" not set")
      else if (Seq(o.sharded, o.partitioned, o.partitionedZip).count(identity) > 1)
        Left("--sharded, --partitioned, and --partitioned-zip are mutually exclusive")
      else Right(o)
    }
  }

  /** Dispatch with a caller-provided session (testable end-to-end without
    * `sys.exit`). */
  def run(spark: SparkSession, opts: Options): ExportJob.ExportResult =
    if (opts.partitioned) ExportJob.runPartitioned(spark, opts.root, opts.output)
    else if (opts.partitionedZip) ExportJob.runPartitionedZip(spark, opts.root, opts.output)
    else ExportJob.run(spark, opts.root, opts.output, sharded = opts.sharded)

  def main(args: Array[String]): Unit = parse(args.toIndexedSeq) match {
    case Left(err) =>
      System.err.println(err)
      System.err.println(
        "usage: graft.export.Main --root <dir> --output <zip|dir> [--sharded|--partitioned|--partitioned-zip]")
      sys.exit(2)
    case Right(opts) =>
      val spark = graft.GraftSession()
      try {
        val res = run(spark, opts)
        println(s"exported ${res.entries} entries to ${opts.output}")
        res.errors.foreach(e => System.err.println(s"export error: $e"))
      } finally spark.stop()
  }
}
