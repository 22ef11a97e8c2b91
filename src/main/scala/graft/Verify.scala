package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Each query
  * runs through [[RunMeter.query]], so its jobs are tagged
  * `graft-query-<name>`.
  *
  * Usage: Verify <sfDir> <outDir> [name…] — names select a subset, and
  * oracle_sql.json then carries only those; an unknown name exits 2. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val names = try select(rest) catch { case e: IllegalArgumentException =>
      System.err.println(s"[verify] FATAL: ${e.getMessage}")
      sys.exit(2)
    }
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // Loud (but non-fatal) drift check: a driver testdata regen with
    // changed physical types cost a full round once (round 9).
    SchemaGuard.warnOnDrift(spark, sfDir)
    dump(spark, sfDir, outDir, names)
    spark.stop()
  }

  /** The queries `names` selects, in catalog order: all of them when
    * empty. An unknown name is an error, not an empty selection. */
  def select(names: Seq[String]): Seq[String] = {
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    SparkEntry.queries.keys.toSeq.filter(n => names.isEmpty || names.contains(n))
  }

  /** Writes each query in `names` to `<outDir>/<name>` and their oracle
    * SQL to `<outDir>/oracle_sql.json`. A query that fails is reported
    * and keeps its oracle entry, so the oracle check fails on it. */
  def dump(spark: SparkSession, sfDir: String, outDir: String, names: Seq[String]): Unit = {
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try {
        // one output file per query keeps the oracle compare simple
        RunMeter.query(spark, name, sfDir)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      } catch { case NonFatal(e) => // a fatal error stops the dump
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }

  /** JSON string escape for oracle_sql.json and the bench artifact:
    * backslash, quote, and ALL control chars (< 0x20) as 4-hex-digit
    * escapes — a raw tab or CR in the oracle SQL would otherwise make
    * json.load of the file fail and silently zero the correctness check. */
  private[graft] def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
