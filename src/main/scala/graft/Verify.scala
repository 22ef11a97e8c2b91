package graft
import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. Each query
  * runs through [[RunMeter.query]], so its jobs are tagged
  * `graft-query-<name>`. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, rest @ _*) = args
    val only: Set[String] = rest.toSet // optional query-name filter
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")
    // Loud (but non-fatal) drift check: a driver testdata regen with
    // changed physical types cost a full round once (round 9).
    SchemaGuard.warnOnDrift(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.keys
      .filter(name => only.isEmpty || only.contains(name))
      .foreach { name =>
      try {
        // one output file per query keeps the oracle compare simple
        RunMeter.query(spark, name, sfDir)(
          _.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"))
      } catch { case NonFatal(e) => // a fatal error stops the dump
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
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
