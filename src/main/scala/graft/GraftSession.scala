package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built. Bench, Verify, the export
  * CLI, every tool and the test suite share these settings, so the
  * configuration Verify checks is the one Bench measures.
  *
  * `cores` sizes both the local master and the shuffle width; it
  * defaults to `SPARK_GRAFT_CPUS`, else every core the JVM sees. A
  * master or shuffle width the launch already set (spark-submit's
  * `--master` and `--conf`) is kept.
  */
object GraftSession {
  private def defaultCores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private[graft] def sizing(launch: SparkConf, cores: Int): Seq[(String, String)] =
    Seq("spark.master" -> s"local[$cores]", "spark.sql.shuffle.partitions" -> cores.toString)
      .filterNot { case (key, _) => launch.contains(key) }

  def apply(cores: Int = defaultCores): SparkSession =
    sizing(new SparkConf(), cores)
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      // The catalog's wide aggregates (64 minhash min-aggs, 60 simhash
      // bit-sums) each generate huge codegen classes; the default
      // 100-entry compiled-class cache evicts them between interleaved
      // queries, so every run re-pays Janino + JIT (~12 s for the LSH
      // DAG: 17.9 s interleaved vs 2.2 s solo). Static conf: it takes
      // effect only on the first session of the JVM.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
