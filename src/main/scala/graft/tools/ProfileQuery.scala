package graft.tools

import java.lang.management.ManagementFactory

import graft.{GraftSession, RunMeter}
import scala.jdk.CollectionConverters._

/** The repeat-profiler for catalog queries: runs `SparkEntry.queries(name)`
  * N times through the noop sink and [[RunMeter.query]] (same session,
  * materialization and job tag `graft-query-<name>` as Bench), and
  * prints wall, GC and JIT per run, then the run's Spark jobs grouped by
  * the `graft.*` call site of the SQL execution that ran them, with job
  * count and execution wall time per site — which operator's action
  * runs which jobs.
  *
  * Usage: ProfileQuery <name1,name2,...> [runs=4]
  */
object ProfileQuery {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ProfileQuery <name1,name2,...> [runs]")
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val runs = if (args.length > 1) args(1).toInt else 4
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    for (name <- names; i <- 1 to runs) {
      val g0 = gcMillis; val j0 = jitMillis
      val run = RunMeter.query(spark, name, sfDir)(RunMeter.noop)
      val gc = (gcMillis - g0) / 1000.0; val jit = (jitMillis - j0) / 1000.0
      println(f"[profile] $name run $i: ${run.wallSec}%.2f s (gc $gc%.1f s, jit $jit%.1f s), " +
        s"${run.jobs} jobs at ${run.sites.size} call sites:")
      run.sites.foreach { s =>
        println(f"[profile]   ${s.jobs}%3d jobs ${s.wallMs / 1000.0}%6.2f s  ${s.site}")
      }
    }
    spark.stop()
  }
}
