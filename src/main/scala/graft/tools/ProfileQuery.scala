package graft.tools

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import graft.{GraftSession, Materialize, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import scala.jdk.CollectionConverters._

/** The repeat-profiler for catalog queries: executes
  * `SparkEntry.queries(name)` N times through the noop sink (same
  * session and materialization as Bench) and prints wall, GC, JIT and
  * Spark job count per run, to separate plan cost from JIT warm-up and
  * environment drift.
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
    val jobs = new AtomicLong
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    for (name <- names; i <- 1 to runs) {
      val n0 = jobs.get; val g0 = gcMillis; val j0 = jitMillis; val t0 = System.nanoTime()
      Materialize.scope(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMillis - g0) / 1000.0; val jit = (jitMillis - j0) / 1000.0
      // the listener bus delivers asynchronously: let it drain, outside
      // the timed window, before reading this run's job count
      Thread.sleep(200)
      println(f"[profile] $name run $i: $wall%.2f s " +
        f"(gc $gc%.1f s, jit $jit%.1f s, jobs ${jobs.get - n0})")
    }
    spark.stop()
  }
}
