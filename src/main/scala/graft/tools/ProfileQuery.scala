package graft.tools

import java.lang.management.ManagementFactory

import scala.collection.mutable

import graft.{GraftSession, Materialize, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import scala.jdk.CollectionConverters._

/** The repeat-profiler for catalog queries: executes
  * `SparkEntry.queries(name)` N times through the noop sink (same
  * session and materialization as Bench) and prints wall, GC and JIT per
  * run, then the run's Spark jobs grouped by the `graft.*` call site of
  * the SQL execution that ran them, with job count and execution wall
  * time per site — which operator's action runs which jobs.
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
    val sites = new SiteListener
    spark.sparkContext.addSparkListener(sites)
    def gcMillis: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).sum
    def jitMillis: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    for (name <- names; i <- 1 to runs) {
      sites.take()
      val g0 = gcMillis; val j0 = jitMillis; val t0 = System.nanoTime()
      Materialize.scope(SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save())
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMillis - g0) / 1000.0; val jit = (jitMillis - j0) / 1000.0
      // the listener bus delivers asynchronously: let it drain, outside
      // the timed window, before reading this run's jobs
      Thread.sleep(200)
      val bySite = sites.take()
      println(f"[profile] $name run $i: $wall%.2f s (gc $gc%.1f s, jit $jit%.1f s), " +
        s"${bySite.map(_._2).sum} jobs at ${bySite.size} call sites:")
      bySite.foreach { case (site, jobs, ms) =>
        println(f"[profile]   $jobs%3d jobs ${ms / 1000.0}%6.2f s  $site")
      }
    }
    spark.stop()
  }

  /** The first `graft.*` frame outside [[Materialize]] in a call-site
    * stack, as `Class.method:line`; lambdas are named by their enclosing
    * method. */
  private def siteOf(callStack: String): String =
    callStack.linesIterator.map(_.trim)
      .find(l => l.startsWith("graft.") && !l.startsWith("graft.Materialize"))
      .map { frame =>
        val call = frame.takeWhile(_ != '(')
        val cls = call.take(call.lastIndexOf('.')).split('.').last.stripSuffix("$")
        val method = call.drop(call.lastIndexOf('.') + 1).split('$')
          .find(p => p.nonEmpty && p != "anonfun" && p != "adapted" && !p.forall(_.isDigit))
          .getOrElse("?")
        val line = frame.dropWhile(_ != ':').drop(1).takeWhile(_.isDigit)
        s"$cls.$method:$line"
      }
      .getOrElse("(outside graft)")

  /** Jobs and root-execution wall time per call site, since the last
    * [[take]]. Jobs outside any SQL execution count under their own
    * label. */
  private final class SiteListener extends SparkListener {
    private val siteByExec = mutable.Map.empty[Long, String]
    private val startByExec = mutable.Map.empty[Long, Long]
    private val jobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val wallMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart =>
          siteByExec(s.executionId) = siteOf(s.details)
          if (s.rootExecutionId.forall(_ == s.executionId))
            startByExec(s.executionId) = s.time
        case end: SparkListenerSQLExecutionEnd =>
          for (t0 <- startByExec.remove(end.executionId); site <- siteByExec.get(end.executionId))
            wallMs(site) += end.time - t0
        case _ =>
      }
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      jobs(exec.flatMap(id => siteByExec.get(id.toLong)).getOrElse("(no SQL execution)")) += 1
    }

    /** (site, jobs, wall ms) by descending wall, and a reset. */
    def take(): Seq[(String, Int, Long)] = synchronized {
      val out = (jobs.keySet ++ wallMs.keySet).toSeq
        .map(s => (s, jobs(s), wallMs(s))).sortBy(r => (-r._3, -r._2, r._1))
      jobs.clear(); wallMs.clear(); siteByExec.clear(); startByExec.clear()
      out
    }
  }
}
