package graft

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated, SparkListenerEvent, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.graft.bridge

/** The one way a run is measured, and the only code that registers a
  * Spark listener or drains the listener bus. A run's jobs carry its
  * tag; the meter counts only tagged jobs, their tasks and their call
  * sites, and reports the jobs that started without the tag (another
  * thread's work, or a thread that lost the tag) instead of folding
  * them in. Counters are read after a bus drain, outside the timed
  * window. */
object RunMeter {

  /** Jobs and root-execution wall ms of one `graft.*` call site. */
  final case class Site(site: String, jobs: Int, wallMs: Long)

  /** What a run returned, its wall time, and the counters of its tagged
    * jobs: task counts per stage, shuffle-write and disk-spill bytes and
    * task GC ms over their tasks, the RDD blocks stored while it ran, and
    * jobs and wall per call site by descending wall. */
  final case class Run[R](result: R, wallSec: Double, jobs: Int, untagged: Int,
      tasksPerStage: Map[Int, Int], shuffleWriteBytes: Long, spillBytes: Long,
      gcMs: Long, blocksStored: Int, sites: Seq[Site])

  def tagOf(name: String): String = s"graft-query-$name"

  /** The timing action: every row produced through the noop sink,
    * nothing collected to the driver. */
  val noop: DataFrame => Unit = _.write.format("noop").mode("overwrite").save()

  /** Runs the catalog query `name` and `action` over it in a
    * [[Materialize.scope]], its jobs tagged [[tagOf]]`(name)`. */
  def query[R](spark: SparkSession, name: String, sfDir: String)(
      action: DataFrame => R): Run[R] =
    measure(spark, tagOf(name))(
      Materialize.scope(action(SparkEntry.queries(name)(spark, sfDir))))

  /** Runs `body` with its jobs tagged `tag` and meters them. */
  def measure[R](spark: SparkSession, tag: String)(body: => R): Run[R] = {
    val sc = spark.sparkContext
    bridge.drainListenerBus(sc)
    val meter = new Meter(tag)
    sc.addSparkListener(meter)
    sc.addJobTag(tag)
    try {
      val t0 = System.nanoTime()
      val out = body
      val wall = (System.nanoTime() - t0) / 1e9
      bridge.drainListenerBus(sc)
      val run = meter.run(out, wall)
      if (run.untagged > 0)
        System.err.println(s"[meter] $tag: ${run.untagged} job(s) started without the tag")
      run
    } finally {
      sc.removeJobTag(tag)
      sc.removeSparkListener(meter)
    }
  }

  /** The first `graft.*` frame outside [[Materialize]] in a call-site
    * stack, as `Class.method:line`; lambdas are named by their enclosing
    * method, so the meter's own action is filed as `RunMeter.noop:<line>`. */
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

  /** Counts the tagged jobs' events; jobs and wall per site key on the
    * SQL execution that ran them, or on the job's own call site when it
    * ran outside one. */
  private final class Meter(tag: String) extends SparkListener {
    private var jobs, untagged, blocks = 0
    private var shuffle, spill, gc = 0L
    private val stages = mutable.Set.empty[Int]
    private val tasks = mutable.Map.empty[Int, Int].withDefaultValue(0)
    private val siteByExec = mutable.Map.empty[Long, String]
    private val startByExec = mutable.Map.empty[Long, Long]
    private val siteJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    private val siteMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      if (!bridge.jobTags(e.properties).contains(tag)) untagged += 1
      else {
        jobs += 1
        stages ++= e.stageIds
        val exec = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
        // a job outside any SQL execution is keyed by its own call site,
        // which its result stage (the job's last-created) carries; a
        // zero-partition job has no stage
        siteJobs(exec.flatMap(id => siteByExec.get(id.toLong))
          .orElse(e.stageInfos.maxByOption(_.stageId).map(st => siteOf(st.details)))
          .getOrElse("(no stage)")) += 1
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (stages(e.stageId)) {
        tasks(e.stageId) += 1
        val m = e.taskMetrics
        if (m != null) {
          shuffle += m.shuffleWriteMetrics.bytesWritten
          spill += m.diskBytesSpilled
          gc += m.jvmGCTime
        }
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid) blocks += 1
    }

    override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          siteByExec(s.executionId) = siteOf(s.details)
          if (s.rootExecutionId.forall(_ == s.executionId))
            startByExec(s.executionId) = s.time
        case end: SparkListenerSQLExecutionEnd =>
          for (t0 <- startByExec.remove(end.executionId); site <- siteByExec.get(end.executionId))
            siteMs(site) += end.time - t0
        case _ =>
      }
    }

    def run[R](out: R, wall: Double): Run[R] = synchronized {
      val sites = (siteJobs.keySet ++ siteMs.keySet).toSeq
        .map(s => Site(s, siteJobs(s), siteMs(s))).sortBy(s => (-s.wallMs, -s.jobs, s.site))
      Run(out, wall, jobs, untagged, tasks.toMap, shuffle, spill, gc, blocks, sites)
    }
  }
}
