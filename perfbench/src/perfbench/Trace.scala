package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** A span around one public call: name, layer, start, end and parent. */
final case class Span(id: Int, name: String, layer: String, parent: Int, startMs: Long,
    traced: Boolean) {
  @volatile var endMs: Long = -1L
  def durMs: Long = math.max(0L, endMs - startMs)
}

/** Counters of one stage, filled by task-end events. */
final class StageStats(val stageId: Int) {
  var span: Int = -1
  var module: String = "other" // innermost graft.ops.* frame of the call site
  var isMap: Boolean = false
  var tasks = 0
  var failed = 0
  var busyMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var waitMs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var shuffleRecordsRead = 0L
  var maxTaskRecords = 0L
  var spill = 0L
  var inputRecords = 0L
  var recordsWritten = 0L
  var bytesWritten = 0L
  val durations = mutable.ArrayBuffer.empty[Long]
}

/** Spans, job tags and the Spark listeners that attribute task, shuffle,
  * GC, storage and planning counters to them. Everything stays in memory
  * until the run ends. Block-manager storage is always tracked, so the
  * peak is right when tracing starts mid-run; task, job and planning
  * counters only while `enabled` is set, so untraced work pays nothing
  * for them. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  @volatile var enabled = false
  private val lock = new Object

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private val streamSpans = mutable.Map.empty[String, Int] // query id → span
  val stages = mutable.Map.empty[Int, StageStats]
  val jobsPerSpan = mutable.Map.empty[Int, Int].withDefaultValue(0)
  val jobStartMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  /** (end of planning in epoch ms, planning ms) per executed query. */
  val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  // block-manager storage held by RDD blocks (persist and checkpoints)
  private val blocks = mutable.Map.empty[String, Long]
  private var stored = 0L
  @volatile var peakStored = 0L
  val rddPeak = mutable.Map.empty[Int, Long].withDefaultValue(0L)

  private val TagPrefix = "perfbench-span-"
  private val OpsFrame = """graft\.ops\.([A-Za-z]+)""".r

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = lock.synchronized {
      val sp = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), enabled)
      spans += sp
      stack.push(sp)
      sp
    }
    val tag = TagPrefix + s.id
    sc.addJobTag(tag)
    try body
    finally {
      sc.removeJobTag(tag)
      lock.synchronized { s.endMs = System.currentTimeMillis(); stack.pop(); () }
    }
  }

  /** Open a span for a streaming query; its jobs carry the query id. */
  def streamSpan(queryId: String, name: String): Span = lock.synchronized {
    val sp = Span(spans.size, name, "streaming", stack.headOption.map(_.id).getOrElse(-1),
      System.currentTimeMillis(), enabled)
    spans += sp
    streamSpans(queryId) = sp.id
    sp
  }

  def endStreamSpan(sp: Span): Unit = lock.synchronized { sp.endMs = System.currentTimeMillis() }

  def resetStoragePeak(): Unit = lock.synchronized { peakStored = stored }
  def blocksHeld: Int = lock.synchronized(blocks.count(_._2 > 0))

  def drain(): Unit = org.apache.spark.BenchAccess.drainListenerBus(sc)

  private def spanOfJob(props: java.util.Properties): Int = {
    if (props == null) return -1
    val q = props.getProperty("sql.streaming.queryId")
    if (q != null && streamSpans.contains(q)) return streamSpans(q)
    val tags = Option(props.getProperty("spark.job.tags")).getOrElse("")
    tags.split(",").filter(_.startsWith(TagPrefix))
      .map(_.stripPrefix(TagPrefix).toInt).foldLeft(-1)(math.max)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) lock.synchronized {
      val sp = spanOfJob(e.properties)
      jobsPerSpan(sp) += 1
      jobStartMs.getOrElseUpdate(sp, mutable.ArrayBuffer.empty) += e.time
      e.stageInfos.foreach { si =>
        val st = stages.getOrElseUpdate(si.stageId, new StageStats(si.stageId))
        st.span = sp
        st.isMap = org.apache.spark.BenchAccess.isShuffleMapStage(si)
        st.module = OpsFrame.findFirstMatchIn(si.details).map(_.group(1)).getOrElse("other")
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) lock.synchronized {
      val st = stages.getOrElseUpdate(e.stageId, new StageStats(e.stageId))
      st.tasks += 1
      if (!e.taskInfo.successful) st.failed += 1
      val m = e.taskMetrics
      if (m != null) {
        st.busyMs += m.executorRunTime
        st.cpuNs += m.executorCpuTime
        st.gcMs += m.jvmGCTime
        st.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        st.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        st.shuffleRecordsRead += m.shuffleReadMetrics.recordsRead
        st.maxTaskRecords = math.max(st.maxTaskRecords, m.shuffleReadMetrics.recordsRead)
        st.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        st.inputRecords += m.inputMetrics.recordsRead
        st.recordsWritten += m.outputMetrics.recordsWritten
        st.bytesWritten += m.outputMetrics.bytesWritten
        val dur = e.taskInfo.duration
        st.durations += dur
        st.waitMs += math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime)
      }
    }

    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = lock.synchronized {
      val info = e.blockUpdatedInfo
      info.blockId match {
        case rb: org.apache.spark.storage.RDDBlockId =>
          val size = info.memSize + info.diskSize
          val key = rb.name
          stored += size - blocks.getOrElse(key, 0L)
          if (size > 0) blocks(key) = size else blocks.remove(key)
          peakStored = math.max(peakStored, stored)
          val perRdd = blocks.iterator.filter(_._1.startsWith(s"rdd_${rb.rddId}_")).map(_._2).sum
          rddPeak(rb.rddId) = math.max(rddPeak(rb.rddId), perRdd)
        case _ => ()
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (enabled) record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      if (enabled) record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) lock.synchronized {
        plans += ((phases.values.map(_.endTimeMs).max, phases.values.map(_.durationMs).sum.toDouble))
      }
    }
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  /** Span time minus the time its child spans cover. */
  def selfMs(s: Span): Long = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    math.max(0L, s.durMs - covered)
  }

  def stagesIn(ids: Set[Int]): Seq[StageStats] = stages.values.filter(s => ids(s.span)).toSeq
}

/** Aggregates over a set of stages. */
object StageAgg {
  def sum(ss: Seq[StageStats])(f: StageStats => Long): Long = ss.map(f).sum

  /** Worst stage's max/median task time, over stages with 4+ tasks. */
  def skew(ss: Seq[StageStats]): Double = {
    val ratios = ss.filter(_.durations.size >= 4).map { s =>
      val d = s.durations.sorted
      val med = math.max(1L, d(d.size / 2))
      d.last.toDouble / med
    }
    if (ratios.isEmpty) 1.0 else ratios.max
  }
}
