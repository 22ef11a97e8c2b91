package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.export.ExportJob
import graft.model.{KrmModel, ResourceRule, SyncerConfig, WatcherId}
import graft.operators.SyncOps
import graft.sources.ZipDataSource
import graft.streaming.{ParquetDest, SyncStream}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._
import perfbench.Gen._
import perfbench.Main.{median, medianTime, nowS}

import java.io.File
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The three workloads. Each returns its set-up seconds (the median of
  * three input generations, plus writing the inputs once and the warm-up)
  * and fills the outcome with end-to-end metrics, and with per-layer
  * metrics in a traced run. */
object Workloads {

  private def ints(n: JsonNode, k: String): Int = n.get(k).asInt()
  private def dbl(n: JsonNode, k: String): Double = n.get(k).asDouble()

  /** Operations run for `ctx.seconds` (at least `minOps`). In a traced run
    * every second operation is traced, so the tracing overhead is measured
    * inside the same JVM without warm-up drift between the two halves. */
  def measure(ctx: Ctx, out: Outcome, minOps: Int)(op: Int => Unit): (Seq[Double], Seq[Double]) = {
    val plain = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val t0 = nowS
    var i = 0
    while (nowS - t0 < ctx.seconds || i < minOps || (ctx.trace && traced.isEmpty)) {
      val tracing = ctx.trace && i % 2 == 1
      ctx.tracer.enabled = tracing
      val t = nowS
      op(i)
      (if (tracing) traced else plain) += nowS - t
      if (tracing) out.tracedOps += 1
      i += 1
    }
    ctx.tracer.enabled = false
    (plain.toSeq, traced.toSeq)
  }

  private def overhead(out: Outcome, plain: Seq[Double], traced: Seq[Double]): Unit =
    if (plain.nonEmpty && traced.nonEmpty)
      out.layers("trace.overhead_frac") = median(traced) / median(plain) - 1.0

  // ================================================================ krm_export

  private val krmRowSchema = StructType(KrmModel.krmSchema.fields :+ StructField("tbl", StringType))

  private def krmRow(o: KrmObj, tbl: String): Row = Row(o.group, o.version, o.kind, o.namespace,
    o.name, Option(o.labels).map(_.toMap).orNull, Option(o.annotations).map(_.toMap).orNull,
    o.spec, o.status, o.resourceVersion, o.uid, o.generation, null, o.op, tbl)

  /** One table directory per GVK under `root`, in `KrmModel.krmSchema`. */
  private def writeSnapshot(spark: SparkSession, root: String, snap: Seq[(Gvk, Seq[KrmObj])]): Unit = {
    val rows = snap.flatMap { case (g, objs) => objs.map(krmRow(_, g.table)) }
    spark.createDataFrame(rows.asJava, krmRowSchema).repartition(col("tbl"))
      .write.mode("overwrite").partitionBy("tbl").parquet(root)
    // table directories carry the GVK name, as one parquet table per GVK
    new File(root).listFiles().filter(_.getName.startsWith("tbl=")).foreach { f =>
      Files.move(f.toPath, f.toPath.resolveSibling(f.getName.stripPrefix("tbl=") + ".parquet"))
    }
    new File(root, "_SUCCESS").delete()
  }

  val krmExport: (Ctx, Outcome) => Double = (ctx, out) => {
    val c = ctx.cfg("krm_export")
    val ec = ExportConfig(ints(c, "objects"), ints(c, "namespaces"), dbl(c, "cluster_scoped_frac"),
      dbl(c, "table_zipf_s"), ints(c, "payload_min_bytes"), ints(c, "payload_max_bytes"))
    val spark = ctx.spark
    val root = ctx.work.resolve("export-in").toString
    var snap: Seq[(Gvk, Seq[KrmObj])] = Nil
    val t0 = nowS
    val (genS, genTotal) = medianTime(3) { snap = Gen.krmSnapshot(ctx.seed, ec) }
    writeSnapshot(spark, root, snap)
    val objs = snap.flatMap(_._2)
    val n = objs.size.toLong
    val perNs = objs.groupBy(o => Option(o.namespace).getOrElse("_cluster")).map { case (k, v) => k -> v.size.toLong }
    val lookupNs = perNs.keys.toSeq.sorted.filter(_ != "_cluster").take(ints(c, "lookups"))
    val outDir = ctx.work.resolve("export-out").toString
    val passWalls = mutable.ArrayBuffer.empty[Double] // export + full-scan readback
    val scanWalls = mutable.ArrayBuffer.empty[Double]
    val lookupMs = mutable.ArrayBuffer.empty[Double]
    var opened = 0L
    var lookupsDone = 0L
    def pass(record: Boolean): Unit = {
      Main.deleteRecursively(Paths.get(outDir))
      val t = nowS
      val res = ctx.tracer.span("ExportJob.runPartitionedZip", "export") {
        ExportJob.runPartitionedZip(spark, root, outDir)
      }
      val exportS = nowS - t
      out.op(res.entries == n && res.errors.isEmpty,
        s"export wrote ${res.entries} of $n entries, errors ${res.errors.take(3)}")
      val zip = spark.read.format("graft-zip").load(outDir)
      val ts = nowS
      val full = ctx.tracer.span("graft-zip full scan", "sources") {
        zip.agg(count(lit(1)), sum(length(col("data")))).collect()(0)
      }
      if (record) { scanWalls += nowS - ts; passWalls += exportS + nowS - ts }
      out.op(full.getLong(0) == n, s"full scan read ${full.getLong(0)} of $n entries")
      lookupNs.foreach { ns =>
        val before = ZipDataSource.openedArchives.get()
        val tl = nowS
        val got = ctx.tracer.span("graft-zip namespace lookup", "sources") {
          zip.filter(col("path").startsWith(ns + "/")).agg(count(lit(1))).collect()(0).getLong(0)
        }
        if (record) {
          lookupMs += (nowS - tl) * 1000
          if (ctx.tracer.enabled) { opened += ZipDataSource.openedArchives.get() - before; lookupsDone += 1 }
        }
        out.op(got == perNs(ns), s"lookup $ns read $got of ${perNs(ns)} entries")
      }
    }
    pass(record = false) // warm-up
    val setupS = nowS - t0 - genTotal + genS
    out.phases("generate_s") = genTotal
    val (plain, traced) = measure(ctx, out, 2)(_ => pass(record = true))
    out.e2e("throughput_per_s") = n / median(passWalls.toSeq)
    out.e2e("latency_ms.p50") = median(lookupMs.toSeq)
    // output check, untimed
    val tc = nowS
    val errs = Checks.exportReadback(objs, spark.read.format("graft-zip").load(outDir)
      .select("path", "data").toLocalIterator().asScala.map(r => (r.getString(0), r.getString(1))))
    out.check(errs, "export readback")
    out.phases("check_s") = nowS - tc
    if (ctx.trace) {
      ctx.tracer.drain()
      overhead(out, plain, traced)
      val t = ctx.tracer
      val exportSpans = t.spans.filter(s => s.name == "ExportJob.runPartitionedZip" &&
        t.jobsPerSpan(s.id) > 0)
      val passes = math.max(1, exportSpans.size)
      val es = t.stagesIn(exportSpans.map(_.id).toSet)
      out.layers("sources.discover_ms") = median(exportSpans.map { s =>
        val first = t.jobStartMs.get(s.id).map(_.min).getOrElse(s.endMs)
        val plan = t.plans.filter(p => p._1 >= s.startMs && p._1 <= first).map(_._2).sum
        math.max(0.0, (first - s.startMs) - plan)
      }.toSeq)
      out.layers("export.render_busy_ms") = StageAgg.sum(es.filter(_.isMap))(_.busyMs).toDouble / passes
      out.layers("export.render_cpu_ms") = StageAgg.sum(es.filter(_.isMap))(_.cpuNs) / 1e6 / passes
      out.layers("sinks.zip_write_ms") = StageAgg.sum(es.filterNot(_.isMap))(_.busyMs).toDouble / passes
      val archives = new File(outDir).listFiles().filter(_.getName.endsWith(".zip"))
      out.layers("sinks.archives") = archives.length
      out.layers("sinks.zip_bytes_per_object") = archives.map(_.length()).sum.toDouble / n
      val readSpans = t.spans.filter(s => s.name.startsWith("graft-zip") && t.jobsPerSpan(s.id) > 0)
      out.layers("sources.zip_read_ms") =
        StageAgg.sum(t.stagesIn(readSpans.map(_.id).toSet))(_.busyMs).toDouble / passes
      out.layers("sources.zip_archives_opened_frac") =
        if (lookupsDone == 0) 0.0 else opened.toDouble / (lookupsDone * archives.length)
      out.layers("sources.readback_entries_per_s") = n / median(scanWalls.toSeq)
    }
    setupS
  }

  // ================================================================ krm_sync

  /** Twelve syncers: push and pull modes, namespace filters, two
    * suspended syncers, one KCC glob rule and one destNamespace mapping.
    * The active push syncers write to two destinations, the remote of an
    * Active-Passive pair and the local cluster. The stream is the push
    * watcher, so the pull syncers never match. */
  val syncers: Seq[SyncerConfig] = {
    def rr(g: String, v: String, k: String, ns: Seq[String] = Nil,
        f: Seq[String] = Seq("spec", "status"), dest: String = null) = ResourceRule(g, v, k, ns, f, dest)
    def remote(name: String, rule: ResourceRule, suspend: Boolean = false) =
      SyncerConfig(name, "push", suspend, Seq(rule), namespace = "ns-a", remoteSecret = "kc-a")
    Seq(
      remote("s01-configmaps", rr("", "v1", "ConfigMap")),
      remote("s02-deploy-status", rr("apps", "v1", "Deployment", (0 until 10).map(i => s"team-$i"), Seq("status"))),
      remote("s03-statefulsets", rr("apps", "v1", "StatefulSet")),
      remote("s04-kcc-glob", rr("*.cnrm.cloud.google.com", "*", "*")),
      remote("s05-jobs-mirror", rr("batch", "v1", "Job", Seq("team-3"), dest = "mirror-team-3")),
      remote("s06-secrets", rr("", "v1", "Secret", f = Seq("spec"))),
      remote("s07-suspended", rr("", "v1", "Pod"), suspend = true),
      SyncerConfig("s08-services-local", "push", rules = Seq(rr("", "v1", "Service", f = Seq("status")))),
      SyncerConfig("s09-ingress-local", "push", rules = Seq(rr("networking.k8s.io", "v1", "Ingress"))),
      SyncerConfig("s10-suspended-local", "push", suspend = true, rules = Seq(rr("apps", "v1", "Deployment"))),
      SyncerConfig("s11-pull-remote", "pull", rules = Seq(rr("", "v1", "ConfigMap")),
        namespace = "ns-d", remoteSecret = "kc-d"),
      SyncerConfig("s12-pull-local", "pull", rules = Seq(rr("", "v1", "Pod"))))
  }

  private val createdKey = "perfbench/created-ms"

  /** One event as a JSON line in `KrmModel.krmSchema`. */
  private def eventLine(e: KrmObj): String = {
    val m = new java.util.LinkedHashMap[String, Any]()
    m.put("apiGroup", e.group); m.put("apiVersion", e.version); m.put("kind", e.kind)
    m.put("namespace", e.namespace); m.put("name", e.name)
    if (e.labels != null) m.put("labels", e.labels.toMap.asJava)
    if (e.annotations != null) m.put("annotations", e.annotations.toMap.asJava)
    m.put("spec", e.spec); m.put("status", e.status)
    m.put("resourceVersion", e.resourceVersion); m.put("uid", e.uid)
    m.put("generation", e.generation); m.put("op", e.op)
    Checks.json.writeValueAsString(m)
  }

  private def stamp(e: KrmObj, ms: Long): KrmObj =
    e.copy(annotations = Option(e.annotations).getOrElse(Nil) :+ (createdKey -> ms.toString))

  /** Write an epoch file outside the watched dir, then move it in. */
  private def publish(staging: String, watched: String, idx: Int, events: Seq[KrmObj],
      mtime: Long = -1L): Long = {
    val name = f"epoch-$idx%06d.json"
    val tmp = Paths.get(staging, name)
    Files.write(tmp, events.map(eventLine).mkString("", "\n", "\n").getBytes("UTF-8"))
    if (mtime > 0) tmp.toFile.setLastModified(mtime)
    Files.move(tmp, Paths.get(watched, name), StandardCopyOption.ATOMIC_MOVE)
    System.currentTimeMillis()
  }

  /** Records when each destination manifest first becomes visible, and
    * how many buckets it rewrote. */
  private final class ManifestPoller(dirs: Seq[String]) extends Thread("manifest-poller") {
    setDaemon(true)
    @volatile var running = true
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long, Int)]() // dest, id, ms, buckets
    private val known = mutable.HashSet.empty[(String, Long)]
    private val Re = """manifest-(\d{9})""".r
    override def run(): Unit = while (running) {
      dirs.foreach { d =>
        val names = Option(new File(d, "_manifests").list()).getOrElse(Array.empty[String])
        names.foreach {
          case n @ Re(id) if !known((d, id.toLong)) =>
            val ms = System.currentTimeMillis()
            known += ((d, id.toLong))
            val touched = scala.util.Try(Files.readAllLines(Paths.get(d, "_manifests", n)).asScala
              .count(_.contains(f"\tgen-${id.toLong}%09d-"))).getOrElse(0)
            seen.add((d, id.toLong, ms, touched))
          case _ => ()
        }
      }
      Thread.sleep(1)
    }
  }

  private final case class Progress(batchId: Long, startMs: Long, durations: Map[String, Long],
      rows: Long)

  /** The progress of the `n` batches that started at or after `fromMs`;
    * waits for the listener to deliver them. */
  private def awaitProgress(progress: java.util.Collection[Progress], fromMs: Long, n: Int): Seq[Progress] = {
    val deadline = System.currentTimeMillis() + 10000
    def got = progress.asScala.toSeq.filter(_.startMs >= fromMs)
    while (got.size < n && System.currentTimeMillis() < deadline) Thread.sleep(5)
    got
  }

  /** batchId → files it read, from the file source's metadata log. */
  private def batchFiles(ckpt: String): Map[Long, Seq[String]] = {
    val dir = new File(ckpt, "sources/0")
    Option(dir.listFiles()).getOrElse(Array.empty[File]).filterNot(_.getName.startsWith("."))
      .flatMap(f => Files.readAllLines(f.toPath).asScala.drop(1))
      .filter(_.startsWith("{")).map(Checks.json.readTree)
      .map(n => n.get("batchId").asLong() -> new File(new java.net.URI(n.get("path").asText())).getName)
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).toSeq.distinct }
  }

  val krmSync: (Ctx, Outcome) => Double = (ctx, out) => {
    val c = ctx.cfg("krm_sync")
    val sc = SyncConfig(ints(c, "live_objects"), ints(c, "namespaces"), ints(c, "events_per_epoch"),
      ints(c, "warmup_epochs"), ints(c, "backlog_epochs"), ints(c, "rate_epochs_max"),
      dbl(c, "key_zipf_s"), Seq("update", "create", "delete", "recreate").map(k => dbl(c.get("op_mix"), k)),
      dbl(c, "malformed_frac"), ints(c, "payload_min_bytes"), ints(c, "payload_max_bytes"))
    val rate = dbl(c, "rate_events_per_s")
    val spark = ctx.spark
    val t0 = nowS
    var log: IndexedSeq[IndexedSeq[KrmObj]] = null
    val (genS, genTotal) = medianTime(3) { log = Gen.cdcLog(ctx.seed, sc) }
    val watched = ctx.dir("sync-events")
    val staging = ctx.dir("sync-staging")
    val ckpt = ctx.dir("sync-checkpoint")
    val destRoot = ctx.dir("sync-dest")
    def destDir(k: String) = s"$destRoot/${k.replaceAll("[:/]", "_")}"
    val destKeys = SyncStream.destKeys(syncers, WatcherId("push"))
    val applied = mutable.ArrayBuffer.empty[Seq[KrmObj]]
    val publishedMs = mutable.ArrayBuffer.empty[Long]
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[Progress]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.numInputRows > 0) progress.add(Progress(p.batchId,
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap, p.numInputRows))
      }
    }
    spark.streams.addListener(listener)
    val events = spark.readStream.schema(KrmModel.krmSchema)
      .option("maxFilesPerTrigger", "1").json(watched)
    // setup: the live set, then warm-up epochs
    var idx = 0
    (0 to sc.warmupEpochs).foreach { i =>
      val ev = log(i).map(stamp(_, 0L)); publishedMs += publish(staging, watched, idx, ev); applied += ev; idx += 1
    }
    val poller = new ManifestPoller(destKeys.map(destDir))
    poller.start()
    val q = SyncStream.start(spark, events, () => syncers, destDir _, WatcherId("push"), ckpt,
      queryName = "perfbench-krm-sync")
    val streamSpan = ctx.tracer.streamSpan(q.id.toString, "SyncStream.start")
    try {
      q.processAllAvailable()
      val setupS = nowS - t0 - genTotal + genS
      out.phases("generate_s") = genTotal
      // drain: a fixed backlog, one file per trigger, closed loop
      val backlog = (1 to sc.backlogEpochs).map(i => log(sc.warmupEpochs + i).map(stamp(_, 0L)))
      val halves = if (ctx.trace) Seq(backlog.take(backlog.size / 2), backlog.drop(backlog.size / 2))
        else Seq(backlog)
      var tracedFromMs = Long.MaxValue
      val drainRates = halves.zipWithIndex.map { case (part, h) =>
        ctx.tracer.enabled = ctx.trace && h == 1
        if (ctx.tracer.enabled) tracedFromMs = System.currentTimeMillis()
        val base = System.currentTimeMillis()
        part.zipWithIndex.foreach { case (ev, j) =>
          publishedMs += publish(staging, watched, idx, ev, base + j); applied += ev; idx += 1
        }
        q.processAllAvailable()
        // events per second of each drained batch, from its trigger time
        val batches = awaitProgress(progress, base, part.size)
        out.op(batches.size == part.size, s"${batches.size} of ${part.size} drained batches reported progress")
        median(batches.map(p => p.rows * 1000.0 / math.max(1L, p.durations.getOrElse("triggerExecution", 0L))))
      }
      out.e2e("throughput_per_s") = drainRates.last
      if (ctx.trace) out.layers("trace.overhead_frac") = drainRates.head / drainRates.last - 1.0
      // fixed rate: open loop at the offered rate, creation time stamped
      ctx.tracer.enabled = ctx.trace
      val interval = sc.eventsPerEpoch / rate
      val rateSecs = ctx.seconds
      val firstRate = idx
      val late = mutable.ArrayBuffer.empty[Double]
      val startMs = System.currentTimeMillis() + 20
      var k = 0
      while (k < sc.rateEpochs && k * interval < rateSecs) {
        val due = startMs + (k * interval * 1000).toLong
        val wait = due - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait)
        late += math.max(0L, System.currentTimeMillis() - due).toDouble
        val ev = log(sc.warmupEpochs + sc.backlogEpochs + 1 + k).map(stamp(_, due))
        publishedMs += publish(staging, watched, idx, ev); applied += ev; idx += 1; k += 1
      }
      q.processAllAvailable()
      ctx.tracer.enabled = false
      ctx.tracer.endStreamSpan(streamSpan)
      poller.running = false
      poller.join()
      // event latency: creation stamp → the last manifest commit of its batch
      val progs = progress.asScala.toSeq.sortBy(_.startMs)
      val manifests = poller.seen.asScala.toSeq
      val commitOf: Map[Long, Long] = progs.map { p =>
        val end = p.startMs + p.durations.getOrElse("triggerExecution", 0L)
        val next = progs.find(_.startMs > p.startMs).map(_.startMs).getOrElse(Long.MaxValue)
        val mine = manifests.filter(m => m._3 >= p.startMs && m._3 < next).map(_._3)
        p.batchId -> (if (mine.isEmpty) end else mine.max)
      }.toMap
      val files = batchFiles(ckpt)
      val fileBatch = files.toSeq.flatMap { case (b, fs) => fs.map(_ -> b) }.toMap
      val lat = (firstRate until idx).flatMap { i =>
        val name = f"epoch-$i%06d.json"
        fileBatch.get(name).flatMap(commitOf.get) match {
          case Some(commit) =>
            applied(i).map(e => (commit - e.annotations.toMap.get(createdKey).map(_.toLong)
              .getOrElse(commit)).toDouble)
          case None => out.op(ok = false, s"$name has no committed batch"); Nil
        }
      }
      out.e2e("latency_ms.p50") = median(lat)
      applied.indices.foreach(i => out.op(fileBatch.contains(f"epoch-$i%06d.json"), s"epoch $i not processed"))
      q.stop()
      val tc = nowS
      // output check: last state per key, and the D14 error rows of the
      // applied log, counted untimed through the program's own plan
      val errorRows = SyncStream.planWithErrors(spark.read.schema(KrmModel.krmSchema).json(watched),
        SyncOps.rulesDF(spark, syncers), WatcherId("push"))._2.count()
      val (want, wantErrors, matched) = Checks.syncModel(syncers, "push", applied.iterator)
      val got = destKeys.map { dk =>
        dk -> ParquetDest.read(spark, destDir(dk)).collect().map { r =>
          val key: Checks.Key = (r.getAs[String]("apiGroup"), r.getAs[String]("kind"),
            r.getAs[String]("namespace"), r.getAs[String]("name"))
          key -> Checks.DestRow(r.getAs[String]("apiVersion"),
            Option(r.getAs[scala.collection.Map[String, String]]("labels")).map(_.toMap).orNull,
            Option(r.getAs[scala.collection.Map[String, String]]("annotations")).map(_.toMap).orNull,
            r.getAs[String]("spec"), r.getAs[String]("status"))
        }.toMap
      }.toMap
      out.check(Checks.syncCompare(want, got)._1, "sync last state")
      out.check(if (errorRows == wantErrors) Nil
        else Seq(s"$errorRows error rows, planted $wantErrors"), "sync error rows")
      out.phases("check_s") = nowS - tc
      if (ctx.trace) {
        ctx.tracer.drain()
        val t = ctx.tracer
        val tracedBatches = progs.filter(_.startMs >= tracedFromMs)
        out.tracedOps = tracedBatches.size
        def p50(k: String) = median(tracedBatches.map(_.durations.getOrElse(k, 0L).toDouble))
        out.layers("streaming.trigger_ms.p50") = p50("triggerExecution")
        out.layers("streaming.add_batch_ms.p50") = p50("addBatch")
        out.layers("streaming.query_planning_ms.p50") = p50("queryPlanning")
        out.layers("streaming.wal_commit_ms.p50") = p50("walCommit")
        out.layers("streaming.jobs_per_epoch") = t.jobsPerSpan(streamSpan.id).toDouble /
          math.max(1, tracedBatches.size)
        // epoch files already published but not yet read when a batch starts
        val batchOf = applied.indices.flatMap(i => fileBatch.get(f"epoch-$i%06d.json").map(i -> _)).toMap
        out.layers("streaming.backlog_files.max") = (tracedBatches.map { p =>
          batchOf.count { case (i, b) => b > p.batchId && publishedMs(i) <= p.startMs }.toDouble
        } :+ 0.0).max
        out.layers("trace.self_ms.streaming") =
          tracedBatches.map(_.durations.getOrElse("triggerExecution", 0L)).sum.toDouble / math.max(1, tracedBatches.size)
        val nBuckets = 16.0
        out.layers("streaming.dest_buckets_touched_frac") =
          median(manifests.filter(_._3 >= tracedFromMs).map(_._4 / nBuckets))
        val stSt = t.stagesIn(Set(streamSpan.id))
        val tracedEvents = halves.last.map(_.size).sum + (firstRate until idx).map(applied(_).size).sum
        out.layers("streaming.dest_rows_rewritten_per_event") =
          StageAgg.sum(stSt)(_.recordsWritten).toDouble / tracedEvents
        out.layers("streaming.dest_bytes_written_per_event") =
          StageAgg.sum(stSt)(_.bytesWritten).toDouble / tracedEvents
        out.layers("streaming.generator_late_ms.max") = (late :+ 0.0).max
        out.layers("operators.matched_per_event") = matched.toDouble / applied.map(_.size).sum
        out.layers("operators.error_rows") = errorRows.toDouble
      }
      setupS
    } finally {
      poller.running = false
      if (q.isActive) q.stop()
      spark.streams.removeListener(listener)
    }
  }

  // ================================================================ corpus_curate

  private val docSchema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType), StructField("n_chars", LongType)))

  /** A pass runs `corpusQueries` through `SparkEntry.queries`:
    * `corpus_pipeline_v5` for `corpus_curate`, plus `dedup_minhash_lsh` for
    * the hand-run `corpus_curate_lsh` (its output misses a pair at the
    * threshold on about two seeds in a hundred). */
  def corpusCurate(corpusQueries: Seq[String]): (Ctx, Outcome) => Double = (ctx, out) => {
    val c = ctx.cfg("corpus_curate")
    val cc = CorpusConfig(ints(c, "docs"), ints(c, "vocab"), dbl(c, "vocab_zipf_s"),
      c.get("lang_mix").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toSeq,
      dbl(c, "exact_dup_frac"), dbl(c, "near_dup_frac"), ints(c, "hub_docs"),
      ints(c, "min_tokens"), ints(c, "max_tokens"))
    val spark = ctx.spark
    val dir = ctx.dir("corpus-in")
    val t0 = nowS
    var docs: IndexedSeq[Doc] = null
    val (genS, genTotal) = medianTime(3) { docs = Gen.documents(ctx.seed, cc) }
    spark.createDataFrame(docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava,
      docSchema).coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val queries = graft.SparkEntry.queries
    val outDir = ctx.dir("corpus-out")
    def pass(sink: (String, DataFrame) => Unit): Unit = {
      corpusQueries.foreach { name =>
        ctx.tracer.span(s"SparkEntry.queries($name)", "queries") { sink(name, queries(name)(spark, dir)) }
        out.op(ok = true, "")
      }
      out.blocksLeft = math.max(out.blocksLeft, ctx.tracer.blocksHeld)
    }
    // warm-up: its outputs are what the DuckDB oracle check reads
    pass((name, df) => df.write.mode("overwrite").parquet(s"$outDir/$name"))
    Files.writeString(Paths.get(outDir, "oracle_sql.json"),
      Main.jsonOf(corpusQueries.map(q => q -> graft.SparkEntry.oracleSql(q)).toMap))
    Files.writeString(Paths.get(outDir, "tables.json"),
      Main.jsonOf(Map("documents" -> s"$dir/documents.parquet/*.parquet")))
    val setupS = nowS - t0 - genTotal + genS
    out.phases("generate_s") = genTotal
    ctx.tracer.resetStoragePeak()
    val (plain, traced) = measure(ctx, out, 3)(_ =>
      pass((_, df) => df.write.format("noop").mode("overwrite").save()))
    val walls = plain ++ traced
    out.e2e("throughput_per_s") = docs.size / median(walls)
    out.e2e("latency_ms.p50") = median(walls.map(_ * 1000))
    if (ctx.trace) {
      overhead(out, plain, traced)
      ctx.tracer.drain()
      val t = ctx.tracer
      val qSpans = t.spans.filter(s => s.name.startsWith("SparkEntry.queries") && t.jobsPerSpan(s.id) > 0)
      val passes = math.max(1.0, qSpans.size / corpusQueries.size.toDouble)
      val st = t.stagesIn(qSpans.map(_.id).toSet)
      def busy(module: String) = StageAgg.sum(st.filter(_.module == module))(_.busyMs) / passes
      out.layers("ops.dedup.busy_ms") = busy("Dedup")
      out.layers("ops.dsir.busy_ms") = busy("Dsir")
      out.layers("ops.lm.busy_ms") = busy("LanguageModel")
      out.layers("ops.sampling.busy_ms") = busy("Sampling")
      out.layers("queries.other_busy_ms") = StageAgg.sum(st.filterNot(s =>
        Set("Dedup", "Dsir", "LanguageModel", "Sampling")(s.module)))(_.busyMs) / passes
      val dd = st.filter(_.module == "Dedup")
      out.layers("ops.dedup.shuffle_bytes") = StageAgg.sum(dd)(_.shuffleWrite) / passes
      out.layers("ops.dedup.max_task_records") = (dd.map(_.maxTaskRecords.toDouble) :+ 0.0).max
      out.layers("ops.dedup.task_skew") = StageAgg.skew(dd)
      out.layers("ops.checkpoints") = t.rddPeak.size / passes
      out.layers("ops.checkpoint_mb") = t.rddPeak.values.sum / 1e6 / passes
    }
    setupS
  }
}
