package perfbench

import perfbench.Gen._

import scala.collection.mutable

/** Per-layer metrics common to every workload: the `spark.*` runtime
  * counters of the traced operations, per-layer self time, and how much of
  * the task busy time the spans account for. Counters are per traced
  * operation (pass, epoch or request) so runs of different length compare. */
object Layers {
  def report(ctx: Ctx, out: Outcome): Unit = {
    val t = ctx.tracer
    val ops = math.max(1, out.tracedOps).toDouble
    val st = t.stages.values.toSeq
    def per(f: StageStats => Long): Double = StageAgg.sum(st)(f) / ops
    val busy = StageAgg.sum(st)(_.busyMs)
    out.layers("trace.ops") = out.tracedOps
    out.layers("spark.plan_ms") = t.plans.map(_._2).sum / ops
    out.layers("spark.jobs") = t.jobsPerSpan.values.sum / ops
    out.layers("spark.tasks") = per(_.tasks.toLong)
    out.layers("spark.task_wait_ms") = per(_.waitMs)
    out.layers("spark.task_busy_ms") = busy / ops
    out.layers("spark.task_cpu_ms") = per(_.cpuNs) / 1e6
    out.layers("spark.gc_ms") = per(_.gcMs)
    out.layers("spark.shuffle_write_bytes") = per(_.shuffleWrite)
    out.layers("spark.shuffle_read_bytes") = per(_.shuffleRead)
    out.layers("spark.spill_bytes") = per(_.spill)
    out.layers("spark.task_skew") = StageAgg.skew(st)
    out.layers("spark.storage_peak_mb") = t.peakStored / 1e6
    out.layers("spark.blocks_left") = math.max(out.blocksLeft, t.blocksHeld)
    out.layers("spark.failed_tasks") = StageAgg.sum(st)(_.failed.toLong).toDouble
    out.layers("bench.failed_ops_frac") = out.failed.toDouble / math.max(1L, out.attempted)
    // busy time attributed to a span of a public call, against the total
    val attributed = StageAgg.sum(st.filter(_.span >= 0))(_.busyMs)
    out.layers("trace.attributed_busy_frac") = if (busy == 0) 1.0 else attributed.toDouble / busy
    // per-layer self time: span time minus the time its child spans cover
    val self = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    t.spans.filter(s => s.traced && s.endMs >= 0).foreach(s => self(s.layer) += t.selfMs(s))
    Seq("sources", "export", "streaming", "ops", "queries").foreach { l =>
      out.layers.getOrElseUpdate(s"trace.self_ms.$l", self(l) / ops)
    }
  }
}

/** Determinism of the generators and a planted wrong output per checker.
  * Returns the failures (empty = all pass). */
object SelfTest {
  def run(conf: com.fasterxml.jackson.databind.JsonNode, seed: Long): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    def expect(ok: Boolean, what: String): Unit = if (!ok) fails += what
    val w = conf.get("workloads")
    def i(n: String, k: String) = w.get(n).get(k).asInt()
    def d(n: String, k: String) = w.get(n).get(k).asDouble()

    // small configs of the same shape keep the self-test fast
    val ec = ExportConfig(2000, i("krm_export", "namespaces"), d("krm_export", "cluster_scoped_frac"),
      d("krm_export", "table_zipf_s"), i("krm_export", "payload_min_bytes"), i("krm_export", "payload_max_bytes"))
    val sc = SyncConfig(2000, i("krm_sync", "namespaces"), 200, 2, 3, 3, d("krm_sync", "key_zipf_s"),
      Seq("update", "create", "delete", "recreate").map(k => w.get("krm_sync").get("op_mix").get(k).asDouble()),
      0.01, i("krm_sync", "payload_min_bytes"), i("krm_sync", "payload_max_bytes"))
    import scala.jdk.CollectionConverters._
    val cc = CorpusConfig(1500, i("corpus_curate", "vocab"), d("corpus_curate", "vocab_zipf_s"),
      w.get("corpus_curate").get("lang_mix").properties().asScala.map(e => e.getKey -> e.getValue.asDouble()).toSeq,
      d("corpus_curate", "exact_dup_frac"), d("corpus_curate", "near_dup_frac"), i("corpus_curate", "hub_docs"),
      i("corpus_curate", "min_tokens"), i("corpus_curate", "max_tokens"))
    def digests(s: Long): Seq[String] = Seq(
      Gen.digest(Gen.krmSnapshot(s, ec).iterator.flatMap(_._2).map(_.canonical)),
      Gen.digest(Gen.cdcLog(s, sc).iterator.flatten.map(_.canonical)),
      Gen.digest(Gen.documents(s, cc).iterator.map(_.canonical)))
    val names = Seq("krm_export", "krm_sync", "corpus_curate")
    val (a, b, other) = (digests(seed), digests(seed), digests(seed + 1))
    names.indices.foreach { k =>
      expect(a(k) == b(k), s"${names(k)}: same seed gave different inputs")
      expect(a(k) != other(k), s"${names(k)}: another seed gave the same inputs")
    }

    // krm_export: a correct readback passes; a changed, a missing and a
    // duplicated entry each fail
    val objs = Gen.krmSnapshot(seed, ec).flatMap(_._2).take(300)
    val good = objs.map(o => Checks.exportPath(o) ->
      graft.functions.Yaml.fromJson(Checks.exportDoc(o).toString))
    expect(Checks.exportReadback(objs, good.iterator).isEmpty, "export checker rejects a correct readback")
    val changed = good.updated(7, good(7)._1 -> good(7)._2.replace("Running", "Failed").replace("Pending", "Failed"))
    expect(Checks.exportReadback(objs, changed.iterator).nonEmpty, "export checker accepts a changed entry")
    expect(Checks.exportReadback(objs, good.tail.iterator).nonEmpty, "export checker accepts a missing entry")
    expect(Checks.exportReadback(objs, (good :+ good.head).iterator).nonEmpty,
      "export checker accepts a duplicated entry")

    // krm_sync: the log repeats hot keys within an epoch; the model
    // compared with itself passes; a wrong spec, a dropped key, an earlier
    // event winning over a later one and a resurrected tombstone each fail
    val log = Gen.cdcLog(seed, sc)
    expect(log.tail.exists(ep => ep.map(e => (e.kind, e.namespace, e.name)).distinct.size < ep.size),
      "sync log repeats no key within an epoch")
    val (want, errs, _) = Checks.syncModel(Workloads.syncers, "push", log.iterator)
    expect(errs > 0, "sync log plants no malformed events")
    expect(Checks.syncCompare(want, want)._1.isEmpty, "sync checker rejects the correct state")
    val dk = want.keys.toSeq.sorted.find(k => want(k).size > 2).get
    val (k0, r0) = want(dk).head
    val wrongSpec = want.updated(dk, want(dk).updated(k0, r0.copy(spec = """{"replicas":99}""")))
    expect(Checks.syncCompare(want, wrongSpec)._2 == 1, "sync checker accepts a wrong spec")
    expect(Checks.syncCompare(want, want.updated(dk, want(dk) - k0))._2 == 1, "sync checker accepts a lost key")
    // two updates of one key in one batch: the state is the later one's
    val upd = log(1).find(e => e.op == "upsert" && e.kind == "ConfigMap" &&
      scala.util.Try(Checks.json.readTree(e.spec)).isSuccess).get
    val later = upd.copy(spec = """{"replicas":2}""", status = """{"phase":"Later"}""",
      generation = upd.generation + 1)
    val cmKey: Checks.Key = (upd.group, upd.kind, upd.namespace, upd.name)
    val inOrder = Checks.syncModel(Workloads.syncers, "push", Iterator(Seq(upd, later)))._1
    val reversed = Checks.syncModel(Workloads.syncers, "push", Iterator(Seq(later, upd)))._1
    val cmDest = inOrder.keys.find(inOrder(_).contains(cmKey)).get
    expect(inOrder(cmDest)(cmKey).status == later.status, "sync model does not let the last event win")
    expect(Checks.syncCompare(inOrder, reversed)._2 == 1, "sync checker accepts the earlier event winning")
    val deleted = log.flatten.find(_.op == "delete").get
    val ghost = want.updated(dk, want(dk) + ((deleted.group, deleted.kind, "ghost", deleted.name) -> r0))
    expect(Checks.syncCompare(want, ghost)._2 == 1, "sync checker accepts an extra key")

    fails.toSeq
  }
}
