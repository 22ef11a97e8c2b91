package perfbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What one workload run measured. `e2e` and `layers` map metric names to
  * values; `checks` counts output checks, `failed` the operations (passes,
  * epochs, requests, checks) that failed. */
final class Outcome {
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val phases = mutable.LinkedHashMap.empty[String, Double] // wall seconds, for budgeting runs
  var tracedOps = 0
  var blocksLeft = 0
  var attempted = 0L
  var failed = 0L
  val problems = mutable.ArrayBuffer.empty[String]
  def op(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) { failed += 1; problems += what }
  }
  def check(errs: Seq[String], what: String): Unit = {
    attempted += 1
    if (errs.nonEmpty) { failed += 1; problems ++= errs.take(5).map(e => s"$what: $e") }
  }
}

/** Shared run context: session, work dir, tracer, config, timing helpers. */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long, val seconds: Double,
    val trace: Boolean, val conf: JsonNode, val tracer: Tracer) {
  def dir(name: String): String = {
    val d = work.resolve(name)
    Main.deleteRecursively(d)
    Files.createDirectories(d)
    d.toFile.getAbsolutePath
  }
  def cfg(workload: String): JsonNode = conf.get("workloads").get(workload)
}

object Main {
  def deleteRecursively(p: Path): Unit = if (Files.exists(p)) {
    import scala.jdk.CollectionConverters._
    Files.walk(p).iterator().asScala.toSeq.reverseIterator.foreach(f => Files.deleteIfExists(f))
  }

  def nowS: Double = System.nanoTime() / 1e9

  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Time `body` `reps` times; returns (median, total) seconds. */
  def medianTime(reps: Int)(body: => Unit): (Double, Double) = {
    val ts = (1 to reps).map { _ => val t = nowS; body; nowS - t }
    (median(ts), ts.sum)
  }

  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.stopTimeout", "60s")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def jsonOf(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => jsonOf(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => Checks.json.writeValueAsString(s)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => jsonOf(k.toString) + ":" + jsonOf(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(jsonOf).mkString("[", ",", "]")
    case other => jsonOf(other.toString)
  }

  def main(args: Array[String]): Unit = {
    val opts = args.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Checks.json.readTree(new File(opts("config")))
    val seed = opts("seed").toLong
    val work = new File(opts("work")).toPath
    Files.createDirectories(work)
    if (opts.getOrElse("workload", "") == "selftest") {
      val fails = SelfTest.run(conf, seed)
      println(jsonOf(Map("selftest" -> (if (fails.isEmpty) "pass" else "fail"), "failures" -> fails)))
      sys.exit(if (fails.isEmpty) 0 else 1)
    }
    val workload = opts("workload")
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = session(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, work, seed, opts("seconds").toDouble, opts("trace") == "1", conf, tracer)
    val out = new Outcome
    val run: (Ctx, Outcome) => Double = workload match {
      case "krm_export" => Workloads.krmExport
      case "krm_sync" => Workloads.krmSync
      case "corpus_curate" => Workloads.corpusCurate(Seq("corpus_pipeline_v5"))
      case "corpus_curate_lsh" => Workloads.corpusCurate(Seq("corpus_pipeline_v5", "dedup_minhash_lsh"))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val tw = nowS
    val setupS = try run(ctx, out) catch {
      case e: Throwable =>
        out.op(ok = false, s"workload aborted: $e")
        e.printStackTrace()
        0.0
    }
    out.e2e("setup_s") = sessionS + setupS
    out.phases("session_s") = sessionS
    out.phases("setup_s") = setupS
    out.phases("workload_s") = nowS - tw
    tracer.drain()
    if (ctx.trace) Layers.report(ctx, out)
    val spans = tracer.spans.map(s => Map("id" -> s.id, "name" -> s.name, "layer" -> s.layer,
      "parent" -> s.parent, "start_ms" -> s.startMs, "end_ms" -> s.endMs, "self_ms" -> tracer.selfMs(s)))
    Files.writeString(work.resolve("spans.json"), jsonOf(spans))
    println(jsonOf(Map("workload" -> workload, "attempted" -> out.attempted, "failed" -> out.failed,
      "problems" -> out.problems.take(20), "phases" -> out.phases, "e2e" -> out.e2e,
      "layers" -> out.layers)))
    spark.stop()
  }
}
