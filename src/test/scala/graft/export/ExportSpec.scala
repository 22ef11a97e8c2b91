package graft.export

import graft.{RunMeter, SparkSpec}
import graft.functions.Yaml
import graft.model.KrmModel
import graft.operators.ExportOps
import graft.sinks.ZipSink
import graft.sources.Catalog
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.zip.ZipFile

/** Export pipeline: path derivation pinned by the reference's e2e
  * expectation (`_cluster/core/Namespace/default.yaml`,
  * /root/reference/pkg/export/export_test.go:111-134), zip sink
  * round-trip in both single-archive and sharded modes.
  */
class ExportSpec extends SparkSpec {
  import spark.implicits._

  test("path derivation matches the reference e2e expectation") {
    // a cluster-scoped core-group Namespace object named "default"
    val df = Seq(("", "", "Namespace", "default")).toDF("ns", "grp", "kind", "name")
    val got = df.select(ExportOps.krmPath($"ns", $"grp", $"kind", $"name").as("p"))
      .head().getString(0)
    assert(got == "_cluster/core/Namespace/default.yaml")
  }

  test("verb + subresource filters") {
    val df = Seq(
      ("pods", "get,list,watch"),
      ("pods/status", "get,list"),
      ("events", "get,watch")).toDF("name", "verbs")
    val listed = ExportOps.verbFilter(df, $"verbs", "list")
    assert(listed.collect().map(_.getString(0)).toSet == Set("pods", "pods/status"))
    val main = ExportOps.subresourceFilter(listed, $"name")
    assert(main.collect().map(_.getString(0)).toSeq == Seq("pods"))
  }

  test("yaml rendering of a KRM-ish document") {
    val y = Yaml.fromJson("""{"kind":"Namespace","metadata":{"name":"default","labels":{"a":"b"}},"n":3,"ok":true}""")
    assert(y ==
      """kind: Namespace
        |metadata:
        |  name: default
        |  labels:
        |    a: b
        |n: 3
        |ok: true
        |""".stripMargin)
  }

  test("zip sink single-archive round trip") {
    val dir = java.nio.file.Files.createTempDirectory("ziptest").toFile
    val out = new java.io.File(dir, "out.zip").getAbsolutePath
    val df = Seq(("a/b/one.yaml", "kind: One\n"), ("c/two.yaml", "kind: Two\n"))
      .toDF("path", "data")
    ZipSink.writeSingle(df, out)
    val zf = new ZipFile(out)
    try {
      val names = zf.stream().map(_.getName).toArray.map(_.toString).toSet
      assert(names == Set("a/b/one.yaml", "c/two.yaml"))
      val e = zf.getEntry("a/b/one.yaml")
      val content = new String(zf.getInputStream(e).readAllBytes())
      assert(content == "kind: One\n")
    } finally zf.close()
  }

  test("zip sink sharded mode writes all entries across archives") {
    val dir = java.nio.file.Files.createTempDirectory("zipshard").toFile.getAbsolutePath
    val df = (1 to 100).map(i => (s"ns/$i.yaml", s"id: $i\n")).toDF("path", "data")
      .repartition(4)
    ZipSink.writeSharded(df, dir)
    val zips = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".zip"))
    assert(zips.nonEmpty)
    val names = zips.flatMap { z =>
      val zf = new ZipFile(z)
      try zf.stream().map(_.getName).toArray.map(_.toString) finally zf.close()
    }.toSet
    assert(names.size == 100)
  }

  test("end-to-end export of a KRM table directory") {
    // build a tiny KRM table dir
    val root = java.nio.file.Files.createTempDirectory("exportroot").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("apiGroup", StringType), StructField("namespace", StringType),
      StructField("kind", StringType), StructField("name", StringType)))
    val rows = Seq(
      Row("", "", "Namespace", "default"),
      Row("apps", "prod", "Deployment", "web"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.parquet(s"$root/objects.parquet")
    val out = java.nio.file.Files.createTempDirectory("exportout").toFile
    val zip = new java.io.File(out, "export.zip").getAbsolutePath
    val res = ExportJob.run(spark, root, zip)
    assert(res.errors.isEmpty, res.errors.mkString("; "))
    assert(res.entries == 2)
    val zf = new ZipFile(zip)
    try {
      val names = zf.stream().map(_.getName).toArray.map(_.toString).toSet
      assert(names == Set("_cluster/core/Namespace/default.yaml",
        "prod/apps/Deployment/web.yaml"))
    } finally zf.close()
  }

  test("partitioned-zip export: archives carry the namespace; reader prunes on path prefix") {
    val root = java.nio.file.Files.createTempDirectory("exportpz").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("apiGroup", StringType), StructField("namespace", StringType),
      StructField("kind", StringType), StructField("name", StringType)))
    val rows = Seq(
      Row("", "prod", "Pod", "a"), Row("", "prod", "Pod", "b"),
      Row("", "dev", "Pod", "c"), Row("", "", "Namespace", "prod"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.parquet(s"$root/objects.parquet")
    val out = java.nio.file.Files.createTempDirectory("exportpzout").toFile.getAbsolutePath
    val res = Main.run(spark, Main.Options(root = root, output = out, partitionedZip = true))
    assert(res.entries == 4 && res.errors.isEmpty)
    val zips = new java.io.File(out).listFiles().filter(_.getName.endsWith(".zip"))
    assert(zips.forall(_.getName.startsWith("prefix=")))
    val prodZips = zips.count(_.getName.startsWith("prefix=prod."))
    assert(prodZips >= 1)
    graft.sources.ZipDataSource.openedArchives.set(0L)
    val prod = spark.read.format("graft-zip").load(out)
      .filter($"path".startsWith("prod/")).select("path").as[String].collect()
    assert(prod.toSet == Set("prod/core/Pod/a.yaml", "prod/core/Pod/b.yaml"))
    assert(graft.sources.ZipDataSource.openedArchives.get() == prodZips,
      "only the prod namespace's archives are opened")
  }

  test("partitioned export: layout prunes by namespace/kind") {
    val root = java.nio.file.Files.createTempDirectory("exportpart").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("apiGroup", StringType), StructField("namespace", StringType),
      StructField("kind", StringType), StructField("name", StringType)))
    val rows = Seq(
      Row("", "prod", "Pod", "a"), Row("", "prod", "Pod", "b"),
      Row("", "dev", "Pod", "c"), Row("", "", "Namespace", "prod"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.parquet(s"$root/objects.parquet")
    val out = java.nio.file.Files.createTempDirectory("exportpartout").toFile.getAbsolutePath
    val res = ExportJob.runPartitioned(spark, root, out)
    assert(res.entries == 4 && res.errors.isEmpty)
    // partition directories exist → pruning-friendly layout
    assert(new java.io.File(s"$out/namespace=prod/kind=Pod").exists())
    assert(new java.io.File(s"$out/namespace=_cluster/kind=Namespace").exists())
    // a namespace-filtered read scans only that partition
    val pruned = spark.read.parquet(out).filter($"namespace" === "prod")
    assert(pruned.count() == 2)
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(namespace"), plan)
  }

  test("partitioned export reports a non-KRM table under its name, as the zip modes do") {
    val root = java.nio.file.Files.createTempDirectory("exportnonkrm").toFile.getAbsolutePath
    krmFrame(krmRows("Pod", Seq("dev", "prod"), 2)).write.parquet(s"$root/Pod.parquet")
    Seq((1L, 0.5)).toDF("ts", "value").write.parquet(s"$root/metrics.parquet")
    val out = java.nio.file.Files.createTempDirectory("exportnonkrmout").toFile.getAbsolutePath
    val part = ExportJob.runPartitioned(spark, root, out)
    val zip = ExportJob.run(spark, root, s"$out.zip")
    for (res <- Seq(part, zip)) {
      assert(res.entries == 4)
      assert(res.errors.map(_.takeWhile(_ != ':')) == Seq("metrics"), res.errors.mkString("; "))
    }
  }

  test("B1 CLI: flag contract matches the reference") {
    // missing --output → same message as the reference (export.go:44-47)
    assert(Main.parse(Seq("--root", "/x")) ==
      Left("required flag(s) \"output\" not set"))
    // positional args rejected (main.go:31-33)
    assert(Main.parse(Seq("extra", "--output", "o.zip"))
      .swap.exists(_.startsWith("unexpected arguments")))
    assert(Main.parse(Seq("--frobnicate")).swap.exists(_.startsWith("unknown flag")))
    assert(Main.parse(Seq("--root", "/x", "--output", "o.zip", "--sharded", "--partitioned"))
      .isLeft)
    assert(Main.parse(Seq("--root", "/x", "--output", "o.zip")) ==
      Right(Main.Options(root = "/x", output = "o.zip")))
  }

  test("B1 CLI: end-to-end dispatch through Main.run") {
    val root = java.nio.file.Files.createTempDirectory("cliroot").toFile.getAbsolutePath
    val schema = StructType(Seq(
      StructField("apiGroup", StringType), StructField("namespace", StringType),
      StructField("kind", StringType), StructField("name", StringType)))
    val rows = Seq(Row("", "", "Namespace", "default"), Row("apps", "prod", "Deployment", "web"))
    spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
      .write.parquet(s"$root/objects.parquet")

    val zip = java.nio.file.Files.createTempDirectory("cliout")
      .resolve("export.zip").toString
    val Right(opts) = Main.parse(Seq("--root", root, "--output", zip))
    val res = Main.run(spark, opts)
    assert(res.entries == 2 && res.errors.isEmpty)
    val zf = new ZipFile(zip)
    try assert(zf.size() == 2) finally zf.close()

    val pdir = java.nio.file.Files.createTempDirectory("clipart").toString
    val Right(popts) = Main.parse(Seq("--root", root, "--output", pdir, "--partitioned"))
    assert(Main.run(spark, popts).entries == 2)
    assert(new java.io.File(s"$pdir/namespace=prod").exists())
  }

  test("sink pass count equals entries without re-evaluating the plan") {
    // the UDF must run exactly once per row: a counting UDF would double
    // under the old count()-then-write shape
    val hits = spark.sparkContext.longAccumulator("udf_hits")
    val count = udf((s: String) => { hits.add(1L); s })
    val df = Seq(("p1.yaml", "a"), ("p2.yaml", "b")).toDF("path", "raw")
      .select($"path", count($"raw").as("data"))
    val out = java.nio.file.Files.createTempDirectory("onceout")
      .resolve("once.zip").toString
    val n = ZipSink.writeSingle(df, out)
    assert(n == 2)
    assert(hits.value == 2, s"UDF evaluated ${hits.value} times for 2 rows")
  }

  /** Rows in `KrmModel.krmSchema`: `perNs` objects of one kind in each namespace. */
  private def krmRows(kind: String, namespaces: Seq[String], perNs: Int): Seq[Row] =
    for (ns <- namespaces; i <- 1 to perNs) yield Row("apps", "v1", kind, ns, s"$kind-$i",
      Map("app" -> kind.toLowerCase), null, s"""{"replicas":$i}""", null, s"$i", s"uid-$ns-$i",
      i.toLong, null, "upsert")

  private def krmFrame(rows: Seq[Row]) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), KrmModel.krmSchema)

  /** Every (path, data) entry of the archives under `out`. */
  private def zipEntries(out: String): Set[(String, String)] =
    spark.read.format("graft-zip").load(out).select("path", "data").as[(String, String)]
      .collect().toSet

  test("export tolerates unreadable tables (error accumulation)") {
    val root = java.nio.file.Files.createTempDirectory("exportbad").toFile
    def at(name: String) = new java.io.File(root, name).getAbsolutePath
    // three tables with the same KRM schema
    Seq("Pod", "Service", "ConfigMap").foreach { k =>
      krmFrame(krmRows(k, Seq("dev", "prod"), 3)).write.parquet(at(s"$k.parquet"))
    }
    // one with the KRM columns in another order
    val secrets = krmFrame(krmRows("Secret", Seq("dev"), 2))
    secrets.select(secrets.columns.reverse.toIndexedSeq.map(col): _*).write.parquet(at("Secret.parquet"))
    // one Hive-partitioned table whose prod files carry an extra column:
    // first-file inference and mergeSchema give different schemas
    krmFrame(krmRows("Deployment", Seq("dev"), 2))
      .write.partitionBy("namespace").parquet(at("Deployment.parquet"))
    krmFrame(krmRows("Deployment", Seq("prod"), 2)).withColumn("replicas", lit(3))
      .write.mode("append").partitionBy("namespace").parquet(at("Deployment.parquet"))
    // one empty directory, one corrupt file
    new java.io.File(root, "empty").mkdir()
    java.nio.file.Files.writeString(
      new java.io.File(root, "bad.parquet").toPath, "not parquet")
    val readable = Seq("ConfigMap", "Deployment", "Pod", "Secret", "Service")

    for (merge <- Seq(false, true)) {
      spark.conf.set("spark.sql.parquet.mergeSchema", merge.toString)
      try {
        val (tables, discErrs) = Catalog.discover(spark, root.getAbsolutePath)
        assert(discErrs.isEmpty)
        val scan = Catalog.scanAll(spark, tables)
        // (a) every table's relation has the schema Spark infers for it alone
        val scanned = for (g <- scan.groups; t <- g.tables) yield {
          assert(g.frame.schema == spark.read.parquet(t.path).schema, s"${t.name}, merge=$merge")
          t.name -> g
        }
        assert(scanned.map(_._1).sorted == readable)
        val byName = scanned.toMap
        assert(byName("Pod") eq byName("Service"))
        assert(byName("Pod") eq byName("ConfigMap"))
        assert(scan.groups.size == 3, "same-schema tables share one relation")
        assert(byName("Deployment").frame.columns.contains("replicas") == merge)

        // (b) the export equals each table rendered alone
        val zip = at(s"out-$merge.zip")
        val res = ExportJob.run(spark, root.getAbsolutePath, zip)
        val want = readable.map { t =>
          ExportJob.entriesFor(spark.read.parquet(at(s"$t.parquet")))
            .select(col("path"), graft.functions.functions.to_yaml(col("data")))
            .as[(String, String)].collect().toSet
        }.reduce(_ ++ _)
        assert(zipEntries(zip) == want)
        assert(res.entries == want.size)
        // (c) the errors name exactly the empty and the corrupt table
        assert(res.errors.map(_.takeWhile(_ != ':')).sorted == Seq("bad", "empty"),
          res.errors.mkString("; "))
      } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    }
  }

  test("partitioned-zip export: job count is fixed in the table count; writers stay parallel") {
    /** Jobs of one export of `tables` same-schema tables over `namespaces`
      * namespaces, and the task count of its last (writer) stage. */
    def exportOf(tables: Int, namespaces: Int): (Int, Int) = {
      val root = java.nio.file.Files.createTempDirectory("exportjobs").toFile.getAbsolutePath
      (1 to tables).foreach { t =>
        krmFrame(krmRows(s"Kind$t", (1 to namespaces).map(n => s"ns$n"), 2))
          .write.parquet(s"$root/kind$t.parquet")
      }
      val out = java.nio.file.Files.createTempDirectory("exportjobsout").toString
      val run = RunMeter.measure(spark, "export-jobs")(ExportJob.runPartitionedZip(spark, root, out))
      val res = run.result
      assert(res.errors.isEmpty && res.entries == tables * namespaces * 2)
      assert(run.untagged == 0, s"${run.untagged} export jobs ran untagged")
      (run.jobs, run.tasksPerStage(run.tasksPerStage.keys.max))
    }
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    try {
      val (jobs2, _) = exportOf(2, 4)
      val (jobs8, writers) = exportOf(8, 16)
      assert(jobs2 == jobs8, s"2 tables ran $jobs2 jobs, 8 tables ran $jobs8")
      assert(writers > 1, s"the writer stage ran $writers task(s) for 16 namespaces")
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }
}
