package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf

/** [[GraftSession]] is the only session builder: no other source file
  * may build its own session (their settings used to drift apart), and
  * the suite's shared session carries the factory's settings. Likewise
  * [[Materialize]] is the only code that checkpoints, caches or
  * releases, [[EpochStore]] the only code that lays out epochs, and
  * [[graft.streaming.GateProtocol.start]] the one way an epoch stream
  * starts, and [[RunMeter]] the only code that listens to or drains the
  * listener bus. [[graft.queries.AnnHarness]] alone decides which
  * vectors are the standing ANN queries, [[graft.ops.SetSimilarity]]
  * alone builds, cuts and scores shingle sets, [[graft.ops.CellIndex]]
  * alone writes and probes the cell-partitioned ANN layout,
  * [[graft.ops.Lloyd]] alone seeds and averages a k-means quantizer,
  * and [[graft.ops.Rank]] alone ranks a whole relation.
  * [[GraftSession]] alone names the local file-system classes. */
class GraftSessionSpec extends SparkSpec {

  private val Main = "src/main/scala"
  private val Both = Seq(Main, "src/test/scala")

  /** The .scala files under `roots`. */
  private def files(roots: String*): Seq[java.nio.file.Path] =
    roots.flatMap { root =>
      val s = Files.walk(Paths.get(root))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }

  /** Names of the .scala files under `roots` that contain any of
    * `needles`, sorted. */
  private def sites(roots: String*)(needles: String*): Seq[String] =
    files(roots: _*).filter(f => needles.exists(Files.readString(f).contains))
      .map(_.getFileName.toString).sorted

  test("only GraftSession.scala builds a SparkSession") {
    assert(sites(Both: _*)("SparkSession" + ".builder") == Seq("GraftSession.scala"))
  }

  test("only Materialize.scala checkpoints, persists or unpersists") {
    val calls = Seq("localCheckpoint", "persist", "unpersist").map("." + _ + "(")
    assert(sites(Main)(calls: _*) == Seq("Materialize.scala"))
  }

  test("only EpochStore.scala names an epoch partition or excludes an epoch") {
    val outside = sites(Main)("batch=" + "$", "col(\"batch\") " + "=!=", "readIf" + "Any")
      .filterNot(_ == "EpochStore.scala")
    assert(outside.isEmpty, s"epoch layout outside EpochStore: $outside")
  }

  test("every stream under graft/streaming but SyncStream starts through GateProtocol.start") {
    assert(sites("src/main/scala/graft/streaming")("." + "writeStream") ==
      Seq("GateProtocol.scala", "SyncStream.scala"))
  }

  test("only RunMeter.scala and the bridge listen or drain the bus; the meters it replaced are gone") {
    assert(sites(Both: _*)("addSparkListener" + "(", "waitUntil" + "Empty") ==
      Seq("RunMeter.scala", "bridge.scala"))
    assert(sites(Both: _*)("ByteMetrics" + "Listener", "Site" + "Listener", "grouped" + "Obj",
      "lean" + "Fit", "ListenerBus" + "Access").isEmpty)
  }

  test("only AnnHarness.scala splits the standing queries from the corpus or allocates the OPQ basis") {
    val split = Seq("col(\"vec_id\") < 5", "col(\"vec_id\") >= 5", "vec_id < 5", "vec_id >= 5")
    assert(sites(Main)(split :+ ("Opq.allocate" + "("): _*) == Seq("AnnHarness.scala"))
  }

  test("only SetSimilarity.scala builds, cuts or intersects shingle sets; the exploded and unused verifiers are gone") {
    val setOps = Seq("array_intersect" + "(", "collect_list(col(\"shingle\")" + ")",
      "ceil(col(\"sz\")")
    assert(sites(Main)(setOps: _*) == Seq("SetSimilarity.scala"))
    assert(sites(Both: _*)("verify" + "Pairs", "jaccardFor" + "Shingles", "jaccardFor" + "Pairs").isEmpty)
  }

  test("only CellIndex.scala writes or probes the cell layout; the rotated residual twins and the flat append are gone") {
    val layout = Seq("isin(" + "probed", "partitionBy(\"cell\"" + ")", "repartition(col(\"cell\")" + ")")
    assert(sites(Main)(layout: _*) == Seq("CellIndex.scala"))
    val gone = Seq("trainCodebooks", "encoded", "writeIndex", "topK", "appendIndexEpoch")
      .map(_ + "Rotated") :+ ("IvfPq.appendIndex" + "(")
    assert(sites(Both: _*)(gone: _*).isEmpty)
  }

  test("only Lloyd.scala seeds or averages a quantizer; the relational trainer twins are gone") {
    assert(sites(Main)("seedHash" + "(", "Mean" + "Scale") == Seq("Lloyd.scala"))
    val gone = Seq("QuantizerRelation.train" + "(", "PqRelation.train" + "(", "lloydL2" + "(",
      "collect" + "Centroids", "collect" + "Codebooks", "normalize" + "Rows", "Opq." + "augment")
    assert(sites(Both: _*)(gone: _*).isEmpty)
  }

  test("only Rank.scala ranks a whole relation; the md5 rank copy and the constant-key salted heads are gone") {
    assert(sites(Main)("Window.orderBy" + "(") == Seq("Rank.scala"))
    assert(sites(Both: _*)("rankBy" + "Hash").isEmpty)
    // a salted top-k keyed on a literal qid is a global head in disguise
    val constKey = Seq("lit(0).as(\"qid\")", "withColumn(\"qid\", lit(0))")
    val salted = files(Main).flatMap { f =>
      val lines = Files.readAllLines(f).asScala.toIndexedSeq
      lines.indices.filter(i => lines(i).contains("saltedTopK" + "(") &&
          lines.slice(i - 8, i + 1).exists(l => constKey.exists(l.contains)))
        .map(i => s"${f.getFileName}:${i + 1}")
    }
    assert(salted.isEmpty, s"salted top-k over a constant key: $salted")
  }

  test("a launch conf's master and shuffle width are kept; unset, the local sizing applies") {
    val launched = new SparkConf(false)
      .set("spark.master", "k8s://https://kubernetes.default.svc")
      .set("spark.sql.shuffle.partitions", "96")
    assert(GraftSession.sizing(launched, 8).isEmpty)
    assert(GraftSession.sizing(new SparkConf(false), 8) == Seq(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8"))
  }

  test("a launch conf's own local file-system class is kept; unset, the in-process one applies") {
    val fileKey = "spark.hadoop.fs.file" + ".impl"
    val contextKey = "spark.hadoop.fs.AbstractFileSystem.file" + ".impl"
    val launched = new SparkConf(false).set(fileKey, "org.example.LocalFs")
    assert(GraftSession.localFs(launched) == Seq(contextKey -> classOf[graft.sources.GraftLocalFs].getName))
    val defaults = GraftSession.localFs(new SparkConf(false))
    assert(defaults == Seq(fileKey -> classOf[graft.sources.GraftLocalFileSystem].getName,
      contextKey -> classOf[graft.sources.GraftLocalFs].getName))
    defaults.foreach { case (k, v) => assert(spark.sparkContext.getConf.get(k) == v) }
  }

  test("only GraftSession.scala names the local file-system keys") {
    assert(sites(Both: _*)("fs.file" + ".impl", "AbstractFileSystem.file" + ".impl") ==
      Seq("GraftSession.scala"))
  }

  test("the shared test session carries the factory settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    val cores = spark.sparkContext.defaultParallelism
    assert(spark.sparkContext.master == s"local[$cores]")
    assert(conf.get("spark.sql.shuffle.partitions") == cores.toString)
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }
}
