package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkConf

/** [[GraftSession]] is the only session builder: no other source file
  * may build its own session (their settings used to drift apart), and
  * the suite's shared session carries the factory's settings. Likewise
  * [[Materialize]] is the only code that checkpoints, caches or
  * releases, [[EpochStore]] the only code that lays out epochs, and
  * [[graft.streaming.GateProtocol.start]] the one way an epoch stream
  * starts. */
class GraftSessionSpec extends SparkSpec {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  test("only GraftSession.scala builds a SparkSession") {
    val builder = "SparkSession" + ".builder"
    val files = scalaFiles("src/main/scala") ++ scalaFiles("src/test/scala")
    val builders = files.filter(f => Files.readString(f).contains(builder))
      .map(_.getFileName.toString)
    assert(builders == Seq("GraftSession.scala"))
  }

  test("only Materialize.scala checkpoints, persists or unpersists") {
    val calls = Seq("localCheckpoint", "persist", "unpersist").map("." + _ + "(")
    val sites = scalaFiles("src/main/scala")
      .filter(f => calls.exists(Files.readString(f).contains))
      .map(_.getFileName.toString)
    assert(sites == Seq("Materialize.scala"))
  }

  test("only EpochStore.scala names an epoch partition or excludes an epoch") {
    val layout = Seq("batch=" + "$", "col(\"batch\") " + "=!=", "readIf" + "Any")
    val sites = scalaFiles("src/main/scala")
      .filter(f => layout.exists(Files.readString(f).contains))
      .map(_.getFileName.toString).filterNot(_ == "EpochStore.scala")
    assert(sites.isEmpty, s"epoch layout outside EpochStore: $sites")
  }

  test("every stream under graft/streaming but SyncStream starts through GateProtocol.start") {
    val starts = scalaFiles("src/main/scala/graft/streaming")
      .filter(f => Files.readString(f).contains("." + "writeStream"))
      .map(_.getFileName.toString).sorted
    assert(starts == Seq("GateProtocol.scala", "SyncStream.scala"))
  }

  test("a launch conf's master and shuffle width are kept; unset, the local sizing applies") {
    val launched = new SparkConf(false)
      .set("spark.master", "k8s://https://kubernetes.default.svc")
      .set("spark.sql.shuffle.partitions", "96")
    assert(GraftSession.sizing(launched, 8).isEmpty)
    assert(GraftSession.sizing(new SparkConf(false), 8) == Seq(
      "spark.master" -> "local[8]", "spark.sql.shuffle.partitions" -> "8"))
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
