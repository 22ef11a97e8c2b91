package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming SemDeDup gate ([[SemanticGate]]): in-batch collapse,
  * cross-epoch rejection against acceptances, replay idempotence,
  * and the end-to-end foreachBatch wiring. */
class SemanticGateSpec extends SparkSpec {
  import spark.implicits._

  private val centroids = Array(Array(1.0, 0.0, 0.0), Array(0.0, 1.0, 0.0))
  private val tau = 0.999

  private def vecsDf(rows: (Long, Seq[Float])*) = rows.toDF("id", "vec")

  test("gate semantics across epochs: in-batch collapse, corpus rejection, replay") {
    val dir = graft.Staging.dirFor("semantic-gate")
    // epoch 0: twins 1/2 (cell 0) + distinct 3 (cell 1) → 2 accepted
    val b0 = vecsDf(
      1L -> Seq(1.0f, 0.01f, 0.0f),
      2L -> Seq(1.0f, 0.011f, 0.0f),
      3L -> Seq(0.01f, 1.0f, 0.0f))
    assert(SemanticGate.gateBatch(b0, 0L, dir, "id", "vec", centroids, tau) == 2)

    // epoch 1: twin of accepted id 1 → rejected; genuinely new cell-0
    // direction far from 1 → accepted
    val b1 = vecsDf(
      10L -> Seq(1.0f, 0.012f, 0.0f),
      11L -> Seq(0.7f, 0.3f, 0.0f))
    assert(SemanticGate.gateBatch(b1, 1L, dir, "id", "vec", centroids, tau) == 1)
    val accepted = spark.read.parquet(dir).select("id").as[Long].collect().sorted
    assert(accepted.toSeq == Seq(1L, 3L, 11L))

    // replay of epoch 1 (same data, same id): must NOT self-reject
    // against its own committed output — accepted set unchanged
    assert(SemanticGate.gateBatch(b1, 1L, dir, "id", "vec", centroids, tau) == 1)
    val replayed = spark.read.parquet(dir).select("id").as[Long].collect().sorted
    assert(replayed.toSeq == Seq(1L, 3L, 11L))
  }

  test("a null embedding cannot kill the epoch: doc passes unexamined, twins still reject") {
    val dir = graft.Staging.dirFor("semantic-gate-null")
    assert(SemanticGate.gateBatch(
      vecsDf(1L -> Seq(1.0f, 0.01f, 0.0f)), 0L, dir, "id", "vec",
      centroids, tau) == 1)
    // epoch 1 carries a null vector next to a twin of accepted id 1:
    // the twin rejects, the null-vec doc is accepted (documented policy),
    // and the driver-side probed-cell collect must not NPE
    val b1 = Seq(
      (10L, Option(Seq(1.0f, 0.012f, 0.0f))),
      (11L, Option.empty[Seq[Float]])).toDF("id", "vec")
    assert(SemanticGate.gateBatch(b1, 1L, dir, "id", "vec", centroids, tau) == 1)
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 11L))
  }

  test("right-to-be-forgotten composes: retraction scrubs the semantic sink") {
    val dir = graft.Staging.dirFor("semantic-gate-retract")
    SemanticGate.gateBatch(
      vecsDf(1L -> Seq(1.0f, 0.01f, 0.0f), 3L -> Seq(0.01f, 1.0f, 0.0f)),
      0L, dir, "id", "vec", centroids, tau)
    SemanticGate.gateBatch(
      vecsDf(11L -> Seq(0.7f, 0.3f, 0.0f)), 1L, dir, "id", "vec", centroids, tau)
    graft.ops.Retraction.retract(spark, dir, "id", Seq(1L),
      nestedPartCols = Seq("cell"))
    assert(spark.read.parquet(dir).select("id").as[Long].collect().sorted
      .toSeq == Seq(3L, 11L))
    // the forget is EFFECTIVE: a twin of the retracted doc is no
    // longer ghost-rejected by the gate
    assert(SemanticGate.gateBatch(
      vecsDf(20L -> Seq(1.0f, 0.012f, 0.0f)), 2L, dir, "id", "vec",
      centroids, tau) == 1)
  }

  test("an epoch's accepted rows are clustered by cell: one data file per cell directory") {
    val dir = graft.Staging.dirFor("semantic-gate-cluster")
    // three distinct cell-0 directions, one per input partition
    val b0 = spark.sparkContext.parallelize(Seq(
      1L -> Seq(1.0f, 0.1f, 0.0f),
      2L -> Seq(1.0f, -0.1f, 0.0f),
      3L -> Seq(1.0f, 0.0f, 0.3f)), 3).toDF("id", "vec")
    assert(b0.rdd.getNumPartitions == 3)
    assert(SemanticGate.gateBatch(b0, 0L, dir, "id", "vec", centroids, tau) == 3)
    val cells = new java.io.File(graft.EpochStore.path(dir, 0L)).listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cells.map(_.getName).toSeq == Seq("cell=0"))
    val files = cells.flatMap(_.listFiles()).filter(_.getName.endsWith(".parquet"))
    assert(files.length == 1, s"cell=0 holds ${files.length} data files")
  }

  test("foreachBatch wiring: streamed epochs land partitioned by (batch, cell)") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = graft.Staging.dirFor("semantic-gate-stream")
    val ckpt = graft.Staging.dirFor("semantic-gate-ckpt")
    val mem = MemoryStream[(Long, Seq[Float])]
    val q = SemanticGate.start(mem.toDF().toDF("id", "vec"), dir, ckpt,
      "id", "vec", centroids, tau)
    try {
      mem.addData(1L -> Seq(1.0f, 0.01f, 0.0f), 2L -> Seq(0.01f, 1.0f, 0.0f))
      q.processAllAvailable()
      mem.addData(3L -> Seq(1.0f, 0.011f, 0.0f)) // twin of 1 → rejected
      q.processAllAvailable()
      val out = spark.read.parquet(dir)
      assert(out.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      assert(out.columns.contains("cell") && out.columns.contains("batch"))
    } finally q.stop()
  }
}
