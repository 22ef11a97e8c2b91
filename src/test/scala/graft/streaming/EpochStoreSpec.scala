package graft.streaming

import graft.{EpochStore, RunMeter, SparkSpec, Staging, Tables}
import graft.ops.{Bpe, Dsir}
import org.apache.spark.{SparkException, StorageAccess}
import org.apache.spark.sql.functions._

/** [[EpochStore]] and the streams built on it: an epoch's count is an
  * observed metric of its own write (no count() job, no cache), an
  * empty or fully rejected epoch still commits its partition, and the
  * store's read and prior-epoch rules hold. */
class EpochStoreSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)
  private lazy val frozen = Dsir.freeze(
    Dsir.train(docs, "doc_id", "text", col("lang") === "en", buckets = 512))
  private lazy val ppl = PplGate.freeze(
    docs.filter(col("lang") === "en"), docs, "doc_id", "text", bands = 3)
  private lazy val merges = Bpe.train(docs, "text", nMerges = 10).merges

  private val page = "the quick brown fox jumps over the lazy dog near " +
    "the river bank while herons watch from the shallows at dusk"
  private val fresh = "volcanic soil produces exceptionally robust " +
    "coffee beans across the equatorial highlands of three continents"

  /** What `run` returns, the Spark jobs it started, and the RDD blocks
    * it stored; every job it started carries its tag. */
  private def traced[R](run: => R): (R, Int, Int) = {
    val r = RunMeter.measure(spark, "epoch-store-spec")(run)
    assert(r.untagged == 0, s"${r.untagged} jobs ran untagged")
    (r.result, r.jobs, r.blocksStored)
  }

  private def rows(dir: String, epoch: Long): Long =
    spark.read.parquet(EpochStore.path(dir, epoch)).count()

  test("a DsirGate and a SimhashGate epoch run one job fewer than count-then-write") {
    frozen
    val dsirDir = Staging.dirFor("epoch-jobs-dsir")
    val (nDsir, dsirJobs, _) = traced(DsirGate.gateBatch(
      docs.filter(col("doc_id") < 100), 0L, dsirDir, "doc_id", "text", frozen, 0.0))
    assert(nDsir == rows(dsirDir, 0))
    val idx = Staging.dirFor("epoch-jobs-sh-idx")
    val acc = Staging.dirFor("epoch-jobs-sh-acc")
    SimhashGate.gateBatch(Seq((1L, page)).toDF("doc_id", "text"), 0L, idx, acc,
      "doc_id", "text")
    val (nSh, shJobs, _) = traced(SimhashGate.gateBatch(
      Seq((10L, page), (11L, fresh)).toDF("doc_id", "text"), 1L, idx, acc,
      "doc_id", "text"))
    assert(nSh == 1L && rows(acc, 1) == 1L)
    info(s"DsirGate epoch: $dsirJobs jobs; SimhashGate epoch: $shJobs jobs")
    assert(dsirJobs <= EpochStoreSpec.DsirCountThenWriteJobs - 1)
    assert(shJobs <= EpochStoreSpec.SimhashProbeOnceJobs)
  }

  test("a DsirGate, PplGate or TokenBudgetStream epoch caches nothing") {
    frozen; ppl; merges
    val batch = docs.filter(col("doc_id") < 100)
    val before = StorageAccess.rddsWithBlocks()
    val epochs = Seq[(String, String => Long)](
      "DsirGate" -> (DsirGate.gateBatch(batch, 0L, _, "doc_id", "text", frozen, 0.0)),
      "PplGate" -> (PplGate.gateBatch(batch, 0L, _, "doc_id", "text", ppl, 1)),
      "TokenBudgetStream" -> (TokenBudgetStream.statsBatch(batch, 0L, _, "doc_id",
        "text", merges)))
    epochs.foreach { case (name, epoch) =>
      val dir = Staging.dirFor(s"epoch-nocache-$name")
      val (n, _, stored) = traced(epoch(dir))
      assert(n == rows(dir, 0), name)
      assert(stored == 0, s"$name stored $stored RDD blocks")
      assert((StorageAccess.rddsWithBlocks() -- before).isEmpty, name)
    }
  }

  test("a fully rejected epoch returns 0 and still commits its partition") {
    frozen; ppl
    val some = docs.filter(col("doc_id") < 20)
    def d(s: String) = Staging.dirFor(s"epoch-rejected-$s")
    val (dsir, pplD, shIdx, shAcc) = (d("dsir"), d("ppl"), d("sh-idx"), d("sh-acc"))
    assert(DsirGate.gateBatch(some, 0L, dsir, "doc_id", "text", frozen,
      Double.PositiveInfinity) == 0L)
    assert(PplGate.gateBatch(some, 0L, pplD, "doc_id", "text", ppl, -1) == 0L)
    SimhashGate.gateBatch(Seq((1L, page)).toDF("doc_id", "text"), 0L, shIdx, shAcc,
      "doc_id", "text")
    assert(SimhashGate.gateBatch(Seq((10L, page)).toDF("doc_id", "text"), 1L,
      shIdx, shAcc, "doc_id", "text") == 0L)
    Seq(dsir -> 0L, pplD -> 0L, shIdx -> 1L, shAcc -> 1L).foreach { case (dir, e) =>
      assert(rows(dir, e) == 0L, dir)
    }
  }

  test("an empty epoch returns 0 and still commits its partition") {
    frozen; ppl; merges
    val none = Seq.empty[(Long, String)].toDF("doc_id", "text")
    def d(s: String) = Staging.dirFor(s"epoch-empty-$s")
    val (dsir, pplD, tok) = (d("dsir"), d("ppl"), d("tok"))
    val (shIdx, shAcc, inIdx, inAcc) = (d("sh-idx"), d("sh-acc"), d("in-idx"), d("in-acc"))
    val (coIdx, coAcc, paKey, paAcc) = (d("co-idx"), d("co-acc"), d("pa-key"), d("pa-acc"))
    val sem = d("sem")
    val epochs = Seq(
      "DsirGate" -> DsirGate.gateBatch(none, 0L, dsir, "doc_id", "text", frozen, 0.0),
      "PplGate" -> PplGate.gateBatch(none, 0L, pplD, "doc_id", "text", ppl, 2),
      "TokenBudgetStream" -> TokenBudgetStream.statsBatch(none, 0L, tok, "doc_id",
        "text", merges),
      "SimhashGate" -> SimhashGate.gateBatch(none, 0L, shIdx, shAcc, "doc_id", "text"),
      "IngestGate" -> IngestGate.gateBatch(none, 0L, inIdx, inAcc, "doc_id", "text"),
      "ContainmentGate" -> ContainmentGate.gateBatch(none, 0L, coIdx, coAcc,
        "doc_id", "text"),
      "ParagraphGate" -> ParagraphGate.gateBatch(none, 0L, paKey, paAcc,
        "doc_id", "text"),
      "SemanticGate" -> SemanticGate.gateBatch(
        Seq.empty[(Long, Seq[Float])].toDF("id", "vec"), 0L, sem, "id", "vec",
        Array(Array(1.0, 0.0), Array(0.0, 1.0)), 0.99))
    epochs.foreach { case (gate, n) => assert(n == 0L, gate) }
    Seq(dsir, pplD, tok, shIdx, shAcc, inIdx, inAcc, coIdx, coAcc, paKey, paAcc)
      .foreach(dir => assert(rows(dir, 0) == 0L, dir))
    // a cell-partitioned epoch with no rows has no cell directory to write
    assert(new java.io.File(EpochStore.path(sem, 0)).isDirectory)
  }

  test("an empty micro-batch through start commits an empty partition") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val dir = Staging.dirFor("epoch-empty-stream")
    val ckpt = Staging.dirFor("epoch-empty-stream-ckpt")
    val q = TokenBudgetStream.start(mem.toDF().toDF("doc_id", "text"), dir, ckpt,
      "doc_id", "text", merges)
    try {
      mem.addData(Seq.empty[(Long, String)])
      q.processAllAvailable()
      mem.addData(Seq((1L, "abab cd")))
      q.processAllAvailable()
    } finally q.stop()
    assert(EpochStore.epochs(spark, dir) == Seq(0L, 1L))
    assert(rows(dir, 0) == 0L && rows(dir, 1) == 1L)
  }

  test("read is None until data lands, prior drops its own epoch, a corrupt store fails loudly") {
    val dir = Staging.dirFor("epoch-store")
    assert(EpochStore.read(spark, dir).isEmpty)
    assert(EpochStore.prior(spark, s"$dir/missing", 0L).isEmpty)
    assert(EpochStore.write(Seq(1L, 2L).toDF("id"), dir, 0L) == 2L)
    assert(EpochStore.write(Seq(3L).toDF("id"), dir, 1L) == 1L)
    assert(EpochStore.write(Seq(4L, 5L).toDF("id"), dir, 1L) == 2L, "a replay overwrites")
    new java.io.File(dir, "batch=x").mkdir()
    assert(EpochStore.epochs(spark, dir) == Seq(0L, 1L))
    assert(EpochStore.read(spark, dir).get.select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L, 4L, 5L))
    assert(EpochStore.prior(spark, dir, 1L).get.select("id").as[Long].collect().sorted
      .toSeq == Seq(1L, 2L))
    val bad = Staging.dirFor("epoch-store-corrupt")
    new java.io.File(bad, "batch=0").mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(bad, "batch=0/part-0.parquet").toPath, "not parquet")
    // a store holding a file is not empty: reading it fails, it is not skipped
    intercept[SparkException](EpochStore.prior(spark, bad, 1L))
  }
}

object EpochStoreSpec {
  /** Jobs on 4 cores of the DsirGate epoch when it counted before
    * writing (now 6), and of the SimhashGate epoch probing once (20 when
    * each write reran the probes, 23 with the count). */
  val DsirCountThenWriteJobs = 9
  val SimhashProbeOnceJobs = 16
}
