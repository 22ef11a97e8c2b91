package graft

import org.apache.spark.StorageAccess
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

import graft.ops.{NnDescent, TextIndex, TextRank}
import graft.streaming.RecallStream

/** [[Materialize]] frees what it materializes: a released checkpoint's
  * blocks leave executor storage, loops keep only their last round,
  * a scoped query and a streaming epoch leave nothing behind.
  * Releases are asynchronous, so every check polls. */
class MaterializeSpec extends SparkSpec with Eventually {
  import spark.implicits._

  override implicit val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(20, Seconds))

  private def blocks: Set[Int] = StorageAccess.rddsWithBlocks()

  /** The RDDs under every checkpoint a frame's plan reads. */
  private def checkpointsOf(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }.toSet

  /** Asserts that `run` adds no RDD blocks beyond `keep(result)`. */
  private def leavesOnly[R](run: => R)(keep: R => Set[Int]): R = {
    val before = blocks
    val out = run
    val allowed = before ++ keep(out)
    eventually(assert((blocks -- allowed).isEmpty,
      s"left blocks of RDDs ${blocks -- allowed}"))
    out
  }

  test("release drops a checkpoint's blocks, where Dataset.unpersist leaves them") {
    val cp = Materialize(spark.range(0, 1000, 1, 4).toDF("id"))
    val Seq(rdd) = checkpointsOf(cp).toSeq
    assert(blocks.contains(rdd), "an eager checkpoint holds blocks")
    cp.unpersist(blocking = true)
    assert(blocks.contains(rdd), "Dataset.unpersist does not free a checkpoint")
    Materialize.release(cp)
    eventually(assert(!blocks.contains(rdd)))
  }

  test("cached releases its frame after the body, also when the body throws") {
    val df = spark.range(0, 1000, 1, 4).toDF("id").filter($"id" % 7 === 0)
    leavesOnly(Materialize.cached(df)(_.count()))(_ => Set.empty)
    leavesOnly(intercept[IllegalStateException](Materialize.cached(df) { c =>
      c.count(); throw new IllegalStateException("body failed")
    }))(_ => Set.empty)
  }

  test("knnGraph and tokenRank keep only the blocks of the frame they return") {
    val nodes = Tables.embeddings(spark, sf001)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val g = leavesOnly(NnDescent.knnGraph(nodes, k = 5, iters = 4))(checkpointsOf)
    assert(g.count() > 0)
    val docs = Tables.documents(spark, sf001)
    val ranks = leavesOnly(TextRank.tokenRank(docs, "text"))(checkpointsOf)
    assert(ranks.count() > 0)
  }

  test("a scoped query leaves no blocks: ann_graph_search, corpus_pipeline_v5") {
    Seq("ann_graph_search", "corpus_pipeline_v5").foreach { name =>
      leavesOnly(RunMeter.query(spark, name, sf001)(RunMeter.noop))(_ => Set.empty)
    }
  }

  test("a graph-monitor epoch and a postings append leave no checkpoint blocks") {
    val gdir = Staging.dirFor("materialize-graph")
    val ndir = Staging.dirFor("materialize-nodes")
    val met = Staging.dirFor("materialize-metrics")
    val vecs = (0L until 40L).map { id =>
      val a = id * 0.15
      (id, Seq(math.cos(a).toFloat, math.sin(a).toFloat, (id % 3).toFloat))
    }
    val queries = Seq((0L, Seq(1.0f, 0.0f, 0.0f))).toDF("qid", "qvec")
    val metrics = leavesOnly(RecallStream.monitorGraphBatch(
      vecs.toDF("id", "vec"), 0L, gdir, ndir, met, queries,
      k = 3, entries = 4, beam = 3, hops = 2, buildK = 3))(_ => Set.empty)
    assert(metrics.count() == 1)

    val pidx = Staging.dirFor("materialize-postings")
    val docs = (1L to 20L).map(id => (id, s"doc $id shares words ${id % 4}"))
      .toDF("doc_id", "text")
    leavesOnly(TextIndex.appendPostingsEpoch(docs, "doc_id", "text", pidx, 0L))(
      _ => Set.empty)
    assert(spark.read.parquet(s"$pidx/postings").count() > 0)
  }
}
