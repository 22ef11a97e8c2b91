package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Plan gate for the two-phase ANN reduction (round-8 directive #1).
  *
  * Every ANN scorer deliberately touches a large candidate set — the
  * brute-force and ADC scans touch EVERY corpus row — so a per-query
  * top-k expressed as one `Window.partitionBy(qid)` would hash the
  * whole scored relation into |queries| partitions: one reducer sorts
  * one query's entire candidate set (the 100 TB straggler). The fix is
  * [[Similarity.rankPerQuery]] / [[Skew.saltedTopK]]: a salted phase-1
  * window prunes to ≤ k rows per (qid, salt-bucket) first, so the
  * qid-only window sorts ≤ salt×k rows per query.
  *
  * This spec pins BOTH halves of that claim:
  *   - shape: in the physical plan, any window partitioned by `qid`
  *     alone has another window (the salted phase) below it — it never
  *     consumes the scored scan directly — and its input is bounded by
  *     a phase-1 rank filter;
  *   - semantics: the two-phase result is row-identical to the naive
  *     single-window formulation (ordering is total: score desc, unique
  *     id tiebreak).
  */
class AnnReductionSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val queries = emb.filter($"vec_id" < 4)
    .select($"vec_id".as("qid"), $"embedding".as("qvec"))
  private lazy val corpus = emb.filter($"vec_id" >= 4)
    .select($"vec_id".as("id"), $"embedding".as("vec"))

  /** Assert the two-phase shape: ≥2 windows; every qid-only window has
    * a salted (2-key) window strictly below it in the same plan. */
  private def assertTwoPhase(df: DataFrame, what: String): Unit = {
    df.collect() // materialize so AQE finalizes the executed plan
    val plan = df.queryExecution.executedPlan
    val wins = planNodes(plan).collect { case w: WindowExec => w }
    assert(wins.exists(_.partitionSpec.size >= 2),
      s"$what: no salted phase-1 window in plan")
    val qidOnly = wins.filter(_.partitionSpec.size == 1)
    assert(qidOnly.nonEmpty, s"$what: no final qid window found")
    qidOnly.foreach { w =>
      val below = w.children.flatMap(planNodes).collect { case x: WindowExec => x }
      assert(below.exists(_.partitionSpec.size >= 2),
        s"$what: a qid-only window consumes the scored scan directly " +
          "(no phase-1 salted window below it)")
    }
  }

  test("bruteForceTopK plans two-phase and matches the naive window") {
    val got = Similarity.bruteForceTopK(queries, corpus, k = 7)
    assertTwoPhase(got, "bruteForceTopK")
    val naive = {
      val scored = corpus.crossJoin(broadcast(queries))
        .withColumn("score", Similarity.cosine($"qvec", $"vec"))
      val w = Window.partitionBy($"qid").orderBy($"score".desc, $"id")
      scored.withColumn("rank", row_number().over(w))
        .filter($"rank" <= 7)
        .select($"qid", $"id", $"score", $"rank")
    }
    assert(got.collect().toSet == naive.collect().toSet)
  }

  test("IVF probe join plans two-phase") {
    val cents = IvfIndex.train(corpus, "id", "vec", k = 4)
    assertTwoPhase(IvfIndex.topK(queries, corpus, cents, k = 5, nProbe = 4),
      "IvfIndex.topK")
  }

  test("PQ ADC shortlist plans two-phase") {
    val cb = PqIndex.train(corpus, "id", "vec", m = 4, k = 8)
    assertTwoPhase(PqIndex.topK(queries, corpus, cb, k = 5, shortlist = 32),
      "PqIndex.topK")
  }

  test("LSH top-k plans two-phase") {
    assertTwoPhase(
      Similarity.lshTopK(queries, corpus, k = 5, dim = 64,
        bitsPerTable = 4, tables = 8),
      "lshTopK")
  }
}
