package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** TextRank ([[TextRank.tokenRank]]): structural properties on crafted
  * graphs (symmetry, centrality, mass conservation) — the cross-engine
  * 10-iteration replay is the `text_rank` oracle. */
class TextRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(texts: String*): Map[String, Double] =
    TextRank.tokenRank(texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("doc_id", "text"), "text")
      .select("token", "r").as[(String, Double)].collect().toMap

  test("symmetric two-node graph splits rank evenly") {
    val r = ranksOf("a b a b a b")
    assert(r.keySet == Set("a", "b"))
    assert(r("a") == r("b"), s"symmetric nodes must tie: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-4, s"rank mass conserved: $r")
  }

  test("hub of a star outranks its leaves; leaves tie") {
    // hub adjacent to x/y/z, each leaf only to hub
    val r = ranksOf("x hub y", "z hub x", "y hub z")
    assert(r("hub") > r("x"), s"hub must dominate: $r")
    assert(r("x") == r("y") && r("y") == r("z"), s"symmetric leaves tie: $r")
    assert(math.abs(r.values.sum - 1.0) < 1e-4)
  }

  test("self-adjacent repeats don't vote for themselves") {
    // "a a a a b": without self-loop removal, a's repeats would inflate a
    val r = ranksOf("a a a a b")
    assert(r.keySet == Set("a", "b"))
    assert(r("a") == r("b"),
      s"the only real edge is a–b, so both ends must tie: $r")
  }

  test("rank is partitioning-invariant after rounding") {
    val docs = (1 to 50).map(i => (i.toLong, s"w$i w${i % 7} shared w${i % 3}"))
      .toDF("doc_id", "text")
    val one = TextRank.tokenRank(docs.coalesce(1), "text")
      .select("token", "r").as[(String, Double)].collect().toMap
    val many = TextRank.tokenRank(docs.repartition(5), "text")
      .select("token", "r").as[(String, Double)].collect().toMap
    assert(one == many, "6-dp rounding must absorb summation-order noise")
  }

  test("top-k cut: head of the full ranking, rk 1..k") {
    val docs = (1 to 50).map(i => (i.toLong, s"w$i w${i % 7} shared w${i % 3}"))
      .toDF("doc_id", "text")
    val full = TextRank.tokenRank(docs, "text", k = 1000)
      .orderBy("rk").as[(String, Double, Int)].collect()
    val cut = TextRank.tokenRank(docs, "text", k = 5)
      .orderBy("rk").as[(String, Double, Int)].collect()
    assert(cut.length == 5)
    assert(cut.map(_._3).toSeq == (1 to 5), s"rk must be 1..5: ${cut.toSeq}")
    assert(cut.toSeq == full.take(5).toSeq,
      "cut result must be the head of the full ranking")
  }

  /** Plan gate (round-10 directive #2, AnnReductionSpec's style): the
    * one single-partition window in the plan must consume a
    * TakeOrderedAndProject cut (≤ k rows), never the unbounded
    * vocabulary rank relation — the 100 TB vocabulary is 10⁷–10⁸
    * tokens and a global sort of it on one reducer is the straggler
    * this repo's every other global rank avoids. */
  test("rk window consumes a TakeOrdered cut, not the vocabulary") {
    import org.apache.spark.sql.execution.TakeOrderedAndProjectExec
    import org.apache.spark.sql.execution.window.WindowExec
    val docs = (1 to 50).map(i => (i.toLong, s"w$i w${i % 7} shared w${i % 3}"))
      .toDF("doc_id", "text")
    val df = TextRank.tokenRank(docs, "text", k = 5)
    df.collect() // finalize AQE
    val all = planNodes(df.queryExecution.executedPlan)
    val wins = all.collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the rk window in the plan")
    wins.foreach { w =>
      assert(w.children.flatMap(planNodes)
          .exists(_.isInstanceOf[TakeOrderedAndProjectExec]),
        "rk window must sit above a TakeOrderedAndProject cut — " +
          "a window over the uncut vocabulary is the 100 TB straggler")
    }
  }
}
