package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Interpolated Kneser–Ney bigram LM
  * ([[LanguageModel.trainKnBigramLm]] / [[LanguageModel.perplexityKn]]). */
class KnLmSpec extends SparkSpec {
  import spark.implicits._

  // reference "a b a b a c": c(a,b)=2 c(b,a)=2 c(a,c)=1; c1(a)=3 c1(b)=2;
  // n1fwd(a)=2 n1fwd(b)=1; n1bwd(a)=n1bwd(b)=n1bwd(c)=1; n1all=3; V=3;
  // count-of-counts n₁=1 n₂=2 → D = 1/(1+4) = 0.2
  private lazy val ref = Seq((0L, "a b a b a c")).toDF("doc_id", "text")
  private lazy val lm = LanguageModel.trainKnBigramLm(ref, "text")

  test("model parameters match the hand computation") {
    assert(lm.n1all == 3 && lm.vocab == 3)
    assert(math.abs(lm.discount - 0.2) < 1e-12)
    val ctxRows = lm.contexts.collect().map(r =>
      (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(ctxRows == Set(("a", 3L, 2L), ("b", 2L, 1L)))
    val rgt = lm.rights.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(rgt == Set(("a", 1L), ("b", 1L), ("c", 1L)))
  }

  test("scored probabilities replay the interpolation formula exactly") {
    val docs = Seq(
      (1L, "a b"), // seen bigram
      (2L, "a z"), // seen context, unseen continuation
      (3L, "q a")  // unseen context → pure continuation prob
    ).toDF("doc_id", "text")
    val got = LanguageModel.perplexityKn(docs, "doc_id", "text", lm)
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val pcont = (w2Seen: Boolean) =>
      ((if (w2Seen) 1L else 0L) + 1L).toDouble / (3L + 3L).toDouble
    val pAB = math.max(2.0 - 0.2, 0.0) / 3L + (0.2 * 2L / 3L) * pcont(true)
    val pAZ = math.max(0.0 - 0.2, 0.0) / 3L + (0.2 * 2L / 3L) * pcont(false)
    val pQA = pcont(true)
    def r3(x: Double) = BigDecimal(x).setScale(3, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq(
      (1L, 1L, r3(-math.log(pAB))),
      (2L, 1L, r3(-math.log(pAZ))),
      (3L, 1L, r3(-math.log(pQA)))))
  }

  test("in-domain documents score lower than every other language (sf0.001)") {
    val docs = Tables.documents(spark, sf001)
    val scored = LanguageModel.perplexityKnVsSlice(docs, "doc_id", "text",
        col("lang") === "en")
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
      .groupBy("lang").agg(avg("nll").as("m"))
      .as[(String, Double)].collect().toMap
    val others = scored.filterNot(_._1 == "en")
    assert(others.nonEmpty && others.values.forall(scored("en") < _),
      s"en mean ${scored("en")} not below every non-target mean: $scored")
  }

  test("KN assigns unseen-but-promiscuous words more mass than add-one's uniform tail") {
    // the KN selling point: continuation probability ranks w2 by
    // distinct left-contexts, not raw frequency — a word following many
    // contexts gets more backoff mass than one glued to a single context
    val ref2 = Seq((0L, "x a y a z a w b w b w b w b")).toDF("doc_id", "text")
    // 'a' follows 3 distinct contexts (x,y,z); 'b' follows only 'w' (4×)
    val m = LanguageModel.trainKnBigramLm(ref2, "text")
    val nb = m.rights.collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(nb("a") > nb("b"),
      s"continuation counts must rank contexts, not frequency: $nb")
  }

  test("an empty reference slice fails loudly instead of dividing by a zero vocabulary") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val nullText = Seq((1L, null.asInstanceOf[String])).toDF("doc_id", "text")
    Seq(empty, nullText).foreach { ref =>
      val e = intercept[IllegalArgumentException](LanguageModel.trainKnBigramLm(ref, "text"))
      assert(e.getMessage.contains("reference slice is empty"), e.getMessage)
    }
  }
}
