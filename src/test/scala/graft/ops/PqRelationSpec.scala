package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The broadcast-relation PQ codebook ([[PqRelation]]): encode and LUT
  * parity with the expression forms at a production-shaped m·k′ above
  * the cutover (incl. every degenerate class), the plan gate showing
  * the codebook rides a BroadcastExchange, and cutover-invariant
  * results and layouts (training through either form is LloydSpec's). */
class PqRelationSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic m×k×dsub codebook — parity must hold for ANY books. */
  private def mkBooks(m: Int, k: Int, dsub: Int): PqIndex.Codebooks =
    PqIndex.Codebooks(m, dsub, Array.tabulate(m, k, dsub)((mi, c, j) =>
      (((mi * 947L + c * 131L + j * 31L + 17L) * 2654435761L) % 2000L) / 1000.0 - 1.0))

  // production shape: 16 subspaces × 1024 codes = 16384 centroids ≥ the
  // 10⁴ cutover, over the 64-dim embeddings (dsub = 4)
  private val big = mkBooks(16, 1024, 4)

  private def corpusWithDegens = {
    val good = Tables.embeddings(spark, sf001).limit(150)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val weird = Seq(
      (9001L, Some(Seq(Some(1.0f), Some(2.0f)))), // wrong length (1 window, 15 degen)
      (9003L, Option.empty[Seq[Option[Float]]])) // null vector → null codes
      .toDF("id", "vec")
    val weirdDim = Seq( // null element at the RIGHT length: degen in ONE window only
      (9004L, (0 until 64).map(i => if (i == 5) None else Some(i * 0.01f))))
      .toDF("id", "vec")
    (good, weird, weirdDim)
  }

  private def codesOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Int]] =
    df.select("id", "codes").collect().map(r => r.getLong(0) ->
      (if (r.isNullAt(1)) null else r.getSeq[Int](1))).toMap

  test("production-shape encode: relation form ≡ expression form, including degenerate and null vectors") {
    val (good, weird, weirdDim) = corpusWithDegens
    val cbDf = PqRelation.codebooksDf(spark, big)
    for (df <- Seq(good, weird, weirdDim)) {
      val expr = df.withColumn("codes", PqIndex.encode(col("vec"), big))
      val rel = PqRelation.encodeCells(df, "id", "vec", cbDf)
      assert(rel.columns.toSeq == expr.columns.toSeq, "column order preserved")
      assert(codesOf(rel) == codesOf(expr))
    }
    // the single-degen-window doc codes k−1 in window 1 and normally elsewhere
    val one = codesOf(PqRelation.encodeCells(weirdDim, "id", "vec", cbDf))(9004L)
    assert(one(1) == big.k - 1 && one.count(_ == big.k - 1) >= 1)
  }

  test("production-shape LUT: relation form ≡ expression form, including degenerate queries") {
    val qs = Tables.embeddings(spark, sf001).limit(5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val degens = Seq(
      (9001L, Some(Seq(Some(1.0f), Some(2.0f)))), // too short → null lut
      (9002L, Option.empty[Seq[Option[Float]]])) // null vector → null lut
      .toDF("qid", "qvec")
    val nullElem = Seq(
      (9004L, (0 until 64).map(i => if (i == 5) None else Some(i * 0.01f))))
      .toDF("qid", "qvec")
    for (q <- Seq(qs, degens, nullElem)) {
      val expr = q.select(col("qid"), PqIndex.lut(col("qvec"), big).as("lut"))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
      val rel = PqRelation.lutRel(q, "qid", "qvec",
          PqRelation.codebooksDf(spark, big))
        .collect().map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) null else r.getSeq[Double](1))).toMap
      assert(rel == expr)
    }
  }

  test("large form: the codebook rides a BroadcastExchange, one doc-keyed exchange") {
    val (good, _, _) = corpusWithDegens
    val plan = PqRelation.encodeCells(good, "id", "vec",
        PqRelation.codebooksDf(spark, big))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"), s"codebook must broadcast:\n$plan")
    // every hash exchange is doc-keyed and NARROW: the partial argmax
    // collapses the m·k′-per-doc blowup in-task ((id, codes) rows) and
    // the carried-column re-join moves the payload once
    val nEx = plan.split("Exchange hashpartitioning").length - 1
    assert(nEx <= 3, s"argmax + re-join exchanges only ($nEx):\n$plan")
    // the per-subspace argmaxes must HASH-aggregate (ArgMaxCell): a
    // SortAggregate's partial phase would sort the m·k′ blowup
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"argmax must be hash-aggregable:\n$plan")
  }

  test("PqIndex.topK cuts over by m·k and both paths agree end-to-end") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter($"vec_id" < 5).select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val corpus = emb.filter($"vec_id" >= 5 && $"vec_id" < 205)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // `big` is at the cutover by size: topK encodes and builds its LUTs
    // through the relation; the expression pipeline is built directly
    val viaRel = PqIndex.topK(queries, corpus, big, k = 10, shortlist = 40)
    val encoded = corpus.select(col("id"), PqIndex.encode(col("vec"), big).as("codes"))
    val luts = queries.select(col("qid"), PqIndex.lut(col("qvec"), big).as("lut"))
    val scored = encoded.crossJoin(luts)
      .withColumn("adc", PqIndex.adcScore(col("codes"), col("lut"), big.m, big.k))
    val short = Similarity.rankPerQuery(scored, col("adc"), 40).select(col("qid"), col("id"))
    val viaExpr = PqIndex.rerank(short, queries, corpus, k = 10)
    assert(key(viaExpr) == key(viaRel), "cutover must not change results")
  }

  test("writeEncoded layout is cutover-invariant") {
    val corpus = Tables.embeddings(spark, sf001).limit(100)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val a = graft.Staging.dirFor("pq-cut-a")
    PqIndex.writeEncoded(corpus, big, a) // at the cutover: relation form
    val stored = spark.read.parquet(a).select("id", "codes")
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(stored == codesOf(corpus.withColumn("codes", PqIndex.encode(col("vec"), big))))
  }
}
