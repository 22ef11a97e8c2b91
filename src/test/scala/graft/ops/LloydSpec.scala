package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one k-means trainer ([[Lloyd.fit]]): the same fit whether its
  * assignment runs as the plan-carried expression or as the broadcast
  * relation (coarse and PQ), the family trainers are that fit, and a
  * seed the trainer cannot use fails with its id. */
class LloydSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(n: Int): DataFrame = Tables.embeddings(spark, sf001).limit(n)
    .select($"vec_id".as("id"), $"embedding".as("v"))

  private def assertClose(a: PqIndex.Codebooks, b: PqIndex.Codebooks): Unit = {
    assert(a.m == b.m && a.dsub == b.dsub && a.k == b.k)
    for (mi <- 0 until a.m; c <- 0 until a.k; j <- 0 until a.dsub)
      assert(math.abs(a.books(mi)(c)(j) - b.books(mi)(c)(j)) < 1e-9,
        s"sub $mi cell $c dim $j: ${a.books(mi)(c)(j)} vs ${b.books(mi)(c)(j)}")
  }

  private def codesOf(df: DataFrame): Map[Long, Seq[Int]] =
    df.select("id", "codes").collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap

  test("coarse: relation-form assignment fits the expression form's centroids") {
    val corpus = vecs(300)
    val expr = Lloyd.fit(corpus, 1, 4, 2) { (rows, cb) =>
      rows.withColumn("codes", array(IvfIndex.bestCell(col("v"), cb.books(0))))
    }
    val rel = Lloyd.fit(corpus, 1, 4, 2) { (rows, cb) =>
      QuantizerRelation.assignCells(rows, "id", "v",
        QuantizerRelation.centroidsDf(spark, IvfIndex.unitRows(cb.books(0))))
        .withColumn("codes", array(col("cell")))
    }
    assertClose(expr, rel)
    def cells(c: Array[Array[Double]]) =
      codesOf(corpus.withColumn("codes", array(IvfIndex.bestCell(col("v"), c))))
    assert(cells(expr.books(0)) == cells(rel.books(0)), "identical corpus assignments")
    assert(IvfIndex.train(corpus, "id", "v", k = 4).map(_.toSeq).toSeq ==
      expr.books(0).map(_.toSeq).toSeq, "IvfIndex.train is the m = 1 fit")
  }

  test("PQ: relation-form assignment fits the expression form's codebooks") {
    val corpus = vecs(300)
    val expr = Lloyd.fit(corpus, 8, 4, 2, unit = true) { (rows, cb) =>
      rows.withColumn("codes", PqIndex.encode(col("v"), cb))
    }
    val rel = Lloyd.fit(corpus, 8, 4, 2, unit = true) { (rows, cb) =>
      PqRelation.encodeCells(rows, "id", "v", PqRelation.codebooksDf(spark, cb))
    }
    assertClose(expr, rel)
    def codes(cb: PqIndex.Codebooks) =
      codesOf(corpus.withColumn("codes", PqIndex.encode(col("v"), cb)))
    assert(codes(expr) == codes(rel), "identical corpus codes")
    assert(PqIndex.train(corpus, "id", "v", m = 8, k = 4).books.map(_.map(_.toSeq).toSeq).toSeq ==
      expr.books.map(_.map(_.toSeq).toSeq).toSeq, "PqIndex.train is the unit fit")
  }

  test("a null or ragged seed fails with its id; a long non-seed row is cut at dim") {
    val corpus = vecs(40)
    val ranked = corpus.orderBy(Lloyd.seedHash(col("id")), col("id"))
      .select("id").as[Long].collect()
    val (first, second, last) = (ranked(0), ranked(1), ranked.last)
    def planted(id: Long, v: Column): DataFrame =
      corpus.withColumn("v", when(col("id") === id, v).otherwise(col("v")))
    val nullSeed = intercept[IllegalArgumentException] {
      IvfIndex.train(planted(first, lit(null).cast("array<float>")), "id", "v", k = 4)
    }
    assert(nullSeed.getMessage.contains(s"id=$first has a null vector"), nullSeed.getMessage)
    val ragged = intercept[IllegalArgumentException] {
      PqIndex.train(planted(second, slice(col("v"), 1, 8)), "id", "v", m = 8, k = 4)
    }
    assert(ragged.getMessage.contains(s"id=$second has 8 elements"), ragged.getMessage)
    // the last-ranked row is no seed: its positions past dim are ignored
    val long = planted(last, concat(col("v"), array(lit(5.0f), lit(-5.0f))))
    val cb = PqIndex.train(long, "id", "v", m = 8, k = 4, iters = 1)
    assert(cb.dim == 64 && cb.k == 4)
  }
}
