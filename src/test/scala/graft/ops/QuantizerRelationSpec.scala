package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Broadcast-relation quantizer ([[QuantizerRelation]]): exact
  * assignment parity with the reference-object expression at k=1024
  * (including every degenerate class), the BroadcastExchange plan
  * shape and the automatic cutover in [[IvfIndex.assignCells]]
  * (training through either form is LloydSpec's). */
class QuantizerRelationSpec extends SparkSpec {
  import spark.implicits._

  /** Deterministic k×dim matrix — values in [-1, 1), no special
    * structure needed: parity must hold for ANY matrix. */
  private def matrix(k: Int, dim: Int): Array[Array[Double]] =
    Array.tabulate(k, dim)((c, j) =>
      (((c * 131L + j * 31L + 17L) * 2654435761L) % 2000L) / 1000.0 - 1.0)

  private def corpusWithDegens = {
    val good = Tables.embeddings(spark, sf001).limit(200)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val weird = Seq(
      (9001L, Some(Seq(Some(1.0f), Some(2.0f)))), // wrong length
      (9002L, Some(Seq(Some(1.0f), None, Some(3.0f), Some(0.5f)))), // null elem (len 4 ≠ dim anyway)
      (9003L, Option.empty[Seq[Option[Float]]])) // null vector
      .toDF("id", "vec")
    val weirdDim = Seq( // null element at the RIGHT length — the subtle class
      (9004L, (0 until 8).map(i => if (i == 3) None else Some(i * 0.1f))))
      .toDF("id", "vec")
    (good, weird, weirdDim)
  }

  test("k=1024: join-form assignment ≡ expression form, including degenerate and null vectors") {
    val m = matrix(1024, 8)
    val (good, weird, weirdDim) = corpusWithDegens
    for (df <- Seq(good, weird, weirdDim)) {
      val expr = df.withColumn("cell",
        IvfIndex.bestCell(col("vec"), m)).select("id", "cell")
      val rel = QuantizerRelation.assignCells(df, "id", "vec",
        QuantizerRelation.centroidsDf(spark, IvfIndex.unitRows(m)))
        .select("id", "cell")
      val e = expr.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getInt(1))).toMap
      val g = rel.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) null else r.getInt(1))).toMap
      assert(e == g, s"assignment mismatch: expr=$e rel=$g")
    }
  }

  test("column order survives the join form even when idCol is not first") {
    // the expression path's withColumn preserves input column order;
    // the join form must too — "drop-in interchangeable for writers
    // that persist the schema" has to hold for ANY input shape
    val m = matrix(64, 8)
    val (good, _, _) = corpusWithDegens
    val shuffled = good.withColumn("meta", $"id" * 2).select("meta", "vec", "id")
    val expr = shuffled.withColumn("cell", IvfIndex.bestCell(col("vec"), m))
    val rel = QuantizerRelation.assignCells(shuffled, "id", "vec",
      QuantizerRelation.centroidsDf(spark, IvfIndex.unitRows(m)))
    assert(rel.columns.toSeq == expr.columns.toSeq,
      s"schema order: rel=${rel.columns.toSeq} expr=${expr.columns.toSeq}")
    def byId(d: org.apache.spark.sql.DataFrame) = d.select("id", "meta", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(byId(rel) == byId(expr), "carried columns and cells must match")
  }

  test("large-k form: the matrix rides a BroadcastExchange, not the task binary") {
    val m = matrix(1024, 8)
    val (good, _, _) = corpusWithDegens
    val plan = QuantizerRelation.assignCells(good, "id", "vec",
        QuantizerRelation.centroidsDf(spark, IvfIndex.unitRows(m)))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastExchange"),
      s"centroids must broadcast:\n$plan")
    // every hash exchange is doc-keyed and NARROW: the partial argmax
    // collapses the k-per-doc blowup in-task (the argmax exchange is
    // (id, best) pairs) and the carried-column re-join moves the
    // payload once — exchanges beyond the broadcast are the argmax +
    // the re-join sides, never the k-fold rows
    val nEx = plan.split("Exchange hashpartitioning").length - 1
    assert(nEx <= 3, s"argmax + re-join exchanges only ($nEx):\n$plan")
    // the argmax must HASH-aggregate: a SortAggregate's partial phase
    // would sort the k-fold blowup (the ArgMaxCell rationale)
    assert(plan.contains("HashAggregate") && !plan.contains("SortAggregate"),
      s"argmax must be hash-aggregable:\n$plan")
  }

  test("IvfIndex.assignCells cuts over by k and both paths agree") {
    val (good, _, _) = corpusWithDegens
    def cells(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "cell").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val small = IvfIndex.assignCells(good, "id", "vec", matrix(64, 8))
    assert(!small.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "below cutover: expression form, no join")
    // at the cutover by size: the broadcast join, against the
    // expression form built directly over the same matrix
    val m = matrix(QuantizerRelation.CutoverCells, 8)
    val large = IvfIndex.assignCells(good, "id", "vec", m)
    assert(large.queryExecution.executedPlan.toString.contains("BroadcastExchange"),
      "at the cutover: broadcast join form")
    assert(cells(large) == cells(good.withColumn("cell", IvfIndex.bestCell(col("vec"), m))))
    // carried payload columns survive the join form
    assert(large.columns.toSet == Set("id", "vec", "cell"))
  }
}
