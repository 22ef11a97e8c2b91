package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LARGE-k form of the coarse quantizer: centroids as a broadcast
  * RELATION scored by a join, instead of a matrix riding the
  * serialized plan inside [[graft.functions.BestCellExpr]].
  *
  * Why two forms exist (the cutover promised at
  * [[graft.functions.CentroidExprs]]): the reference-object expression
  * is strictly better while the matrix is small — zero exchanges, the
  * argmax fused into whole-stage codegen — but the matrix serializes
  * into every TASK BINARY once per stage. At a production 100 TB IVF
  * (k ≈ 10⁴–10⁵ cells × 10²-10³ dims, tens-to-hundreds of MB) that is
  * the wrong bus: Spark's broadcast machinery exists precisely to ship
  * a large read-only relation to every executor ONCE (torrent
  * broadcast, reused across stages), so beyond the cutover the matrix
  * becomes data in a `BroadcastExchange` and scoring becomes a
  * broadcast join + per-doc argmax aggregation. The join explodes k
  * candidate rows per doc INSIDE the task (no wire cost) and the
  * partial aggregation collapses them back to one row per doc before
  * the single id-keyed exchange — wire cost O(|docs|), never
  * O(|docs|·k). [[IvfIndex.assignCells]] selects the form
  * automatically at [[CutoverCells]].
  *
  * Semantics are pinned to the expression form EXACTLY
  * (QuantizerRelationSpec, k=1024 parity incl. every degenerate
  * class): scores are the same ascending-index dot products (`zip_with`
  * + `aggregate` sums in element order — bit-identical doubles), ties
  * prefer the larger cell via lexicographic `max(struct(score, cell))`,
  * a degenerate vector (wrong length / null element) lands in cell
  * k−1 (its "score" is the cell index, so the argmax IS k−1), and a
  * NULL vector yields a NULL cell.
  *
  * Training is [[Lloyd.fit]] for every k: its per-iteration means are
  * k×dim doubles, no more than the broadcast of this relation collects
  * to the driver anyway, and at or above the cutover its assignment
  * step is [[assignCells]] here.
  */
object QuantizerRelation {

  /** Above this many cells, [[IvfIndex.assignCells]] switches from the
    * plan-carried expression to the broadcast relation. ~10⁴ cells ×
    * 128 dims ≈ 10 MB — the point where per-task-binary shipping
    * visibly loses to one torrent broadcast. */
  val CutoverCells: Int = 10000

  /** A driver-side matrix as the (cell, cvec) relation (rows NOT
    * normalized here — pass [[IvfIndex.unitRows]] for assignment). */
  def centroidsDf(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cvec")
  }

  /** All `df` columns plus `cell`, computed through the broadcast
    * relation. `cents` must be unit-normalized (cell, cvec) with cells
    * exactly [0, k). Requires `idCol` unique (every caller's existing
    * contract).
    *
    * Shape (both measured, SCALING.md "Round 13"): ONLY (id, vec) enter
    * the k-fold join blowup — the degeneracy flag is computed once per doc
    * before the join (not k times), the per-(doc, cell) score is the
    * codegen'd [[graft.functions.DotProductExpr]] (two COLUMN
    * operands, nothing rides the plan; the zip_with/aggregate HOF
    * formulation it replaces is interpreted per element, measured 26×
    * slower across the blowup), and carried columns re-join AFTER the
    * argmax instead of riding `first()` aggregates k-fold (13× on a
    * ~1 KB payload). Wire cost: the argmax exchange carries one narrow
    * (id, cell) row per doc and the payload crosses its one join
    * exchange — never the k-fold blowup, which collapses in-task. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, outCol: String = "cell"): DataFrame = {
    val meta = cents.agg(count(lit(1)).as("k"),
      max(size(col("cvec"))).as("dim")).collect().head
    val k = meta.getLong(0).toInt
    val dim = meta.getInt(1)
    val v = col("_v")
    // degenerate (non-null) vectors score each cell by its own index →
    // argmax = k−1, reproducing BestCellExpr without a separate branch
    val degen = v.isNull || size(v) =!= dim || exists(v, _.isNull)
    val score = when(col("_degen"), col("cell").cast("double"))
      .otherwise(graft.functions.functions.dot_product(v, col("cvec")))
    val cells = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("_degen", degen)
      .withColumn("_nullv", v.isNull)
      .crossJoin(broadcast(cents))
      .withColumn("_score", score)
      .groupBy(col("_id"))
      // argmax_cell, NOT max(struct(…)): a struct buffer forces a
      // SortAggregate whose partial phase would SORT the k-fold blowup
      // (measured unusable at k=10⁴ — ArgMaxCell scaladoc); the
      // declarative two-primitive buffer hash-aggregates in-task with
      // the identical larger-cell tie rule
      .agg(graft.functions.functions
          .argmax_cell(col("_score"), col("cell")).as("_c"),
        max(col("_nullv")).as("_nv"))
      .select(col("_id").as(idCol),
        when(col("_nv"), lit(null).cast("int"))
          .otherwise(col("_c")).as(outCol))
    // column order matches the expression path's `withColumn` shape —
    // df's columns in THEIR ORIGINAL ORDER, then the cell — so the two
    // forms are drop-in interchangeable for writers that persist the
    // schema even when idCol is not the input's first column (a USING
    // join hoists the key first; the select restores df's order)
    df.join(cells, Seq(idCol))
      .select(df.columns.map(c => col(c)).toSeq :+ col(outCol): _*)
  }
}
