package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * [[train]] is Lloyd's algorithm in the same relational form — no
  * per-iteration driver collect, so training scales with k the way
  * assignment does ([[IvfIndex.train]] keeps the small-k driver loop).
  */
object QuantizerRelation {

  /** Above this many cells, [[IvfIndex.assignCells]] switches from the
    * plan-carried expression to the broadcast relation. ~10⁴ cells ×
    * 128 dims ≈ 10 MB — the point where per-task-binary shipping
    * visibly loses to one torrent broadcast. */
  val CutoverCells: Int = 10000

  /** ENGINE-PORTABLE seed ordering for every quantizer train (IVF
    * coarse, PQ, residual-PQ, and both relational forms): rows rank by
    * the md5-60 hash of `"km" ‖ id` with an id tiebreak — the
    * [[Dedup.md5TokenHash60]] portability stance applied to k-means
    * seeding. The previous `xxhash64(id)` order was equally
    * deterministic but reproducible only inside Spark, which is the
    * one reason the trained-codebook families' PRUNED production
    * configurations could never be replayed by the DuckDB oracle;
    * with this order (plus the 6-dp Lloyd-mean round below) the whole
    * train→encode→probe chain is a pure function any engine can
    * recompute (`q_retrieval_eval_pq` and friends replay it end to
    * end). Seeding quality is unchanged: both are uniform hashes of
    * the id, and seeding cost is a top-k over ids either way.
    *
    * `seed` is the hash PREFIX — the k-means "random seed" made data.
    * Because the whole chain is replayable, a seed is AUDITABLE: the
    * production families sweep a seed set through their own recall
    * audit and commit the argmax ([[graft.ops.SelectedSeeds]], the
    * round-18 "audited number is seed luck" fix) instead of
    * defaulting; "km" remains the diagnostic default every
    * exhaustive-mode gate uses. */
  private[graft] def seedHash(id: Column, seed: String = "km"): Column =
    Dedup.md5TokenHash60(concat(lit(seed), id.cast("string")))

  /** Cross-engine float discipline for the ONE order-ambiguous step in
    * Lloyd training: the per-(cell, position) mean aggregates rows in
    * partition order, so its low bits differ between engines (and
    * runs); rounding each updated coordinate to 6 dp absorbs that ULP
    * drift — the 4-dp-scores-before-ranking convention applied to
    * model parameters. Dot products, norms and seed vectors stay
    * exact: element-order sums are bit-identical everywhere. */
  private[graft] val MeanScale: Int = 6

  /** A driver-side matrix as the (cell, cvec) relation (rows NOT
    * normalized here — [[normalizeRows]] is the assignment-time step,
    * mirroring [[IvfIndex.unitRows]]). */
  def centroidsDf(spark: SparkSession, centroids: Array[Array[Double]]): DataFrame = {
    import spark.implicits._
    centroids.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cvec")
  }

  /** Unit-normalize each centroid row (same arithmetic as
    * [[IvfIndex.unitRows]]: ascending-order sum of squares, zero rows
    * pass through). */
  def normalizeRows(cents: DataFrame): DataFrame = {
    val n = sqrt(aggregate(col("cvec"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    cents.select(col("cell"),
      when(n === 0.0, col("cvec").cast("array<double>"))
        .otherwise(transform(col("cvec"), x => x.cast("double") / n)).as("cvec"))
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

  /** Lloyd's k-means entirely in the relational form: seeds are the
    * same deterministic hash-ordered top-k as [[IvfIndex.train]], each
    * iteration is assign (broadcast join) → per-(cell, position) mean →
    * per-position coalesce against the previous centroid (empty cells
    * and degenerate-vector holes keep their old coordinates — the
    * `byPos.getOrElse` rule, relationally). `localCheckpoint` cuts the
    * per-iteration lineage (the TextRank discipline). Returns the
    * (cell, cvec) relation; nothing larger than the k×dim relation is
    * ever materialized, and none of it on the driver. */
  def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, seed: String = "km"): DataFrame = {
    val w = Window.orderBy(seedHash(col(idCol), seed), col(idCol))
    val seeds = Materialize(corpus
      .orderBy(seedHash(col(idCol), seed), col(idCol)).limit(k)
      .select(col(idCol), col(vecCol))
      .withColumn("cell", (row_number().over(w) - 1).cast("int"))
      .select(col("cell"), col(vecCol).cast("array<double>").as("cvec")))
    Materialize.iterate(seeds, iters) { cents =>
      val asg = assignCells(
        corpus.select(col(idCol), col(vecCol)), idCol, vecCol,
        normalizeRows(cents))
      val means = asg
        .select(col("cell"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(round(avg(col("x").cast("double")), MeanScale).as("m"))
        .groupBy("cell").agg(map_from_arrays(
          collect_list(col("pos")), collect_list(col("m"))).as("byPos"))
      cents.join(means, Seq("cell"), "left")
        .select(col("cell"),
          when(col("byPos").isNull, col("cvec"))
            .otherwise(transform(sequence(lit(0), size(col("cvec")) - 1),
              i => coalesce(element_at(col("byPos"), i),
                element_at(col("cvec"), i + 1)))).as("cvec"))
    }
  }

  /** One driver collect at the END of training (k×dim — the object the
    * small-k expression form needs); the per-iteration loop above never
    * collects. */
  def collectCentroids(cents: DataFrame): Array[Array[Double]] =
    cents.orderBy("cell").collect()
      .map(_.getSeq[Double](1).toArray)
}
