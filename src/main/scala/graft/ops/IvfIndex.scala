package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) approximate nearest neighbor: a coarse quantizer
  * partitions the corpus into cells; queries probe only the `nProbe`
  * nearest cells and re-rank exactly inside them.
  *
  * The quantizer is deterministic k-means (seeded sample init + a fixed
  * number of Lloyd iterations, all computed distributed; only the k×dim
  * centroid matrix ever reaches the driver). At warehouse scale the
  * cell assignment is computed at ingest and the corpus stored
  * partitioned by cell, so a probe is partition pruning + a small scan;
  * here assignment is inline.
  */
object IvfIndex {

  /** Unit-normalize centroid rows once on the driver: the dot against a
    * unit row gives the same ORDER over cells as the full cosine (the
    * 1/‖vec‖ factor is constant per row), so neither scan-side division
    * nor per-centroid norms are needed. Zero rows pass through as-is
    * (dot 0 against everything, matching the old guarded division). */
  private[graft] def unitRows(centroids: Array[Array[Double]]): Array[Array[Double]] =
    centroids.map { c =>
      val n = math.sqrt(c.map(x => x * x).sum)
      if (n == 0) c.clone() else c.map(_ / n)
    }

  /** Index of the best (max-cosine) centroid for a vector column.
    *
    * Centroids-as-DATA (round-10 directive #3): ONE
    * [[graft.functions.BestCellExpr]] carrying the k×dim matrix as a
    * JVM reference — generated code is a fixed nested loop, O(1) in k,
    * so a production k ≈ 10⁴ quantizer stays inside whole-stage codegen
    * (the old k-literal unrolling hit the JVM 64 KB method cap;
    * CentroidExprsSpec pins k=256 with codegen present). Beyond k ≈ 10⁴
    * (matrix tens of MB, too fat to ride the serialized plan per task
    * binary) the right formulation changes to a broadcast centroid
    * RELATION + join — FAISS's coarse-quantizer-as-data line —
    * implemented in [[QuantizerRelation]] and selected automatically by
    * [[assignCells]]. */
  def bestCell(vec: Column, centroids: Array[Array[Double]]): Column = {
    require(centroids.nonEmpty, "empty centroid matrix")
    graft.functions.functions.best_cell(vec, unitRows(centroids))
  }

  /** Cell assignment with the form chosen by k: below
    * [[QuantizerRelation.CutoverCells]] the zero-exchange
    * [[bestCell]] expression (matrix on the plan, argmax in codegen);
    * at or above it, the [[QuantizerRelation.assignCells]] broadcast
    * join (matrix rides a `BroadcastExchange` once, wire cost one row
    * per doc). Both forms are semantics-identical — ties, degenerate
    * vectors, null vectors — pinned at k=1024 in
    * QuantizerRelationSpec. */
  def assignCells(df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], outCol: String = "cell"): DataFrame =
    if (centroids.length < QuantizerRelation.CutoverCells)
      df.withColumn(outCol, bestCell(col(vecCol), centroids))
    else
      QuantizerRelation.assignCells(df, idCol, vecCol,
        QuantizerRelation.centroidsDf(df.sparkSession, unitRows(centroids)),
        outCol)

  /** The `nProbe` best cells for a query vector, as an array column
    * (ascending (score, index) order — the `array_sort` tail contract
    * of the literal formulation this replaces). */
  def probeCells(vec: Column, centroids: Array[Array[Double]], nProbe: Int): Column = {
    require(centroids.nonEmpty, "empty centroid matrix")
    graft.functions.functions.probe_cells(vec, unitRows(centroids), nProbe)
  }

  /** Train a deterministic coarse quantizer: [[Lloyd.fit]] as the
    * m = 1 product quantizer — hash-ordered seed vectors, then `iters`
    * Lloyd iterations of [[assignCells]] (the expression below the
    * cutover, the broadcast relation at or above it) and one
    * per-(cell, dim) mean. Returns k×dim centroids; only they reach the
    * driver. Seeding MUST NOT assume anything about id layout: the
    * previous `id mod (n/k) == 0` scheme silently selected ZERO rows on
    * sparse shifted ids (sf1 replicas live at c×1e8 + base, and no id
    * in the corpus was divisible by the step), killing training while
    * the bench misread the instant failure as a fast run.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      iters: Int = 2, seed: String = "km"): Array[Array[Double]] =
    Lloyd.fit(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        1, k, iters, seed) { (rows, cb) =>
      assignCells(rows, "id", "v", cb.books(0)).withColumn("codes", array(col("cell")))
    }.books(0)

  /** IVF top-k: assign corpus to cells, probe `nProbe` cells per query,
    * exact cosine re-rank inside the probed cells. */
  def topK(queries: DataFrame, corpus: DataFrame, centroids: Array[Array[Double]],
      k: Int, nProbe: Int): DataFrame = {
    val cb = corpus.withColumn("cell", bestCell(col("vec"), centroids))
    val qb = queries.withColumn("cell",
      explode(probeCells(col("qvec"), centroids, nProbe)))
    probeJoin(cb, qb, k)
  }

  private def probeJoin(cb: DataFrame, qb: DataFrame, k: Int): DataFrame = {
    // Two-phase rank (Similarity.rankPerQuery): the qid-only window
    // never sees the full scored candidate set — phase 1 prunes inside
    // (qid, salt-bucket) first, so the final sort is over ≤ salt×k rows
    // per query instead of every scored row of every probed cell.
    val scored = cb.join(broadcast(qb), Seq("cell"))
      .withColumn("score", Similarity.cosine(col("qvec"), col("vec")))
    Similarity.rankPerQuery(scored, col("score"), k)
      .select(col("qid"), col("id"), col("score"), col("rank"))
  }

  /** Ingest-time half of the IVF design: store the corpus parquet-
    * partitioned by cell, so probes become partition pruning instead of
    * a full scan. Cell assignment is computed once, at write time —
    * and this is the corpus-sized side where the large-k cutover
    * matters most, so assignment routes through [[assignCells]] (the
    * expression below the cutover, the broadcast relation above it;
    * identical cells either way, so the layout is cutover-invariant —
    * IvfIndexSpec pins it). Input contract: (id, vec) columns, `id`
    * unique. */
  def writeIndexed(corpus: DataFrame, centroids: Array[Array[Double]],
      path: String): Unit =
    CellIndex.write(assignCells(corpus, "id", "vec", centroids), path)

  /** Probe a [[writeIndexed]] corpus: the probed cell ids (at most
    * queries × nProbe ints — queries are small by contract) are
    * collected and pushed as a literal partition filter
    * ([[CellIndex.probe]]), so the scan touches ONLY the probed cells'
    * directories (IvfIndexSpec gates `PartitionFilters` in the plan and
    * result-equality with the inline [[topK]]). This is the 100 TB
    * probe path: cost scales with the probed fraction of the corpus,
    * never the corpus.
    */
  def topKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, centroids: Array[Array[Double]],
      k: Int, nProbe: Int): DataFrame =
    topKIndexedFiltered(spark, path, queries, centroids, k, nProbe, lit(true))

  /** METADATA-FILTERED probe of a [[writeIndexed]] corpus — the
    * "filtered vector search" every production retrieval system needs
    * (only rows matching a relational predicate may rank). This is the
    * PRE-filter formulation: the predicate is applied to the indexed
    * scan itself, so BOTH prunings compose in one FileScan — the probed
    * cells as `PartitionFilters` (directory pruning) and the metadata
    * predicate as `PushedFilters` (row-group stats pruning on the
    * non-vector column). Scoring touches only rows that survive both,
    * so a 1%-selective predicate cuts the scored set 100× BEFORE any
    * distance math; a post-filter would score everything and then
    * starve top-k of qualified rows. Exact within the probed cells
    * (exhaustive probe ⇒ exactly brute-force-over-filtered —
    * `ann_filtered`'s oracle; plan shape gated in IvfIndexSpec). */
  def topKIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, centroids: Array[Array[Double]],
      k: Int, nProbe: Int, predicate: Column): DataFrame = {
    val qb = queries.withColumn(CellIndex.Col,
      explode(probeCells(col("qvec"), centroids, nProbe)))
    probeJoin(CellIndex.probe(spark.read.parquet(path), qb).filter(predicate), qb, k)
  }
}
