package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.bridge
import graft.functions.SqDotExpr

/** IVF-SQ8 — FAISS's `"IVF{k},SQ8"` composition, completing the
  * coarse-quantizer × fine-code matrix next to [[IvfPq]] (absolute PQ),
  * [[ResidualPq]] (residual PQ / IVFADC) and its rotated form: cells
  * from the coarse k-means, each vector's unit-sphere residual
  * scalar-quantized to one byte per dimension ([[Sq]]). Where the PQ
  * family trades per-dimension resolution for 32–64× compression, SQ8
  * keeps every dimension at a flat 4× cut — the index you pick when
  * scan bandwidth (not index size) is the binding constraint and recall
  * must stay near-exact.
  *
  * The score decomposition is [[ResidualPq]]'s verbatim:
  *
  *   score(q, v) ≈ q·c(v) + q·r̂(v) = q·c(v)  +  Σ qᵢ · decode(codeᵢ)
  *                  \__ exact __/     \__ one fused sq_dot loop __/
  *
  * — the per-cell q·c term is exact (one `rotate_project` of the query
  * against the centroid matrix + `element_at` per probed cell), and
  * only the residual is approximated, now per-dimension instead of
  * per-subspace.
  *
  * Layout, epoch appends and probe are [[CellIndex]]'s: this family
  * brings its encoder and its ADC score (`qc + sq_dot`), quantizers
  * stay frozen on epoch appends, and retraction and compaction reach
  * the store through the generic `cell=`-nested sweeps. Exhaustive mode
  * is brute force ([[CellIndex]]; `ann_ivfsq`).
  */
object IvfSq {

  /** Train residual SQ bounds: assign coarse cells, subtract the cell
    * centroid (unit-sphere residual — the [[ResidualPq]] convention, so
    * the two residual indexes quantize the SAME geometry), then one
    * per-dimension min/max aggregation. */
  def trainBounds(corpus: DataFrame, centroids: Array[Array[Double]]): Sq.SqBounds = {
    val resid = IvfIndex.assignCells(
        corpus.select(col("id"), col("vec")), "id", "vec", centroids)
      .select(graft.functions.functions.cell_residual(col("vec"), col("cell"),
        IvfIndex.unitRows(centroids), normalize = true).as("v"))
      .filter(col("v").isNotNull)
    Sq.train(resid, "v")
  }

  /** (cell, id, codes, vec): cells via the coarse quantizer, codes the
    * SQ8 encode of the unit-sphere residual — one fused expression
    * chain, a flat write-time projection. */
  private[ops] def encoded(corpus: DataFrame, centroids: Array[Array[Double]],
      b: Sq.SqBounds): DataFrame = {
    val assigned = IvfIndex.assignCells(
      corpus.select(col("id"), col("vec")), "id", "vec", centroids)
    assigned.select(col("cell"), col("id"),
      Sq.encode(
        graft.functions.functions.cell_residual(col("vec"), col("cell"),
          IvfIndex.unitRows(centroids), normalize = true),
        b).as("codes"),
      col("vec"))
  }

  /** Ingest-time: residual-SQ-encode and store as a [[CellIndex]]. */
  def writeIndex(corpus: DataFrame, centroids: Array[Array[Double]],
      b: Sq.SqBounds, path: String): Unit =
    CellIndex.write(encoded(corpus, centroids, b), path)

  /** Streaming-epoch append with FROZEN quantizers — the
    * [[ResidualPq.appendIndexEpoch]] contract: centroids and bounds
    * never refit, so appended codes live in exactly the base index's
    * residual space. */
  def appendIndexEpoch(delta: DataFrame, centroids: Array[Array[Double]],
      b: Sq.SqBounds, path: String, batchId: Long): Unit =
    CellIndex.writeEpoch(encoded(delta, centroids, b), path, batchId)

  /** Probe: [[CellIndex.adcTopK]] with the exact q·centroid term plus
    * the fused `sq_dot` of the query against the residual codes. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      centroids: Array[Array[Double]], b: Sq.SqBounds,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val qb = CellIndex.probeRows(queries, centroids, nProbe, exactQc = true, col("qvec"))
    CellIndex.adcTopK(spark, path, queries, qb,
      col("qc") + bridge.column(SqDotExpr(
        bridge.expression(col("qvec")), bridge.expression(col("codes")),
        b.lo, b.hi)), k, shortlist)
  }
}
