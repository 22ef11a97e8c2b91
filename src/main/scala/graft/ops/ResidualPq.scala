package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Residual-encoded IVF-PQ — the full FAISS IVFADC (Jégou et al.,
  * "Product Quantization for Nearest Neighbor Search", TPAMI 2011,
  * §IV-A): PQ-encode each vector's RESIDUAL from its coarse centroid,
  * v − c(v), instead of the raw vector. [[IvfPq]] composes the two
  * quantizers but encodes absolute positions, so its codebooks spend
  * capacity re-describing WHERE each cell sits — information the cell
  * id already carries. Residuals are zero-centered within-cell offsets
  * with far smaller spread, so the same m×k' code budget buys a much
  * finer reconstruction, and the ADC estimator becomes
  *
  *   score(q, v) ≈ q · (c(v) + r̂(v)) = q·c(v)  +  Σ LUT[sub][code]
  *                   \__ exact, one lookup __/   \__ m lookups __/
  *
  * — the per-cell q·c term is EXACT (one `rotate_project` of the query
  * against the centroid matrix, one `element_at` per probed cell) and
  * only the residual is approximated.
  *
  * Code assignment is TRUE L2 ([[Lloyd.fit]] with
  * [[PqIndex.assignL2]], the augmented-coordinate encode): residuals are zero-centered, exactly the family
  * where the scale-invariant argmax-dot assignment collapses (all
  * directions present, magnitudes load-bearing — the [[Opq]] lesson).
  *
  * Layout, epoch appends and probe are [[CellIndex]]'s: this family
  * brings its encoder and its ADC score (`qc + Σ LUT`), so the same
  * exhaustive-mode argument oracle-gates `ann_ivfpq_res` (all cells
  * probed + uncapped shortlist ≡ brute force). Quantizer shapes here
  * stay below the [[QuantizerRelation.CutoverCells]] reference-object
  * bound; a large-k residual index would route the assignment and
  * encode through the broadcast-relation forms exactly as
  * [[IvfPq.writeIndex]] does.
  *
  * ROTATED residual IVF-PQ — the full FAISS production recipe
  * "OPQ{m},IVF{k},PQ{m}" — is every operation here with `rot`, an
  * [[Opq]] rotation, applied BEFORE the coarse quantizer, so both the
  * cells and the residual codebooks live in the variance-balanced
  * rotated space (the centroids passed in are then rotated-space
  * centroids). The exact re-rank still runs on ORIGINAL vectors (the
  * rotation is orthonormal, the shortlist is the only thing the
  * rotated space decides), so exhaustive mode stays ≡ brute force and
  * the `ann_ivfpq_opq` oracle is the same exact-top-k SQL as every
  * other ANN gate. The rotation is one reference-object matvec fused
  * into the scans that already exist — one extra mat-vec per row at
  * ingest and per query at probe, nothing else. Without `rot` the
  * plans are the plain residual stack's.
  */
object ResidualPq {

  /** `v` in the quantization space: as stored, or rotated by `rot`. */
  private def rotated(v: Column, rot: Option[Array[Array[Double]]]): Column =
    rot.fold(v)(graft.functions.functions.rotate_project(v, _))

  /** Train residual codebooks: assign coarse cells, subtract the cell
    * centroid ([[graft.functions.CellResidualExpr]] — centroid matrix
    * as one reference object), [[Lloyd.fit]] with L2 assignment on
    * the residuals. Deterministic end to end. */
  def trainCodebooks(corpus: DataFrame, centroids: Array[Array[Double]],
      m: Int = 8, k: Int = 16, iters: Int = 2,
      seed: String = "km", rot: Option[Array[Array[Double]]] = None): PqIndex.Codebooks = {
    // Lloyd reads its input for the seeds and once per iteration —
    // materialize the residual pass (rotation, cell assignment k·d
    // matvec and residual) once instead of re-running it per read.
    val resid = Materialize(IvfIndex.assignCells(
        corpus.select(col("id"), rotated(col("vec"), rot).as("vec")),
        "id", "vec", centroids)
      .select(col("id"),
        graft.functions.functions.cell_residual(col("vec"), col(CellIndex.Col),
          IvfIndex.unitRows(centroids), normalize = true).as("v"))
      .filter(col("v").isNotNull))
    Lloyd.fit(resid, m, k, iters, seed)(PqIndex.assignL2)
  }

  /** (cell, id, codes, vec): cells via the coarse quantizer, codes via
    * the L2-assigned residual encode — the augmented residual is ONE
    * fused expression, so the write-time scan stays a flat projection.
    * Cells and codes come from the (rotated) quantization-space vector,
    * the ORIGINAL vector is carried for the exact re-rank. */
  private[ops] def encoded(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, rot: Option[Array[Array[Double]]] = None): DataFrame = {
    val (in, v) =
      if (rot.isEmpty) (corpus.select(col("id"), col("vec")), "vec")
      else (corpus.select(col("id"), col("vec"), rotated(col("vec"), rot).as("rv")), "rv")
    val assigned = IvfIndex.assignCells(in, "id", v, centroids)
    assigned.select(col(CellIndex.Col), col("id"),
      PqIndex.encode(
        graft.functions.functions.cell_residual(col(v), col(CellIndex.Col),
          IvfIndex.unitRows(centroids), normalize = true,
          appendEvery = cb.dsub),
        PqIndex.augmentL2(cb)).as("codes"),
      col("vec"))
  }

  /** Ingest-time: residual-encode and store as a [[CellIndex]]. */
  def writeIndex(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String,
      rot: Option[Array[Array[Double]]] = None): Unit =
    CellIndex.write(encoded(corpus, centroids, cb, rot), path)

  /** Streaming-epoch append with FROZEN quantizers —
    * [[IvfPq.appendIndexEpoch]]'s contract for the residual-encoded
    * layout ([[CellIndex.writeEpoch]]: overwrite per epoch, so a
    * foreachBatch retry replaces its own output). The rotation and both
    * quantizers are passed in and never refit, and the cell-residual of
    * each appended vector is recomputed against those SAME frozen
    * coarse centroids the codebooks were trained on — appended codes
    * therefore live in exactly the residual space of the base index,
    * and an ADC probe scores old and new rows on one footing.
    *
    * An epoch-maintained index is batch-partitioned from birth (every
    * generation written through this method; a full rewrite is
    * `batchId = -1`, the [[Compaction]] base-generation id) — the flat
    * [[writeIndex]] layout and the epoch layout are alternative roots,
    * never mixed under one path. Retraction and compaction reach this
    * layout through the generic `cell=`-nested sweeps
    * (`Retraction.retractAll`, `Compaction.compactAll`) —
    * RetractionSpec/CompactionSpec pin both over a residual-encoded
    * index. */
  def appendIndexEpoch(delta: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String, batchId: Long,
      rot: Option[Array[Array[Double]]] = None): Unit =
    CellIndex.writeEpoch(encoded(delta, centroids, cb, rot), path, batchId)

  /** Probe: [[CellIndex.adcTopK]] with the exact q·centroid term plus
    * the residual LUT sum. With `rot` the QUERY rotates once (cells,
    * q·c term and LUT all read the rotated query); the final re-rank
    * scores ORIGINAL queries against ORIGINAL stored vectors —
    * bit-identical to [[Similarity.bruteForceTopK]] in exhaustive
    * mode. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks,
      k: Int, nProbe: Int, shortlist: Int,
      rot: Option[Array[Array[Double]]] = None): DataFrame = {
    val rq = if (rot.isEmpty) queries
      else queries.select(col("qid"), rotated(col("qvec"), rot).as("qvec"))
    val qb = CellIndex.probeRows(rq, centroids, nProbe, exactQc = true,
      PqIndex.lut(col("qvec"), cb).as("lut"))
    CellIndex.adcTopK(spark, path, queries, qb,
      col("qc") + PqIndex.adcScore(col("codes"), col("lut"), cb.m, cb.k), k, shortlist)
  }
}
