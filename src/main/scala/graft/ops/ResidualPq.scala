package graft.ops

import graft.{EpochStore, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
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
  * Code assignment is TRUE L2 ([[PqIndex.lloydL2]] + the augmented-
  * coordinate encode): residuals are zero-centered, exactly the family
  * where the scale-invariant argmax-dot assignment collapses (all
  * directions present, magnitudes load-bearing — the [[Opq]] lesson).
  *
  * Index layout and probe mechanics are [[IvfPq]]'s verbatim:
  * `cell=<i>/…(id, codes, vec)`, partition-pruned probes, codes-only
  * ADC scan, two-phase shortlist, exact re-rank on original vectors —
  * so the same exhaustive-mode argument oracle-gates `ann_ivfpq_res`
  * (all cells probed + uncapped shortlist ≡ brute force). Quantizer
  * shapes here stay below the [[QuantizerRelation.CutoverCells]]
  * reference-object bound; a large-k residual index would route the
  * assignment and encode through the broadcast-relation forms exactly
  * as [[IvfPq.writeIndex]] does.
  */
object ResidualPq {

  /** Train residual codebooks: assign coarse cells, subtract the cell
    * centroid ([[graft.functions.CellResidualExpr]] — centroid matrix
    * as one reference object), Lloyd with L2 assignment on the
    * residuals. Deterministic end to end. */
  def trainCodebooks(corpus: DataFrame, centroids: Array[Array[Double]],
      m: Int = 8, k: Int = 16, iters: Int = 2,
      seed: String = "km"): PqIndex.Codebooks = {
    val dim = centroids(0).length
    // Lloyd reads its input for the seeds and once per iteration —
    // materialize the residual pass (cell assignment k·d matvec +
    // residual, plus the rotation in the rotated form) once instead of
    // re-running it per read.
    val resid = Materialize(IvfIndex.assignCells(
        corpus.select(col("id"), col("vec")), "id", "vec", centroids)
      .select(col("id"),
        graft.functions.functions.cell_residual(col("vec"), col("cell"),
          IvfIndex.unitRows(centroids), normalize = true).as("v"))
      .filter(col("v").isNotNull))
    PqIndex.lloydL2(resid, dim, m, k, iters, seed)
  }

  /** (cell, id, codes, vec): cells via the coarse quantizer, codes via
    * the L2-assigned residual encode — the augmented residual is ONE
    * fused expression, so the write-time scan stays a flat projection. */
  private[ops] def encoded(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks): DataFrame = {
    val assigned = IvfIndex.assignCells(
      corpus.select(col("id"), col("vec")), "id", "vec", centroids)
    assigned.select(col("cell"), col("id"),
      PqIndex.encode(
        graft.functions.functions.cell_residual(col("vec"), col("cell"),
          IvfIndex.unitRows(centroids), normalize = true,
          appendEvery = cb.dsub),
        PqIndex.augmentL2(cb)).as("codes"),
      col("vec"))
  }

  /** Ingest-time: residual-encode and store partitioned by cell —
    * [[IvfPq.writeIndex]]'s layout (incl. the cluster-by-cell write). */
  def writeIndex(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String): Unit =
    encoded(corpus, centroids, cb)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  // ----------------------------------------------------------------
  // ROTATED residual IVF-PQ — the full FAISS production recipe
  // "OPQ{m},IVF{k},PQ{m}": an [[Opq]] rotation is applied BEFORE the
  // coarse quantizer, so both the cells and the residual codebooks
  // live in the variance-balanced rotated space; the exact re-rank
  // still runs on ORIGINAL vectors (rotation is orthonormal, the
  // shortlist is the only thing the rotated space decides), so
  // exhaustive mode stays ≡ brute force and the `ann_ivfpq_opq`
  // oracle is the same exact-top-k SQL as every other ANN gate.
  // The rotation is one reference-object matvec fused into the same
  // scans that already exist — at 100 TB it costs one extra
  // mat-vec per row at ingest and per query at probe, nothing else.
  // ----------------------------------------------------------------

  /** Train residual codebooks in ROTATED space: rotate, then
    * [[trainCodebooks]] against rotated-space centroids. */
  def trainCodebooksRotated(corpus: DataFrame, rot: Array[Array[Double]],
      centroids: Array[Array[Double]], m: Int = 8, k: Int = 16,
      iters: Int = 2, seed: String = "km"): PqIndex.Codebooks =
    trainCodebooks(
      corpus.select(col("id"),
        graft.functions.functions.rotate_project(col("vec"), rot).as("vec")),
      centroids, m, k, iters, seed)

  /** (cell, id, codes, vec): cells and codes from the ROTATED vector,
    * the ORIGINAL vector carried for the exact re-rank. */
  private def encodedRotated(corpus: DataFrame, rot: Array[Array[Double]],
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks): DataFrame = {
    val withRv = corpus.select(col("id"), col("vec"),
      graft.functions.functions.rotate_project(col("vec"), rot).as("rv"))
    val assigned = IvfIndex.assignCells(withRv, "id", "rv", centroids)
    assigned.select(col("cell"), col("id"),
      PqIndex.encode(
        graft.functions.functions.cell_residual(col("rv"), col("cell"),
          IvfIndex.unitRows(centroids), normalize = true,
          appendEvery = cb.dsub),
        PqIndex.augmentL2(cb)).as("codes"),
      col("vec"))
  }

  /** [[writeIndex]] in rotated space — layout identical
    * (`cell=<i>/…(id, codes, vec)`), so retraction/compaction apply
    * unchanged. */
  def writeIndexRotated(corpus: DataFrame, rot: Array[Array[Double]],
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks,
      path: String): Unit =
    encodedRotated(corpus, rot, centroids, cb)
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** [[topK]] against a [[writeIndexRotated]] store: the QUERY rotates
    * once (cells, exact q·c term and LUT all read the rotated query);
    * the final re-rank scores ORIGINAL queries against ORIGINAL stored
    * vectors — bit-identical to [[Similarity.bruteForceTopK]] in
    * exhaustive mode. */
  def topKRotated(spark: SparkSession, path: String, queries: DataFrame,
      rot: Array[Array[Double]], centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val rq = queries.select(col("qid"),
      graft.functions.functions.rotate_project(col("qvec"), rot).as("qvec"))
    val qb = rq.select(col("qid"),
        explode(IvfIndex.probeCells(col("qvec"), centroids, nProbe)).as("cell"),
        graft.functions.functions.rotate_project(col("qvec"),
          IvfIndex.unitRows(centroids)).as("qcAll"),
        PqIndex.lut(col("qvec"), cb).as("lut"))
      .withColumn("qc", element_at(col("qcAll"), col("cell") + 1))
      .drop("qcAll")
    val probed = qb.select("cell").distinct().collect().map(_.getInt(0))
    val stored = spark.read.parquet(path)
      .filter(col("cell").isin(probed.map(Integer.valueOf).toIndexedSeq: _*))
    val scored = stored.select(col("cell"), col("id"), col("codes"))
      .join(broadcast(qb), Seq("cell"))
      .withColumn("adc",
        col("qc") + PqIndex.adcScore(col("codes"), col("lut"), cb.m, cb.k))
    val shortIds = Similarity.rankPerQuery(scored, col("adc"), shortlist)
      .select(col("qid"), col("id"))
    PqIndex.rerank(shortIds, queries, stored.select(col("id"), col("vec")), k)
  }

  /** [[appendIndexEpoch]] for the ROTATED layout: frozen rotation,
    * frozen coarse centroids, frozen residual codebooks — the epoch
    * discipline is identical (`batch=/cell=`, overwrite per epoch),
    * and since [[writeIndexRotated]]'s layout matches [[writeIndex]]'s,
    * the same retraction/compaction sweeps serve both. */
  def appendIndexEpochRotated(delta: DataFrame, rot: Array[Array[Double]],
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks,
      path: String, batchId: Long): Unit =
    EpochStore.write(
      encodedRotated(delta, rot, centroids, cb).repartition(col("cell")),
      path, batchId, "cell")

  /** Streaming-epoch append with FROZEN quantizers —
    * [[IvfPq.appendIndexEpoch]]'s contract for the residual-encoded
    * layout: the delta lands under `path/batch=<id>/cell=<c>/` in
    * OVERWRITE mode, so a foreachBatch RETRY of an epoch replaces its
    * own prior output instead of appending duplicates. Both quantizers
    * are passed in and never refit, and the cell-residual of each
    * appended vector is recomputed against those SAME frozen coarse
    * centroids the codebooks were trained on — appended codes therefore
    * live in exactly the residual space of the base index, and an ADC
    * probe scores old and new rows on one footing. [[topK]] reads
    * `path` whole: `batch` and `cell` are both partition columns, so
    * the probed-cell filter still prunes directories one level down.
    *
    * An epoch-maintained index is batch-partitioned from birth (every
    * generation written through this method; a full rewrite is
    * `batchId = -1`, the [[Compaction]] base-generation id) — the flat
    * [[writeIndex]] layout and the epoch layout are alternative roots,
    * never mixed under one path. Retraction reaches this layout through
    * the generic machinery (`Retraction.retract(_, dir, "id", ids,
    * nestedPartCols = Seq("cell"))`) and compaction through
    * `Compaction.compactEpochs(_, dir, horizon, nestedPartCols =
    * Seq("cell"))` — RetractionSpec/CompactionSpec pin both over a
    * residual-encoded index. */
  def appendIndexEpoch(delta: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String, batchId: Long): Unit =
    EpochStore.write(encoded(delta, centroids, cb).repartition(col("cell")),
      path, batchId, "cell")

  /** Probe: [[IvfPq.topK]]'s pipeline plus the exact q·centroid term —
    * the query's dot with EVERY cell centroid is one reference-object
    * matvec, and each probed (qid, cell) row picks its term with an
    * `element_at`. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val qb = queries.select(col("qid"),
        explode(IvfIndex.probeCells(col("qvec"), centroids, nProbe)).as("cell"),
        graft.functions.functions.rotate_project(col("qvec"),
          IvfIndex.unitRows(centroids)).as("qcAll"),
        PqIndex.lut(col("qvec"), cb).as("lut"))
      .withColumn("qc", element_at(col("qcAll"), col("cell") + 1))
      .drop("qcAll")
    val probed = qb.select("cell").distinct().collect().map(_.getInt(0))
    val stored = spark.read.parquet(path)
      .filter(col("cell").isin(probed.map(Integer.valueOf).toIndexedSeq: _*))
    val scored = stored.select(col("cell"), col("id"), col("codes"))
      .join(broadcast(qb), Seq("cell"))
      .withColumn("adc",
        col("qc") + PqIndex.adcScore(col("codes"), col("lut"), cb.m, cb.k))
    val shortIds = Similarity.rankPerQuery(scored, col("adc"), shortlist)
      .select(col("qid"), col("id"))
    PqIndex.rerank(shortIds, queries, stored.select(col("id"), col("vec")), k)
  }
}
