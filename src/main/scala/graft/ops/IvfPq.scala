package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ: the composed warehouse-scale ANN index — [[IvfIndex]]'s
  * coarse cells pick WHICH rows a probe touches (partition pruning),
  * [[PqIndex]]'s codes decide HOW CHEAPLY each touched row is scored
  * (m-byte ADC instead of full-vector cosine). The two levers are
  * independent, which is exactly why production systems (FAISS's
  * IVFPQ, per Jégou et al. 2011) compose them:
  *
  *   probe cost ≈ (probed fraction of corpus) × (bytes scored per row)
  *
  * IVF alone still drags full vectors through the probed cells; PQ
  * alone still scans every row's codes. Composed, a 100 TB corpus
  * probing 2 of 1024 cells reads ~0.2% of rows at ~3% of the bytes
  * per row — and the exact re-rank fetches true vectors for shortlist
  * rows only.
  *
  * The store is a [[CellIndex]] of (cell, id, codes, vec) — codes and
  * vectors as separate columns in the same files, so parquet's
  * columnar layout makes the ADC scan codes-only (PqIndexSpec/IvfPqSpec
  * gate the ReadSchema) — and is probed through [[CellIndex.adcTopK]].
  *
  * Correctness gate: with every cell probed and an uncapped shortlist,
  * the pipeline must reproduce brute force exactly (IvfPqSpec) — the
  * same exhaustive-mode argument that oracle-gates `ann_ivf` and
  * `ann_pq` individually.
  */
object IvfPq {

  /** Ingest-time: assign cells, encode codes, store as a [[CellIndex]].
    * Both assignments are computed once, at write time — and both route
    * through their large-codebook cutovers ([[IvfIndex.assignCells]] for
    * the coarse cells, [[PqIndex.encodeDispatch]] for the codes): this
    * is the corpus-sized pass where the task-binary-vs-broadcast
    * distinction bites. Layout is cutover-invariant (IvfPqSpec /
    * PqRelationSpec). */
  def writeIndex(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String): Unit =
    CellIndex.write(encoded(corpus, centroids, cb), path)

  /** (cell, id, codes, vec) of (id, vec) rows through both cutover
    * dispatches. */
  private def encoded(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks): DataFrame = {
    val assigned = IvfIndex.assignCells(corpus.select(col("id"), col("vec")),
      "id", "vec", centroids)
    PqIndex.encodeDispatch(assigned, "id", "vec", cb)
      .select(col(CellIndex.Col), col("id"), col("codes"), col("vec"))
  }

  /** Incremental maintenance: encode a DELTA batch of (id, vec) rows
    * with the EXISTING quantizers and land it as one epoch of the store
    * ([[CellIndex.writeEpoch]]): the delta lands under
    * `path/batch=<id>/cell=<c>/` in OVERWRITE mode, so a foreachBatch
    * RETRY of an epoch replaces its own prior output instead of
    * appending duplicates (the [[graft.streaming.IngestGate]] sink
    * discipline applied to the ANN index — plain `append` mode cannot
    * be replay-idempotent), and earlier epochs' files are never
    * touched. Probes read `path` whole: `batch` and `cell` are both
    * partition columns, so the probed-cell filter still prunes
    * directories, just one level down. An epoch-maintained index is
    * batch-partitioned from birth (a full write lands at
    * [[graft.EpochStore.BaseEpoch]]); the flat [[writeIndex]] layout
    * and the epoch layout are alternative roots, never mixed.
    *
    * Quantizers stay FROZEN across epochs (passed in, never refit) —
    * assignments never flap, recall degrades gradually as the embedding
    * distribution drifts. Retrain trigger, documented contract: rebuild
    * via [[IvfPq.writeIndex]] when appended rows since the last full
    * rewrite exceed ~20% of the rewritten corpus, or when the appended
    * deltas' mean best-cell cosine drops materially below the trained
    * corpus's (both computable from the index itself: row counts per
    * `batch`, scores from a sampled re-assignment pass). For the
    * AUTOMATED form of this loop — cell-occupancy PSI trigger,
    * epoch-folded reseed, crash-safe quantizer+data swap — see
    * [[IvfMaintain]], which closes the trigger for the managed raw-IVF
    * store; the codes-only PQ layout keeps the manual contract because
    * a retrain needs the original vectors, which this store by design
    * does not carry. */
  def appendIndexEpoch(delta: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String, batchId: Long): Unit =
    CellIndex.writeEpoch(encoded(delta, centroids, cb), path, batchId)

  /** Probe a [[writeIndex]] or epoch store: [[CellIndex.adcTopK]] with
    * the plain ADC score of each query's LUT (built through the
    * codebook-form dispatch; the probe-cell explode stays an expression
    * — it touches only the small query side). */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks,
      k: Int, nProbe: Int, shortlist: Int): DataFrame = {
    val qb = CellIndex.probeRows(queries, centroids, nProbe, exactQc = false)
      .join(PqIndex.lutDispatch(queries, cb), Seq("qid"))
    CellIndex.adcTopK(spark, path, queries, qb,
      PqIndex.adcScore(col("codes"), col("lut"), cb.m, cb.k), k, shortlist)
  }
}
