package graft.ops

import graft.EpochStore
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
  * Index layout on disk: `cell=<i>/…parquet(id, codes, vec)` — one
  * directory per coarse cell (partition pruning), codes and vectors as
  * separate columns in the same files (parquet's columnar layout makes
  * the ADC scan codes-only; PqIndexSpec/IvfPqSpec gate the ReadSchema).
  *
  * Correctness gate: with every cell probed and an uncapped shortlist,
  * the pipeline must reproduce brute force exactly (IvfPqSpec) — the
  * same exhaustive-mode argument that oracle-gates `ann_ivf` and
  * `ann_pq` individually.
  */
object IvfPq {

  /** Ingest-time: assign cells, encode codes, store partitioned by
    * cell. Both assignments are computed once, at write time — and
    * both route through their large-codebook cutovers
    * ([[IvfIndex.assignCells]] for the coarse cells,
    * [[PqIndex.encodeDispatch]] for the codes): this is the
    * corpus-sized pass where the task-binary-vs-broadcast distinction
    * bites. Layout is cutover-invariant (IvfPqSpec / PqRelationSpec). */
  def writeIndex(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String,
      cutoverCells: Int = QuantizerRelation.CutoverCells): Unit =
    encodeBoth(corpus, centroids, cb, cutoverCells, "id", "vec")
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** (cell, id, codes, vec) through both cutover dispatches, clustered
    * by cell for the partitioned write (the [[IvfIndex.writeIndexed]]
    * file-explosion rationale). */
  private def encodeBoth(corpus: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, cutoverCells: Int,
      idCol: String, vecCol: String): DataFrame = {
    val assigned = IvfIndex.assignCells(
      corpus.select(col(idCol).as("id"), col(vecCol).as("vec")),
      "id", "vec", centroids, "cell", cutoverCells)
    PqIndex.encodeDispatch(assigned, "id", "vec", cb, cutoverCells)
      .select(col("cell"), col("id"), col("codes"), col("vec"))
      .repartition(col("cell"))
  }

  /** Incremental maintenance: encode a DELTA batch with the EXISTING
    * quantizers and append it into the partitioned layout — the daily
    * ingest path at warehouse scale. No retraining, no rewrite: parquet
    * append adds new files inside each touched `cell=` directory and
    * never touches existing ones, so a concurrent prober keeps reading
    * a consistent (slightly stale) index. Codebook drift under a
    * shifting embedding distribution is handled by periodic
    * retrain + [[writeIndex]] rewrite, not per-batch (the quantizers
    * are frozen BETWEEN rewrites by design — recall degrades gradually
    * and measurably, assignments never flap). */
  def appendIndex(delta: DataFrame, centroids: Array[Array[Double]],
      cb: PqIndex.Codebooks, path: String,
      cutoverCells: Int = QuantizerRelation.CutoverCells): Unit =
    encodeBoth(delta, centroids, cb, cutoverCells, "id", "vec")
      .write.mode("append").partitionBy("cell").parquet(path)

  /** Streaming-epoch variant of [[appendIndex]]: the delta lands under
    * `path/batch=<id>/cell=<c>/` in OVERWRITE mode, so a foreachBatch
    * RETRY of an epoch replaces its own prior output instead of
    * appending duplicates (the [[graft.streaming.IngestGate]] sink
    * discipline applied to the ANN index — plain `append` mode cannot
    * be replay-idempotent). Probes read `path` whole: `batch` and
    * `cell` are both partition columns, so the probed-cell filter still
    * prunes directories, just one level down.
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
      cb: PqIndex.Codebooks, path: String, batchId: Long,
      idCol: String = "id", vecCol: String = "vec",
      cutoverCells: Int = QuantizerRelation.CutoverCells): Unit =
    EpochStore.write(
      encodeBoth(delta, centroids, cb, cutoverCells, idCol, vecCol),
      path, batchId, "cell")

  /** Probe a [[writeIndex]] corpus: `nProbe` cells per query pushed as
    * a literal partition filter; ADC over (id, codes) inside the probed
    * cells; per-query shortlist; exact cosine re-rank. */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      centroids: Array[Array[Double]], cb: PqIndex.Codebooks,
      k: Int, nProbe: Int, shortlist: Int,
      cutoverCells: Int = QuantizerRelation.CutoverCells): DataFrame = {
    // LUT through the codebook-form dispatch (the probe-cell explode
    // stays an expression — it touches only the small query side)
    val qb = queries.select(col("qid"),
        explode(IvfIndex.probeCells(col("qvec"), centroids, nProbe)).as("cell"))
      .join(PqIndex.lutDispatch(queries, cb, cutoverCells), Seq("qid"))
    val probed = qb.select("cell").distinct().collect().map(_.getInt(0))
    val stored = spark.read.parquet(path)
      .filter(col("cell").isin(probed.map(Integer.valueOf).toIndexedSeq: _*))
    // ADC stage: (cell, id, codes) joined to the broadcast query probes
    // on cell — each corpus row lives in exactly one cell, so no
    // candidate de-dup is needed (unlike multi-table LSH). Shortlist cut
    // is two-phase (Similarity.rankPerQuery) so the qid-only window only
    // sorts phase-1 survivors, never a query's whole probed-cell scan.
    val scored = stored.select(col("cell"), col("id"), col("codes"))
      .join(broadcast(qb), Seq("cell"))
      .withColumn("adc", PqIndex.adcScore(col("codes"), col("lut"), cb.m, cb.k))
    val shortIds = Similarity.rankPerQuery(scored, col("adc"), shortlist)
      .select(col("qid"), col("id"))
    PqIndex.rerank(shortIds, queries, stored.select(col("id"), col("vec")), k)
  }
}
