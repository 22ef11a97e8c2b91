package graft.streaming

import graft.{EpochStore, Materialize}
import graft.ops.{CellIndex, Dedup, IvfIndex, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SemDeDup ingestion gate — the continuous twin of
  * [[graft.ops.Dedup.semanticProbe]], structured exactly like the
  * MinHash [[IngestGate]]: every arriving micro-batch is (1)
  * semantically deduped WITHIN the batch (two near-identical arrivals
  * in one epoch must not both pass), then (2) probed against the
  * accumulated acceptances, and survivors are appended under their
  * write-time quantizer cell — so batch N+1's probe partition-prunes
  * to its own cells AND sees batch N's acceptances.
  *
  * Incremental cost per batch is the [[Dedup.semanticProbe]] profile:
  * only the batch is quantized, the accepted corpus is re-read only
  * in the batch's probed cells (literal partition filter over the
  * nested `batch=N`/`cell=M` layout), and the quantizer stays FROZEN — the
  * same retrain-policy stance as the gated ANN epochs
  * ([[graft.ops.IvfPq.appendIndexEpoch]]).
  *
  * Replay idempotence: one `batch=<id>` subdirectory per epoch in
  * OVERWRITE mode, and the probe excludes the replayed epoch's own
  * partition — a committed epoch re-delivered by a foreachBatch retry
  * would otherwise self-reject against its prior copy and overwrite
  * its output with an empty directory (the [[IngestGate]] lesson,
  * asserted again in SemanticGateSpec).
  *
  * Boundary semantics (INTENTIONAL, shared with [[IngestGate]]): the
  * in-batch collapse runs BEFORE the corpus probe, so a doc dropped
  * in-batch against an exemplar that the probe then rejects leaves
  * neither copy accepted. At threshold boundaries this over-drops
  * rather than over-admits — the conservative direction for a dedup
  * gate, and the one that keeps replay idempotent (probe-first would
  * make acceptance depend on intra-epoch ordering).
  *
  * Null embeddings: a null (or never-quantizable) vector yields a null
  * cell. Such docs are ACCEPTED unexamined — null cells never join
  * (matching the batch operators, where null keys fall out of the
  * cell self-join) — and are excluded from the probed-cell pushdown
  * list so one bad row cannot NPE the epoch.
  */
object SemanticGate {

  /** Gate ONE batch; returns the number of accepted documents.
    * Extracted from the foreachBatch closure so gating and replay
    * semantics are directly testable. Extra input columns pass
    * through to the accepted sink. */
  def gateBatch(batch: DataFrame, batchId: Long, acceptedDir: String,
      idCol: String, vecCol: String, centroids: Array[Array[Double]],
      threshold: Double): Long = {
    val spark = batch.sparkSession
    // The in-batch quadratic collapse is consumed twice below (probed-cell
    // collect + the final anti-join) — cache it so it runs once per
    // epoch.
    Materialize.cached(
        Dedup.semanticDedup(batch, idCol, vecCol, centroids, threshold)) { inBatch =>
      val survivors = EpochStore.prior(spark, acceptedDir, batchId) match {
        case Some(corpusRaw) =>
          val nb = inBatch.select(
            IvfIndex.bestCell(col(vecCol), centroids).as("cell"),
            col(idCol).as("id2"), col(vecCol).as("v2"))
          val cb = CellIndex.probe(corpusRaw, nb)
            .select(col("cell"), col(vecCol).as("v1"))
          val dupIds = cb.join(nb, Seq("cell"))
            .filter(Similarity.cosine(col("v1"), col("v2")) >= threshold)
            .select(col("id2").as(idCol)).distinct()
          inBatch.join(dupIds, Seq(idCol), "left_anti")
        case None => inBatch
      }
      CellIndex.writeEpoch(
        survivors.withColumn(CellIndex.Col, IvfIndex.bestCell(col(vecCol), centroids)),
        acceptedDir, batchId)
    }
  }

  /** Run the gate over a streaming embedding feed. */
  def start(docs: DataFrame, acceptedDir: String, checkpointDir: String,
      idCol: String, vecCol: String, centroids: Array[Array[Double]],
      threshold: Double): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "SemanticGate.start",
      "Dedup.semanticProbe") { (b, id) =>
      gateBatch(b, id, acceptedDir, idCol, vecCol, centroids, threshold)
    }
}
