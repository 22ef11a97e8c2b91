package graft.streaming

import graft.EpochStore
import graft.ops.LanguageModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CCNet-style PERPLEXITY gate — the continuous twin of
  * [[LanguageModel.perplexityBuckets]]'s head/middle/tail cut, in the
  * frozen-model family next to [[DsirGate]]/[[IngestGate]]: every
  * arriving micro-batch is scored against a KN language model trained
  * ONCE on the reference slice, assigned a tier by the FROZEN cut
  * values, and only documents at or below `maxBand` (CCNet keeps the
  * head, sometimes head+middle) are appended.
  *
  * What freezes, and why it is sound:
  *
  *   - The LM is trained at gate start from static reference data (the
  *     frozen-quantizer stance — scores stay comparable across epochs
  *     because the model cannot drift under the stream).
  *   - The CUTS are the batch operator's by-value band thresholds,
  *     computed once over a static calibration corpus and carried as
  *     `bands − 1` plain doubles — driver scalars like the SQ bounds.
  *     CCNet does exactly this: percentile cuts come from a one-off
  *     pass over a sample, production shards are gated by VALUE.
  *
  * Per batch the scoring IS the batch operator ([[LanguageModel
  * .perplexityKn]] + the same `nll > cut` fold), so the twin property
  * is by construction. Replay idempotence: one OVERWRITE
  * `batch=<id>` partition per epoch ([[graft.EpochStore]]).
  *
  * Boundary: a document with no bigrams (< 2 tokens) has no
  * perplexity evidence and is REJECTED (the [[DsirGate]] direction;
  * the batch operator leaves the same docs unscored/absent).
  */
object PplGate {

  /** The frozen gate model: the reference LM + the by-value band cuts
    * (ascending nll). */
  final case class FrozenGate(lm: LanguageModel.KnBigramLm,
      cuts: Seq[Double])

  /** Train the LM on `ref` and freeze the band cuts from a calibration
    * corpus scored under it (the batch operator's histogram path). */
  def freeze(ref: DataFrame, calibration: DataFrame, idCol: String,
      textCol: String, bands: Int = 3): FrozenGate = {
    val lm = LanguageModel.trainKnBigramLm(ref, textCol)
    val ppl = LanguageModel.perplexityKn(calibration, idCol, textCol, lm)
    // the batch operator's own cut computation — `bands − 1` driver
    // scalars, so frozen ≡ batch is by construction, not by recovery
    FrozenGate(lm, LanguageModel.perplexityCuts(ppl, bands))
  }

  /** Gate ONE batch; returns the number of accepted documents. */
  def gateBatch(batch: DataFrame, batchId: Long, acceptedDir: String,
      idCol: String, textCol: String, gate: FrozenGate,
      maxBand: Int): Long = {
    val scored = LanguageModel.perplexityKn(batch, idCol, textCol, gate.lm)
    val keptIds = scored.withColumn("band",
        LanguageModel.bandOfCuts(gate.cuts))
      .filter(col("band") <= maxBand)
      .select(col("id").as(idCol))
    EpochStore.write(batch.join(keptIds, Seq(idCol), "left_semi"),
      acceptedDir, batchId)
  }

  /** Run the gate over a streaming document feed. */
  def start(docs: DataFrame, acceptedDir: String, checkpointDir: String,
      idCol: String, textCol: String, gate: FrozenGate,
      maxBand: Int): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "PplGate.start",
      "perplexityBuckets + a filter") { (b, id) =>
      gateBatch(b, id, acceptedDir, idCol, textCol, gate, maxBand)
    }
}
