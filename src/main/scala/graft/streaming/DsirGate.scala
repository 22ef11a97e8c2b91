package graft.streaming

import graft.EpochStore
import graft.ops.Dsir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming DSIR ingestion gate — the continuous twin of
  * [[graft.ops.Dsir.logWeights]] + a threshold cut, structured like the
  * MinHash [[IngestGate]] / [[SemanticGate]] family: every arriving
  * micro-batch is scored against a FROZEN importance model and only
  * documents at least `threshold` log-likely under the target domain
  * are appended. The production shape of "admit web data that reads
  * like the curated slice" at ingest time, instead of re-selecting the
  * whole corpus per refresh.
  *
  * The model is frozen at gate start ([[Dsir.FrozenModel]] — the
  * ≤ `buckets` (bucket, llr) rows collected once), the same
  * retrain-policy stance as the gated ANN epochs' frozen quantizers:
  * scores are comparable across epochs because the model cannot drift
  * under the stream. Scoring per batch IS the batch operator —
  * [[Dsir.logWeights]] over the micro-batch with the rebuilt tiny
  * ratios relation — so the twin property is by construction, not by a
  * parallel implementation.
  *
  * Replay idempotence: one `batch=<id>` subdirectory per epoch in
  * OVERWRITE mode ([[graft.EpochStore]]) — scoring is
  * stateless across epochs, so a foreachBatch retry simply rewrites
  * the identical partition.
  *
  * Boundary semantics: a document with < 2 tokens has NO features, no
  * evidence of target-likeness, and is REJECTED (a quality gate's
  * conservative direction; the batch query leaves the same docs
  * unscored/absent).
  */
object DsirGate {

  /** Gate ONE batch; returns the number of accepted documents. Extra
    * input columns pass through to the accepted sink. */
  def gateBatch(batch: DataFrame, batchId: Long, acceptedDir: String,
      idCol: String, textCol: String, model: Dsir.FrozenModel,
      threshold: Double): Long = {
    val scored = Dsir.logWeights(batch, idCol, textCol,
      model.thaw(batch.sparkSession))
    val keptIds = scored.filter(col("logw") >= threshold)
      .select(col("id").as(idCol))
    EpochStore.write(batch.join(keptIds, Seq(idCol), "left_semi"),
      acceptedDir, batchId)
  }

  /** Run the gate over a streaming document feed. */
  def start(docs: DataFrame, acceptedDir: String, checkpointDir: String,
      idCol: String, textCol: String, model: Dsir.FrozenModel,
      threshold: Double): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "DsirGate.start",
      "Dsir.logWeights + a filter") { (b, id) =>
      gateBatch(b, id, acceptedDir, idCol, textCol, model, threshold)
    }
}
