package graft.streaming

import graft.EpochStore
import graft.ops.Bpe
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming per-document token budgets under a FROZEN BPE tokenizer —
  * the continuous twin of [[Bpe.encodeStats]] (`text_bpe_encode`), in
  * the [[DsirGate]] family: every arriving micro-batch's documents get
  * their subword counts appended to the budget sink, the number the
  * streaming shard packer and mix planner consume. The merge list is
  * frozen at stream start (the frozen-quantizer stance — budgets stay
  * comparable across epochs because the tokenizer cannot drift), and
  * scoring is [[Bpe.encodeStatsFrozen]]: the fold-of-replaces
  * segmentation, so an out-of-vocabulary word arriving mid-stream
  * segments the way a real tokenizer would instead of silently
  * dropping from the vocabulary join.
  *
  * Replay idempotence: one `batch=<id>` subdirectory per epoch in
  * OVERWRITE mode ([[graft.EpochStore]]) — budgets are stateless
  * per document, so a foreachBatch retry rewrites its own partition.
  */
object TokenBudgetStream {

  /** Budget ONE batch; returns the number of documents written. */
  def statsBatch(batch: DataFrame, batchId: Long, sinkDir: String,
      idCol: String, textCol: String, merges: Seq[Bpe.Merge]): Long =
    EpochStore.write(Bpe.encodeStatsFrozen(batch, idCol, textCol, merges)
      .withColumnRenamed("id", idCol), sinkDir, batchId)

  /** Run the budget sink over a streaming document feed. */
  def start(docs: DataFrame, sinkDir: String, checkpointDir: String,
      idCol: String, textCol: String, merges: Seq[Bpe.Merge]): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "TokenBudgetStream.start",
      "Bpe.encodeStats") { (b, id) =>
      statsBatch(b, id, sinkDir, idCol, textCol, merges)
    }
}
