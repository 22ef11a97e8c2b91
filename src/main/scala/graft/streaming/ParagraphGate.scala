package graft.streaming

import graft.{EpochStore, Materialize}
import graft.ops.{Chunking, Dedup}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming PARAGRAPH-dedup gate — the continuous twin of
  * [[Chunking.dedupParagraphs]], in the accumulated-store family next
  * to [[IngestGate]]: Dolma runs paragraph dedup AT INGEST (every
  * arriving document's blocks are checked against everything already
  * accepted), and this is that shape. Per micro-batch:
  *
  *   1. the batch is chunked into `window`-token blocks and collapsed
  *      WITHIN the batch (keep-first by (id, idx) — two copies arriving
  *      together must not both pass);
  *   2. in-batch survivors are probed against the accumulated
  *      paragraph-KEY store (md5-60 block keys of every block accepted
  *      so far) — an anti-join on the key, so a block any earlier epoch
  *      accepted is dropped from the arriving document;
  *   3. surviving blocks reassemble into the accepted rebuilt documents
  *      ([[Chunking.rebuildFromKept]] — a fully-deduplicated document
  *      stays in the census with n_kept = 0), and their keys append to
  *      the store, so batch N+1's probe sees batch N's acceptances.
  *
  * Incremental cost per batch: only the BATCH is chunked and keyed; the
  * store probe is one key equi-join (batch side batch-sized; at
  * warehouse scale the store is the narrow key relation, one 8-byte
  * hash per accepted block). The accumulated corpus is never re-read.
  *
  * Replay idempotence ([[graft.EpochStore]]'s rules): both sinks write
  * one OVERWRITE `batch=<id>` partition per epoch, and the probe
  * excludes `batch = batchId` from the store read — a foreachBatch
  * retry of a committed epoch would otherwise find its own keys and
  * reject the whole epoch, then overwrite its committed output with
  * fully-emptied documents.
  *
  * Batch ≡ stream: the gate's per-epoch computation IS the batch
  * operator's chunk → keep-first → reassemble chain, restricted by the
  * store — the `text_paragraph_dedup_inc` oracle replays the whole
  * composition (corpus store + gated batch) in one DuckDB query.
  */
object ParagraphGate {

  /** Gate ONE batch. Returns the number of accepted (kept) blocks.
    * Extracted from the foreachBatch closure so gating semantics and
    * idempotence are directly testable. */
  def gateBatch(batch: DataFrame, batchId: Long, keyDir: String,
      acceptedDir: String, idCol: String, textCol: String,
      window: Int = 20): Long = {
    val spark = batch.sparkSession
    Materialize.cached(Chunking.paragraphChunks(batch, idCol, textCol, window)
        .withColumn("key", Dedup.md5TokenHash60(col("chunk")))) { chunks =>
      // (1) in-batch keep-first collapse (the batch operator's rank)
      val w = Window.partitionBy(col("key")).orderBy(col("id"), col("idx"))
      val firsts = chunks.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1).drop("rk")
      // (2) probe the accumulated key store, excluding this epoch
      val survivors = EpochStore.prior(spark, keyDir, batchId) match {
        case Some(store) =>
          firsts.join(store.select("key"), Seq("key"), "left_anti")
        case None => firsts
      }
      Materialize.cached(survivors) { kept =>
        // overwrite-by-epoch: a replayed batch replaces its own output
        EpochStore.write(Chunking.rebuildFromKept(chunks, kept)
          .withColumnRenamed("id", idCol), acceptedDir, batchId)
        EpochStore.write(kept.select("key"), keyDir, batchId)
      }
    }
  }

  /** Run the gate over a streaming document feed. */
  def start(docs: DataFrame, keyDir: String, acceptedDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", window: Int = 20): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "ParagraphGate.start",
      "Chunking.dedupParagraphs") { (b, id) =>
      gateBatch(b, id, keyDir, acceptedDir, idCol, textCol, window)
    }
}
