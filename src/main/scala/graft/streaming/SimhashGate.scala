package graft.streaming

import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SIMHASH ingestion gate — Manku WWW'07's actual production
  * setting ("detecting near-duplicates for web CRAWLING"): reject an
  * arriving page whose 60-bit signature sits within Hamming distance
  * `maxDist` of any already-stored page, in the accumulated-store gate
  * family next to [[IngestGate]] (banded Jaccard), [[ContainmentGate]]
  * (quotes/supersets) and [[ParagraphGate]] (block granularity). The
  * simhash gate is the cheapest of the four per arrival — signing is
  * one token scan, the probe carries `blocks` longs per doc, and the
  * candidate stage is LOSSLESS at maxDist ≤ blocks−1 (pigeonhole), so
  * what it accepts is exactly what the batch operator
  * ([[graft.ops.Dedup.newVsCorpusSimhash]]) would accept. Per
  * micro-batch:
  *
  *   1. in-batch collapse: among arrivals within `maxDist` of each
  *      other, the SMALLEST id survives (block self-join → dominance
  *      anti-join — linear in block-bucket occupancy, never pairwise
  *      across the batch);
  *   2. survivors probe the accumulated block-row store
  *      ([[graft.ops.Dedup.probeSimhash]]): any arrival within
  *      `maxDist` of a STORED doc is rejected — stored content wins;
  *   3. accepted docs append to the corpus sink AND their block rows
  *      to the store, so batch N+1's probe sees batch N's acceptances.
  *
  * Replay idempotence ([[graft.EpochStore]]'s rules): overwrite-by-epoch
  * sinks, and the probe excludes `batch = batchId` from the store read
  * — a foreachBatch retry would otherwise find its own block rows at
  * distance 0, self-reject the whole epoch, and overwrite its committed
  * output with an empty directory.
  */
object SimhashGate {

  /** Gate ONE batch ([[GateProtocol.gateSignedBlocks]] with the
    * simhash sign + verify steps). Returns the accepted count. */
  def gateBatch(batch: DataFrame, batchId: Long, indexDir: String,
      acceptedDir: String, idCol: String, textCol: String,
      bits: Int = 60, blocks: Int = 4, maxDist: Int = 3): Long =
    GateProtocol.gateSignedBlocks(batch, batchId, indexDir, acceptedDir,
      idCol,
      Dedup.simhashBlocks(
        Dedup.simhashSignatures(batch, idCol, textCol,
          Dedup.md5TokenHash60, bits),
        bits, blocks),
      (store, probeBlk) =>
        Dedup.probeSimhashBlocks(store, probeBlk, blocks, maxDist),
      storeCols = Seq("key", "b", "id", "sig"))

  /** Run the gate over a streaming document feed. */
  def start(docs: DataFrame, indexDir: String, acceptedDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", bits: Int = 60, blocks: Int = 4,
      maxDist: Int = 3): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "SimhashGate.start",
      "Dedup.newVsCorpusSimhash") { (b, id) =>
      gateBatch(b, id, indexDir, acceptedDir, idCol, textCol,
        bits, blocks, maxDist)
    }
}
