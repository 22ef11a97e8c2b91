package graft.streaming

import graft.ops.{Dedup, Multimodal}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming IMAGE ingestion gate — [[SimhashGate]]'s multimodal twin,
  * and the shape an image/caption crawl actually needs at the door:
  * reject an arriving image whose perceptual signature pair
  * ([[graft.functions.ImagePhash]] aHash + dHash, computed from BYTES
  * in the batch scan) sits within Hamming `maxDist` ON BOTH hashes of
  * any already-accepted image — aHash banding supplies the lossless
  * candidates, the dHash confirm rejects luminance-preserving gradient
  * edits aHash alone cannot see. The byte-copy, the JPEG re-encode,
  * and the one-pixel edit — the three mirror-site arrival classes the
  * fixtures plant — all land within the Manku-lossless radius on both
  * signatures. The STORE-PROBE stage accepts exactly what the batch
  * probe ([[graft.ops.Multimodal.newVsCorpusPhash]]) would accept; the
  * in-batch stage is the gate family's GREEDY smallest-id-survives
  * collapse ([[SimhashGate]]'s semantics — an arrival is dropped when
  * ANY smaller-id arrival in the same batch matches it, even one that
  * is itself dropped, so chained same-batch arrivals can collapse
  * transitively; the one-shot batch probe has no in-batch stage and
  * makes no equivalence claim there). Per micro-batch:
  *
  *   1. decode + sign IN the batch scan (image bytes never shuffle —
  *      only (id, sig, dsig) enters any exchange; an UNDECODABLE blob
  *      has no signature, can match nothing, and always passes — the
  *      gate family's unsigned-doc convention, image edition: garbage
  *      is data for a downstream relational filter, not a gate error);
  *   2. in-batch collapse: among arrivals within `maxDist` (both
  *      hashes) of each other, the smallest id survives;
  *   3. survivors probe the accumulated block store (this epoch's own
  *      partition excluded — replay idempotence);
  *   4. accepted images append to the corpus sink AND their block rows
  *      to the store in the GATE family's flat per-epoch layout
  *      (`batch=<id>` with `b` as a data column — [[SimhashGate]]'s,
  *      NOT the serving store's nested `b=` tree): the generic epoch
  *      sweeps apply in their flat form —
  *      `Retraction.retract(indexDir, "id", ids)` and
  *      `Compaction.compactEpochs(indexDir, h)` with no
  *      `nestedPartCols` (mixing forms corrupts partition discovery).
  *      The on-disk SERVING index remains
  *      [[graft.ops.Multimodal.appendPhashIndexEpoch]].
  */
object PhashGate {

  /** Gate ONE batch of (id, content) rows
    * ([[GateProtocol.gateSignedBlocks]] with the dual phash sign +
    * verify steps). Returns accepted count. */
  def gateBatch(batch: DataFrame, batchId: Long, indexDir: String,
      acceptedDir: String, idCol: String, contentCol: String,
      blocks: Int = 4, maxDist: Int = 3): Long = {
    val signed = batch
      .select(col(idCol).as("id"),
        graft.functions.functions.image_phash(col(contentCol)).as("ph"))
      .filter(col("ph").isNotNull)
      .select(col("id"), col("ph.ahash").as("sig"), col("ph.dhash").as("dsig"))
    GateProtocol.gateSignedBlocks(batch, batchId, indexDir, acceptedDir,
      idCol,
      Dedup.simhashBlocks(signed, bits = 64, blocks, carry = Seq("dsig")),
      (store, probeBlk) =>
        Multimodal.probePhashBlocks(store, probeBlk, blocks, maxDist),
      storeCols = Seq("key", "b", "id", "sig", "dsig"))
  }

  /** Run the gate over a streaming (id, content) image feed. */
  def start(images: DataFrame, indexDir: String, acceptedDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      contentCol: String = "content", blocks: Int = 4,
      maxDist: Int = 3): StreamingQuery =
    GateProtocol.start(images, checkpointDir, "PhashGate.start",
      "Multimodal.newVsCorpusPhash") { (b, id) =>
      gateBatch(b, id, indexDir, acceptedDir, idCol, contentCol,
        blocks, maxDist)
    }
}
