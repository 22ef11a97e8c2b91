package graft.ops

import graft.EpochStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns, interpreted ONLY at the scan edge by the codegen'd
  * header/pixel probes ([[graft.functions.ImageMeta]],
  * [[graft.functions.MediaMeta]], [[graft.functions.ImagePhash]],
  * [[graft.functions.ImageFramePhash]]) — everything downstream of
  * those calls treats content as bytes again. The deterministic
  * byte-length STUB codec that carried this family rounds 8–19 was
  * retired in round 20: every committed query now decodes real
  * committed container bytes.
  *
  * Scale notes: media rows are wide (MBs); pipelines must set
  * `spark.sql.files.maxPartitionBytes` so a partition of binaries fits
  * executor memory, and metadata-only queries must never read the binary
  * column — which parquet column pruning gives us for free since content
  * and metadata are separate columns.
  */
object Multimodal {

  /** The on-disk PERCEPTUAL image near-dup index — the image member of
    * the incremental-probe family (text simhash:
    * [[Dedup.writeSimhashIndex]]; banded MinHash: [[Dedup.bandIndex]];
    * …): `sigs` is an (id, sig, dsig) relation of the 64-bit [[
    * graft.functions.ImagePhash]] aHash/dHash pair (computed in the
    * image scan — bytes never reach this function), landed as Manku
    * block rows under `path/blocks/batch=<epoch>/b=<block>`, the
    * simhash serving store's exact layout — so [[Retraction.retract]]
    * epoch sweeps and [[Compaction.compactEpochs]] apply unchanged,
    * and a probe's block-equality join prunes to block directories.
    * Banding is over the aHash only (one candidate space); the dHash
    * rides every block row as `dsig` so [[newVsCorpusPhash]] can
    * verify BOTH signatures index-locally. */
  def appendPhashIndexEpoch(sigs: DataFrame, path: String,
      epoch: Long, blocks: Int = 4): Unit =
    EpochStore.write(
      Dedup.simhashBlocks(sigs.select(col("id"), col("sig"), col("dsig")),
          bits = 64, blocks = blocks, carry = Seq("dsig"))
        .repartition(col("b"))
        .sortWithinPartitions(col("key")),
      s"$path/blocks", epoch, "b")

  /** Probe a NEW batch of image signatures against an
    * [[appendPhashIndexEpoch]] store: every (new, stored) pair within
    * Hamming `maxDist` on BOTH perceptual signatures — aHash
    * candidates are LOSSLESS for maxDist ≤ blocks−1 by the pigeonhole
    * argument the text store rides, and the dHash confirm rejects the
    * luminance-preserving gradient edits aHash alone cannot see (one
    * extra bit_count(xor) on already-matched candidates — free). Only
    * the arrivals are decoded/signed; the store is probed by (b, key)
    * equality with both signatures riding the block rows (verification
    * never re-reads an image). Emits (id1 = new, id2 = stored, dist)
    * with dist = the primary aHash distance. */
  def newVsCorpusPhash(spark: SparkSession, path: String,
      newSigs: DataFrame, maxDist: Int = 3, blocks: Int = 4): DataFrame =
    probePhashBlocks(spark.read.parquet(s"$path/blocks"),
      Dedup.simhashBlocks(newSigs.select(col("id"), col("sig"), col("dsig")),
        bits = 64, blocks = blocks, carry = Seq("dsig")),
      blocks = blocks, maxDist = maxDist)

  /** The dual-signature probe core shared by [[newVsCorpusPhash]] and
    * [[graft.streaming.PhashGate]]: aHash block-equality candidates,
    * verified on aHash AND dHash. Both inputs are phash block rows
    * (key, b, id, sig, dsig). */
  private[graft] def probePhashBlocks(storeBlocks: DataFrame,
      probeBlocks: DataFrame, blocks: Int, maxDist: Int): DataFrame = {
    require(maxDist >= 0 && maxDist < blocks,
      s"lossless candidates need maxDist < blocks, got maxDist=$maxDist blocks=$blocks")
    probeBlocks.as("n")
      .join(storeBlocks.as("c"),
        col("n.b") === col("c.b") && col("n.key") === col("c.key"))
      .select(col("n.id").as("id1"), col("c.id").as("id2"),
        Dedup.hamming(col("n.sig"), col("c.sig")).cast("long").as("dist"),
        Dedup.hamming(col("n.dsig"), col("c.dsig")).cast("long").as("ddist"))
      .filter(col("dist") <= maxDist && col("ddist") <= maxDist)
      .select(col("id1"), col("id2"), col("dist"))
      .distinct()
  }

}
