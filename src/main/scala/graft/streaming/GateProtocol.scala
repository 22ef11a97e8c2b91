package graft.streaming

import graft.{EpochStore, Materialize}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The ingestion-gate family's shared protocol (r19 directive #8 —
  * one implementation instead of per-gate copies): each micro-batch is
  *
  *   1. SIGNED in the batch scan (tokens → simhash blocks, pixels →
  *      phash blocks — only (id, signature) rows enter any exchange);
  *   2. collapsed IN-BATCH with the family's greedy
  *      smallest-id-survives rule: an arrival defers to ANY smaller-id
  *      arrival within the match radius, even one that was itself
  *      dropped, so chained same-batch arrivals collapse transitively;
  *   3. probed against the accumulated block store with THIS epoch's
  *      own partition excluded — a foreachBatch retry re-delivers an
  *      epoch whose output already committed, and probing a doc
  *      against its own prior copy would self-reject the whole epoch
  *      and overwrite its committed output with an empty directory;
  *   4. landed twice in OVERWRITE-by-epoch mode: accepted rows to the
  *      corpus sink, their block rows to the store — batch N+1's
  *      probe sees batch N's acceptances, and replays replace their
  *      own output instead of duplicating it.
  *
  * An arrival with NO signature (null/empty text, undecodable bytes)
  * can match nothing and always passes — the gate family's
  * unsigned-doc convention: garbage is data for a downstream
  * relational filter, not a gate error.
  *
  * [[SimhashGate]] (60-bit text signatures) and [[PhashGate]] (64-bit
  * dual image signatures) instantiate this skeleton with their sign
  * and verify steps; [[IngestGate]] (banded MinHash + Jaccard verify),
  * [[ContainmentGate]], [[ParagraphGate]] and [[SemanticGate]] share
  * the collapse-then-probe-then-append shape but carry their own probe
  * machinery (banding recall, containment, block keys and cell pruning
  * don't reduce to block equality). Every store they write and probe
  * is a [[graft.EpochStore]].
  *
  * [[start]] is the one streaming entry point of every gate, of the
  * stateless per-epoch sinks ([[DsirGate]], [[PplGate]],
  * [[TokenBudgetStream]]) and of the three [[RecallStream]] monitors.
  */
private[streaming] object GateProtocol {

  /** Run the signed-block gate protocol for ONE batch. `blk` is the
    * batch's signed block-row relation (key, b, id, sig, …carry),
    * `probe(store, probeBlocks)` the family's candidate + verify step
    * emitting (id1 = probe, id2 = store, dist), and `storeCols` the
    * store row layout. Returns the accepted count. */
  def gateSignedBlocks(batch: DataFrame, batchId: Long, indexDir: String,
      acceptedDir: String, idCol: String, blk0: DataFrame,
      probe: (DataFrame, DataFrame) => DataFrame,
      storeCols: Seq[String]): Long = {
    val spark = batch.sparkSession
    // ONE signature pass per micro-batch: the in-batch self-probe, the
    // store probe, and the index write all reuse this persisted relation
    Materialize.cached(blk0) { blk =>
      val inBatchDropped = probe(blk, blk)
        .filter(col("id2") < col("id1"))
        .select(col("id1").as("id")).distinct()
      val inBatchBlk = blk.join(inBatchDropped, Seq("id"), "left_anti")
      val storeDropped = EpochStore.prior(spark, indexDir, batchId) match {
        case Some(store) =>
          probe(store.select(storeCols.map(col): _*), inBatchBlk)
            .select(col("id1").as("id")).distinct()
        case None => // no prior epochs — nothing to defer to
          import spark.implicits._
          Seq.empty[Long].toDF("id")
      }
      // the probes run once: both writes read the rejected ids (batch-
      // sized, ids only) from this cache
      Materialize.cached(inBatchDropped.union(storeDropped).distinct()) { rejected =>
        val nAccepted = EpochStore.write(
          batch.join(rejected.select(col("id").as(idCol)), Seq(idCol), "left_anti"),
          acceptedDir, batchId)
        EpochStore.write(blk.join(rejected, Seq("id"), "left_anti")
          .select(storeCols.map(col): _*), indexDir, batchId)
        nAccepted
      }
    }
  }

  /** The foreachBatch wrapper every epoch-store stream starts through:
    * requires a streaming input (pointing batch callers at the
    * one-shot operator named in `batchAlternative`) and runs `epoch`
    * per micro-batch. */
  def start(docs: DataFrame, checkpointDir: String, entry: String,
      batchAlternative: String)(epoch: (DataFrame, Long) => Any): StreamingQuery = {
    require(docs.isStreaming, s"$entry needs a streaming " +
      s"input; use $batchAlternative for a one-shot batch")
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (b: DataFrame, id: Long) => epoch(b, id); () }
      .start()
  }
}
