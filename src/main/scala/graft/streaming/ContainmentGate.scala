package graft.streaming

import graft.{EpochStore, Materialize}
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming CONTAINMENT ingestion gate — the quote/near-superset
  * rejection of [[graft.ops.Dedup.newVsCorpusContainment]] run AT
  * INGEST, in the accumulated-store gate family next to [[IngestGate]]
  * (banded Jaccard) and [[ParagraphGate]] (block granularity): a
  * benchmark passage or boilerplate page quoted inside already-stored
  * content must not enter the corpus twice, and Jaccard structurally
  * cannot see it (a short quote of a long page has J ≈ |A|/|B|,
  * arbitrarily small, but C(A→B) = 1). Per micro-batch:
  *
  *   1. in-batch containment COLLAPSE
  *      ([[graft.ops.Dedup.containmentCollapse]] — a quote and its
  *      page arriving together keep only the page);
  *   2. collapse survivors probe the accumulated containment index:
  *      any arrival ≥ `threshold` contained in a STORED doc is
  *      rejected (the asymmetric gate direction — stored content
  *      always wins; an arrival that CONTAINS stored content is new
  *      material and passes);
  *   3. accepted docs append to the corpus sink AND their shingle
  *      rows to the index, so batch N+1's probe sees batch N's
  *      acceptances.
  *
  * Incremental cost per batch ([[graft.ops.Dedup.newVsCorpusContainment]]'s
  * profile): only the batch is shingled; the probe's candidate join is
  * batch-prefix-sized; verification reads index rows — the
  * accumulated corpus text is never re-read.
  *
  * Replay idempotence ([[graft.EpochStore]]'s rules): overwrite-by-epoch
  * sinks, and the probe excludes `batch = batchId` from the index read
  * — a foreachBatch retry would otherwise find its own shingle rows
  * (containment of a doc in its own stored copy is exactly 1.0),
  * self-reject the whole epoch, and overwrite its committed output
  * with an empty directory.
  */
object ContainmentGate {

  /** Gate ONE batch. Returns the number of accepted documents. */
  def gateBatch(batch: DataFrame, batchId: Long, indexDir: String,
      acceptedDir: String, idCol: String, textCol: String,
      threshold: Double = 0.8, n: Int = 3): Long = {
    val spark = batch.sparkSession
    // (1) in-batch collapse: quotes fold into their pages, exact-dup
    // sets keep one exemplar — two copies arriving together never
    // both pass
    val inBatch = Dedup.containmentCollapse(batch, idCol, textCol,
      threshold, n)
    // (2) probe the accumulated index, excluding this epoch (replay)
    val survivors = EpochStore.prior(spark, indexDir, batchId) match {
      case Some(idxRaw) =>
        val idx = idxRaw.select("id", "shingle", "sz")
        val dupIds = Dedup.newVsCorpusContainment(idx, inBatch,
            idCol, textCol, threshold, n)
          .select(col("id1").as(idCol)).distinct()
        inBatch.join(dupIds, Seq(idCol), "left_anti")
      case None => inBatch
    }
    Materialize.cached(survivors) { accepted =>
      val nAccepted = EpochStore.write(accepted, acceptedDir, batchId)
      EpochStore.write(Dedup.containmentIndex(accepted, idCol, textCol, n),
        indexDir, batchId)
      nAccepted
    }
  }

  /** Run the gate over a streaming document feed. */
  def start(docs: DataFrame, indexDir: String, acceptedDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.8,
      n: Int = 3): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "ContainmentGate.start",
      "Dedup.newVsCorpusContainment") { (b, id) =>
      gateBatch(b, id, indexDir, acceptedDir, idCol, textCol, threshold, n)
    }
}
