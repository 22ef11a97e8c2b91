package graft.streaming

import graft.{EpochStore, Materialize}
import graft.ops.Dedup
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming near-duplicate ingestion gate — the continuous twin of
  * [[graft.ops.Dedup.newVsCorpusPairs]]: every arriving micro-batch is
  * (1) cluster-deduped WITHIN the batch ([[Dedup.dedupByMinhash]] —
  * two copies arriving together must not both pass), then (2) probed
  * against the accumulated corpus's persisted band index; survivors
  * are appended to the accepted-corpus sink AND their band rows to the
  * index, so batch N+1's probe sees batch N's acceptances.
  *
  * Incremental cost per batch is the point (the same profile as the
  * batch op): only the batch is shingled; the index probe is an
  * equi-join on (band, bucket); accepted-corpus text is re-read only
  * behind the broadcast candidate-id prune for Jaccard verification.
  * The accumulated corpus is never re-hashed.
  *
  * Replay idempotence: both sinks are written as one `batch=<id>`
  * subdirectory per micro-batch in OVERWRITE mode, so a foreachBatch
  * retry of the same epoch replaces its own output instead of
  * duplicating it (asserted in IngestGateSpec by re-running an epoch).
  * Readers see the accepted corpus as a plain partitioned parquet
  * table (`batch` becomes a partition column).
  */
object IngestGate {

  /** Optional ANN sink for gated epochs: survivors carrying an
    * embedding column are ALSO appended to an IVF-PQ index with these
    * FROZEN quantizers ([[graft.ops.IvfPq.appendIndexEpoch]] — same
    * overwrite-by-epoch discipline as the band index, so replays stay
    * idempotent; retrain policy documented there). The gate thus keeps
    * the near-dup index AND the similarity index in lockstep with the
    * accepted corpus — batch N+1 can probe batch N's acceptances both
    * ways.
    *
    * `residual = true` routes appends through
    * [[graft.ops.ResidualPq.appendIndexEpoch]] instead — the
    * residual-encoded layout (codebooks must then be RESIDUAL-trained,
    * [[graft.ops.ResidualPq.trainCodebooks]]); layout, epoch
    * discipline, retraction and compaction are identical, only the
    * code semantics differ, so the same retractAll/compactAll sweeps
    * apply (RetractionSpec/CompactionSpec residual cases). */
  final case class AnnSink(dir: String, vecCol: String,
    centroids: Array[Array[Double]], codebooks: graft.ops.PqIndex.Codebooks,
    residual: Boolean = false)

  /** Optional GRAPH-ANN sink for gated epochs — the serving family the
    * r17 gate left unmaintained: survivors' vectors also refresh the
    * on-disk graph index through
    * [[graft.ops.NnDescent.maintainGraphEpoch]] (delta fold-in via
    * appendNodes, new undirected edges appended under
    * `dir/index/batch=<id>`, graph snapshot under `dir/state/` for the
    * next epoch — replay-idempotent by the same overwrite-by-epoch +
    * self-exclusion discipline as every other sink). Unlike [[AnnSink]]
    * there is nothing to freeze: the graph IS the model, and
    * append-only index maintenance keeps walk recall monotone
    * (the [[graft.ops.NnDescent.appendGraphIndexEpoch]] superset
    * argument; IngestGateSpec pins gate-maintained ≡ full-rebuild
    * serving). */
  final case class GraphSink(dir: String, vecCol: String, k: Int = 5,
    iters: Int = 1,
    numBuckets: Int = graft.ops.NnDescent.DefaultGraphBuckets)

  /** Optional LEXICAL-index sink for gated epochs: survivors' text is
    * also appended to a BM25 postings epoch store
    * ([[graft.ops.TextIndex.appendPostingsEpoch]] — frozen bucket
    * hash, additive per-epoch statistics, overwrite-by-epoch so
    * replays stay idempotent). With this, the gate keeps every serving
    * family in lockstep with the accepted corpus: near-dup band index,
    * vector ANN ([[AnnSink]]), graph ANN ([[GraphSink]]), and the
    * lexical ranker — batch N+1 can retrieve batch N's acceptances by
    * keyword exactly as a rebuilt index would (append ≡ rebuild is the
    * store's contract, TextIndexSpec). */
  final case class PostingsSink(dir: String, nBuckets: Int = 64)

  /** Gate ONE batch. Returns the number of accepted documents.
    * Extracted from the foreachBatch closure so the idempotence and
    * gating semantics are directly testable. Input columns: `idCol`
    * (long), `textCol` (string) — extra columns pass through to the
    * accepted sink (and `ann.vecCol`, when an [[AnnSink]] is given, to
    * the ANN index). */
  def gateBatch(batch: DataFrame, batchId: Long, indexDir: String,
      acceptedDir: String, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 32, n: Int = 3,
      threshold: Double = 0.5, ann: Option[AnnSink] = None,
      graph: Option[GraphSink] = None,
      postings: Option[PostingsSink] = None): Long = {
    val spark = batch.sparkSession
    // (1) in-batch cluster dedup: one representative per near-dup
    // cluster inside the batch (size-dispatched components — a batch's
    // duplicate graph is tiny, so this is driver union-find in practice)
    val inBatch = Dedup.dedupByMinhash(batch, idCol, textCol,
      numHashes, bands, n, threshold)
    // (2) probe the accumulated index, if any batch came before.
    // CRITICAL on both reads: exclude THIS epoch's own partition — a
    // foreachBatch retry re-delivers an epoch whose output already
    // committed, and probing a doc against its own prior copy forms a
    // self-pair ((x,x), jaccard 1.0) that would self-reject the whole
    // epoch and then OVERWRITE its committed output with an empty
    // directory.
    val survivors = EpochStore.prior(spark, indexDir, batchId) match {
      case Some(indexRaw) =>
        val index = indexRaw.select("id", "band", "bucket")
        val corpus = EpochStore.prior(spark, acceptedDir, batchId).getOrElse(
          sys.error(s"$acceptedDir holds no epoch, but its index $indexDir does"))
        val dupIds = Dedup.newVsCorpusPairs(corpus, index, inBatch,
            idCol, textCol, numHashes, bands, n, threshold)
          .select(col("id2").as(idCol)).distinct()
        inBatch.join(dupIds, Seq(idCol), "left_anti")
      case None => inBatch
    }
    Materialize.cached(survivors) { accepted =>
      val nAccepted = EpochStore.write(accepted, acceptedDir, batchId)
      EpochStore.write(
        Dedup.bandIndex(accepted, idCol, textCol, numHashes, bands, n),
        indexDir, batchId)
      ann.foreach { a =>
        val vecs = accepted.select(col(idCol).as("id"), col(a.vecCol).as("vec"))
        if (a.residual)
          graft.ops.ResidualPq.appendIndexEpoch(vecs, a.centroids, a.codebooks, a.dir, batchId)
        else
          graft.ops.IvfPq.appendIndexEpoch(vecs, a.centroids, a.codebooks, a.dir, batchId)
      }
      postings.foreach { p =>
        // same empty-epoch policy as the graph sink: a fully-rejected
        // batch writes nothing (an empty epoch would be a zero-file
        // postings dir plus a (0, NULL) stats row — junk the probe
        // would have to read around)
        if (nAccepted > 0)
          graft.ops.TextIndex.appendPostingsEpoch(accepted, idCol, textCol,
            p.dir, batchId, p.nBuckets)
      }
      graph.foreach { g =>
        // the accepted sink committed above, so the accumulated corpus
        // (including this epoch's survivors, each id once) is readable
        if (nAccepted > 0) {
          val allNodes = spark.read.parquet(acceptedDir)
            .select(col(idCol).as("id"), col(g.vecCol).as("vec"))
          Materialize.release(graft.ops.NnDescent.maintainGraphEpoch(
            accepted.select(col(idCol).as("id"), col(g.vecCol).as("vec")),
            allNodes, g.dir, batchId, g.k, g.iters, g.numBuckets))
        }
      }
      nAccepted
    }
  }

  /** Run the gate over a streaming document feed. */
  def start(docs: DataFrame, indexDir: String, acceptedDir: String,
      checkpointDir: String, idCol: String = "doc_id",
      textCol: String = "text", numHashes: Int = 64, bands: Int = 32,
      n: Int = 3, threshold: Double = 0.5,
      ann: Option[AnnSink] = None,
      graph: Option[GraphSink] = None,
      postings: Option[PostingsSink] = None): StreamingQuery =
    GateProtocol.start(docs, checkpointDir, "IngestGate.start",
      "Dedup.newVsCorpusPairs") { (b, id) =>
      gateBatch(b, id, indexDir, acceptedDir, idCol, textCol,
        numHashes, bands, n, threshold, ann, graph, postings)
    }
}
