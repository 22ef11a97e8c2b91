package graft.streaming

import graft.{EpochStore, Materialize}
import graft.ops.{CellIndex, IvfIndex, Retrieval, Similarity, TextIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming SERVING-QUALITY monitor — the production question behind
  * every frozen-quantizer index: the IVF cells were trained once, the
  * corpus keeps growing, and nothing re-checks that the pruned probe
  * still finds what an exact scan would. This stream answers it
  * continuously: per micro-batch of arriving vectors,
  *
  *   1. the arrivals append to the cell-partitioned serving layout
  *      under `batch=<epoch>` ([[IvfIndex.writeIndexed]] — the same
  *      store the production probe reads, so the monitor measures the
  *      REAL serving path, not a shadow copy);
  *   2. the standing query set is answered twice over the data-so-far:
  *      the pruned probe ([[IvfIndex.topKIndexed]], `nProbe` cells,
  *      partition-pruned scan) and the exact brute-force ranking;
  *   3. [[Retrieval.rankingMetrics]] of pruned-vs-exact lands in the
  *      metrics sink under `batch=<epoch>` — a time series of
  *      recall@k / RR / nDCG per query, the alert feed for "the
  *      quantizer went stale".
  *
  * The twin structure is [[ClusterEvalStream]]'s: every stage is the
  * BATCH operator over the accumulated store, so stream ≡ batch at
  * every epoch by construction (RecallStreamSpec pins it, plus the
  * exhaustive-probe identity and a planted drift case where a frozen
  * quantizer demonstrably loses a new arrival's neighborhood).
  * Replay idempotence: both sinks overwrite by epoch, and reading the
  * accumulated store INCLUDING the replayed epoch is correct here —
  * the monitor measures data-so-far, it gates nothing.
  *
  * Scale shape: the append is batch-sized; the pruned probe scans only
  * the probed cells' directories; the exact ranking is the one
  * corpus-sized pass — the price of a TRUE recall number, bounded by
  * the standing query count (small by contract), and the reason this
  * runs as a monitor on a schedule rather than inside the serving
  * path. */
object RecallStream {

  /** In-batch collapse + cross-epoch first-write-wins against an
    * accumulated `batch=`-partitioned store — the arrival-uniqueness
    * discipline both monitors share. */
  private def uniqueArrivals(batch: DataFrame, batchId: Long,
      storeDir: String): DataFrame = {
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("vec"))
    val collapsed = batch.select(col("id"), col("vec"))
      .withColumn("rn", row_number().over(wId))
      .filter(col("rn") === 1).drop("rn")
    EpochStore.prior(batch.sparkSession, storeDir, batchId) match {
      case Some(store) =>
        val existing = store.select(col("id")).distinct()
        collapsed.join(existing, Seq("id"), "left_anti")
      case None => collapsed
    }
  }

  /** Monitor ONE epoch. Returns the per-query metrics also written to
    * `metricsDir/batch=<batchId>`. Store ids stay UNIQUE by
    * construction, against BOTH duplication paths: within the
    * micro-batch, duplicate ids collapse to one deterministic row
    * first (min row by vec order — the gate family's in-batch-collapse
    * discipline); across epochs, an arrival whose id already exists in
    * another epoch is dropped (first write wins; a re-crawled id is a
    * retract-then-append lifecycle event, not the monitor's concern).
    * Either duplicate would appear at two ranks in BOTH rankings and
    * the (qid, id) metric join would cross-multiply, inflating
    * hits/recall past 1.0 and masking exactly the drift this monitor
    * exists to see. The cross-epoch check excludes this epoch's own
    * partition, so a foreachBatch replay re-accepts its own rows
    * instead of self-rejecting the epoch (the gate family's replay
    * discipline). */
  def monitorBatch(batch: DataFrame, batchId: Long, annDir: String,
      metricsDir: String, queries: DataFrame,
      centroids: Array[Array[Double]], k: Int, nProbe: Int): DataFrame = {
    val spark = batch.sparkSession
    // in-batch collapse: one deterministic row per id (batch-sized
    // window; arrays order lexicographically, so the pick is stable
    // under partitioning and replay)
    val fresh = uniqueArrivals(batch, batchId, annDir)
    CellIndex.writeEpoch(IvfIndex.assignCells(fresh, "id", "vec", centroids),
      annDir, batchId)
    val sys = IvfIndex.topKIndexed(spark, annDir, queries, centroids,
      k, nProbe)
    val corpus = spark.read.parquet(annDir).select(col("id"), col("vec"))
    val gt = Similarity.bruteForceTopK(queries, corpus, k)
    val metrics = Retrieval.rankingMetrics(sys, gt, k)
    EpochStore.write(metrics, metricsDir, batchId)
    metrics
  }

  /** [[monitorBatch]] for the GRAPH-ANN serving family — the recall
    * monitor the r17 verdict flagged as missing: the graph walk's
    * recall is the one MOST sensitive to staleness (an appended node is
    * reachable only through new edges; a quantizer probe at least scans
    * its cell), and until now only the IVF layout was watched. Per
    * epoch: arrivals (collapsed and first-write-wins, as above) land in
    * the accumulated node store under `nodesDir/batch=<id>`; the graph
    * index under `graphDir` is refreshed through
    * [[graft.ops.NnDescent.maintainGraphEpoch]] (the same routine the
    * [[IngestGate.GraphSink]] runs — the monitor measures the REAL
    * maintenance path); the standing queries are answered by the
    * INDEXED walk ([[graft.ops.NnDescent.searchGraphIndexed]] over
    * `graphDir/index`) and by the exact 4-dp flat ranking (the graph
    * family's rounding convention — an exact walk must audit 1.0, not
    * 0.999-from-tie-order); [[graft.ops.Retrieval.rankingMetrics]] of
    * indexed-vs-exact lands under `metricsDir/batch=<id>`. A recall
    * drop in this series is the walk failing to REACH a true neighbor
    * — entry coverage or hop budget falling behind the corpus's growth
    * (RecallStreamSpec plants exactly that and watches the row drop). */
  def monitorGraphBatch(batch: DataFrame, batchId: Long, graphDir: String,
      nodesDir: String, metricsDir: String, queries: DataFrame, k: Int,
      entries: Int, beam: Int, hops: Int, buildK: Int = 5,
      buildIters: Int = 1,
      numBuckets: Int = graft.ops.NnDescent.DefaultGraphBuckets): DataFrame = {
    val spark = batch.sparkSession
    // materialize the collapsed arrivals ONCE (batch-sized): the store
    // write and the maintenance delta below would otherwise each
    // recompute the in-batch window plus the cross-epoch anti-join
    // (including a store re-read); the write's count is the empty probe
    val fresh = Materialize(uniqueArrivals(batch, batchId, nodesDir))
    val nFresh = EpochStore.write(fresh, nodesDir, batchId)
    val all = spark.read.parquet(nodesDir).select(col("id"), col("vec"))
    if (nFresh > 0)
      Materialize.release(graft.ops.NnDescent.maintainGraphEpoch(fresh, all,
        graphDir, batchId, buildK, buildIters, numBuckets))
    Materialize.release(fresh)
    // COLD START with nothing to serve: if no non-empty epoch has ever
    // maintained the index (an empty or fully-duplicate first batch —
    // the replayed-empty-trigger case), there is no graph to probe and
    // no meaningful ground truth either; emit this epoch's metrics as
    // the EMPTY relation instead of dying on a missing index path, and
    // let the first real arrivals start the series.
    if (EpochStore.read(spark, s"$graphDir/index").isEmpty) {
      val empty = Retrieval.rankingMetrics(
        queries.select(col("qid"), col("qid").as("id"), lit(1).as("rank"))
          .limit(0),
        queries.select(col("qid"), col("qid").as("id"), lit(1).as("rank"))
          .limit(0), k)
      EpochStore.write(empty, metricsDir, batchId)
      return empty
    }
    // the walk's checkpoints end with the epoch: serve the written metrics
    Materialize.scope {
      val sys = graft.ops.NnDescent.searchGraphIndexed(spark,
        s"$graphDir/index", all, queries, k, entries, beam, hops, numBuckets)
      // exact ground truth under the family's 4-dp convention
      val scored = all.crossJoin(broadcast(queries))
        .select(col("qid"), col("id"),
          round(Similarity.cosine(col("qvec"), col("vec")), 4).as("score"))
      val gt = graft.ops.Skew.saltedTopK(scored, Seq("qid"),
        Seq(col("score").desc, col("id").asc), k, saltBy = col("id"))
      EpochStore.write(Retrieval.rankingMetrics(sys, gt, k), metricsDir, batchId)
    }
    spark.read.parquet(EpochStore.path(metricsDir, batchId))
  }

  /** A standing query for the FUSED hybrid monitor: lexical terms and
    * a dense query vector, evaluated together through RRF. */
  case class HybridQuery(qid: Long, terms: Seq[String], qvec: Seq[Float])

  /** [[monitorBatch]] for the FUSED hybrid serving stack — the monitor
    * the per-index pair cannot replace: [[monitorBatch]] watches the
    * IVF layout and a BM25 store is exact by construction (append ≡
    * rebuild), yet the PRODUCTION answer is their RRF fusion
    * ([[graft.ops.Hybrid.hybridTopKEpochs]]), and fusion drift is not
    * the union of per-index drifts. A document can sit OUTSIDE the
    * dense exact top-k (so the ANN monitor never counts its absence)
    * while its mid-list votes in BOTH modalities put it in the fused
    * top-k — prune away its dense vote (an unprobed cell) and only the
    * FUSED metric sees the loss (HybridMonitorSpec plants exactly
    * that).
    *
    * Per epoch: arrivals (collapsed, first-write-wins — the family
    * discipline, here keyed over (text, vec)) land in the raw
    * data-so-far store AND both REAL serving sinks
    * ([[graft.ops.TextIndex.appendPostingsEpoch]],
    * [[graft.ops.IvfIndex.writeIndexed]] under `batch=<e>` — the same
    * stores [[graft.streaming.IngestGate]] maintains); each standing
    * query is answered via the fused INDEXED path over the two epoch
    * stores and via the exact fused ranking over data-so-far (same k,
    * m, k0 — pruning is the ONLY difference, so the metric isolates
    * what nProbe costs the fused list); per-query
    * [[graft.ops.Retrieval.rankingMetrics]] land under
    * `metricsDir/batch=<e>`. Replay idempotence: every sink overwrites
    * by epoch, and the cross-epoch check excludes this epoch's own
    * partition. Scale shape: the append is batch-sized, the fused
    * probe is the bucket/cell-pruned serving path, and the exact fused
    * ranking is the one corpus pass — bounded by the standing-query
    * count, the monitor-not-serving price as ever. */
  def monitorHybridBatch(batch: DataFrame, batchId: Long, lexDir: String,
      annDir: String, rawDir: String, metricsDir: String,
      standing: Seq[HybridQuery], centroids: Array[Array[Double]],
      k: Int, m: Int, nProbe: Int, nBuckets: Int = 64): DataFrame = {
    val spark = batch.sparkSession
    import spark.implicits._
    require(standing.nonEmpty, "monitorHybridBatch needs standing queries")
    val wId = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("text"), col("vec"))
    val collapsed = batch.select(col("id"), col("text"), col("vec"))
      .withColumn("rn", row_number().over(wId))
      .filter(col("rn") === 1).drop("rn")
    val fresh = Materialize(EpochStore.prior(spark, rawDir, batchId) match {
      case Some(store) =>
        val existing = store.select(col("id")).distinct()
        collapsed.join(existing, Seq("id"), "left_anti")
      case None => collapsed
    })
    EpochStore.write(fresh, rawDir, batchId)
    // maintain BOTH real serving sinks
    TextIndex.appendPostingsEpoch(fresh, "id", "text", lexDir, batchId,
      nBuckets)
    CellIndex.writeEpoch(IvfIndex.assignCells(fresh.select(col("id"), col("vec")),
      "id", "vec", centroids), annDir, batchId)
    Materialize.release(fresh)
    // cold start: nothing servable yet (empty/duplicate-only epochs) —
    // the graph monitor's empty-metrics convention
    if (EpochStore.read(spark, s"$lexDir/postings").isEmpty ||
        EpochStore.read(spark, annDir).isEmpty) {
      val none = Seq.empty[(Long, Long, Int)].toDF("qid", "id", "rank")
      val empty = Retrieval.rankingMetrics(none, none, k)
      EpochStore.write(empty, metricsDir, batchId)
      return empty
    }
    val corpus = spark.read.parquet(rawDir)
      .select(col("id"), col("text"), col("vec"))
    val metrics = standing.map { q =>
      val qv = Seq(Tuple1(q.qvec)).toDF("qvec")
      val sys = graft.ops.Hybrid.hybridTopKEpochs(spark, lexDir, annDir,
          centroids, q.terms, qv, k, m, nProbe, nBuckets = nBuckets)
        .select(lit(q.qid).as("qid"), col("id"), col("rk").as("rank"))
      val gt = graft.ops.Hybrid.hybridTopK(corpus, "id", "text", "vec",
          q.terms, qv, k, m)
        .select(lit(q.qid).as("qid"), col("id"), col("rk").as("rank"))
      Retrieval.rankingMetrics(sys, gt, k)
    }.reduce(_.unionByName(_))
    EpochStore.write(metrics, metricsDir, batchId)
    metrics
  }

  /** Run the FUSED monitor over a streaming (id, text, vec) feed. */
  def startHybrid(rows: DataFrame, lexDir: String, annDir: String,
      rawDir: String, metricsDir: String, checkpointDir: String,
      standing: Seq[HybridQuery], centroids: Array[Array[Double]],
      k: Int = 10, m: Int = 20, nProbe: Int = 2,
      nBuckets: Int = 64): StreamingQuery =
    GateProtocol.start(rows, checkpointDir, "RecallStream.startHybrid",
      "monitorHybridBatch") { (b, id) =>
      monitorHybridBatch(b, id, lexDir, annDir, rawDir, metricsDir,
        standing, centroids, k, m, nProbe, nBuckets)
    }

  /** Run the GRAPH monitor over a streaming (id, vec) feed. */
  def startGraph(vectors: DataFrame, graphDir: String, nodesDir: String,
      metricsDir: String, checkpointDir: String, queries: DataFrame,
      k: Int = 10, entries: Int = 8, beam: Int = 5, hops: Int = 3,
      buildK: Int = 5, buildIters: Int = 1): StreamingQuery =
    GateProtocol.start(vectors, checkpointDir, "RecallStream.startGraph",
      "monitorGraphBatch") { (b, id) =>
      monitorGraphBatch(b, id, graphDir, nodesDir, metricsDir, queries,
        k, entries, beam, hops, buildK, buildIters)
    }

  /** Run the monitor over a streaming (id, vec) feed. */
  def start(vectors: DataFrame, annDir: String, metricsDir: String,
      checkpointDir: String, queries: DataFrame,
      centroids: Array[Array[Double]], k: Int = 10,
      nProbe: Int = 2): StreamingQuery =
    GateProtocol.start(vectors, checkpointDir, "RecallStream.start",
      "monitorBatch") { (b, id) =>
      monitorBatch(b, id, annDir, metricsDir, queries, centroids, k, nProbe)
    }
}
