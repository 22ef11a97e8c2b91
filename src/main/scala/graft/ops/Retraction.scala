package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Targeted delete propagation through partitioned corpus/index layouts
  * — the reference's delete-propagation contract (SURVEY.md §2.3 D9:
  * a deletion observed at the source must disappear from every
  * destination) applied to a training corpus's derived stores, where
  * it is the right-to-be-forgotten path: a delete list must leave the
  * accepted corpus, the near-dup band index, and the ANN index with no
  * trace of the ids, without rewriting the world.
  *
  * Scale shape: the layouts are partitioned (`batch=` epochs from
  * [[graft.streaming.IngestGate]], nested `cell=` for the ANN index),
  * so retraction is (1) one column-pruned scan joining the broadcast
  * delete list to find WHICH partitions contain victims, then (2) a
  * read-filter-overwrite of ONLY those partitions. Partitions with no
  * victims keep their exact files byte-for-byte — at 100 TB with a
  * KB-sized delete list, the rewrite touches a handful of directories
  * (RetractionSpec pins untouched-partition file identity).
  *
  * Idempotent by construction: re-retracting the same ids finds no
  * victim partitions and writes nothing. Readers of an un-rewritten
  * partition see the old files until its overwrite commits — the same
  * eventually-consistent read story as the gate's epoch appends.
  */
object Retraction {

  private def path(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Crash recovery for interrupted [[retract]] swaps — run on entry.
    * The per-partition swap is write-tmp → rename-victim-aside →
    * rename-tmp-in → delete-aside, so every crash window leaves a
    * recoverable state this function repairs:
    *   - aside present, partition present → crash after the swap
    *     completed: the aside is the superseded copy, delete it;
    *   - aside present, partition MISSING → crash between the two
    *     renames: the tmp is complete by construction (the write
    *     finished before the victim was moved aside) — rename it in,
    *     then drop the aside; if the tmp is somehow gone, restore the
    *     aside (no data loss, retraction just re-runs);
    *   - tmp present, partition present, no aside → crash during or
    *     after the tmp write: the tmp may be partial, the live
    *     partition is untouched — drop the tmp.
    * Every state converges to a readable layout with no hidden-only
    * copy — the "silently vanished partition" window of the previous
    * delete-then-rename order cannot occur. */
  def recover(spark: SparkSession, dir: String, partCol: String = "batch"): Unit = {
    val root = path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val names = fs.listStatus(root).map(_.getPath.getName)
    names.filter(_.startsWith(s".retract-aside-$partCol-")).foreach { a =>
      val p = a.stripPrefix(s".retract-aside-$partCol-")
      val part = path(s"$dir/$partCol=$p")
      val tmp = path(s"$dir/.retract-$partCol-$p")
      if (fs.exists(part)) fs.delete(path(s"$dir/$a"), true)
      else if (fs.exists(tmp)) {
        fs.rename(tmp, part)
        fs.delete(path(s"$dir/$a"), true)
      } else fs.rename(path(s"$dir/$a"), part)
    }
    names.filter(n => n.startsWith(s".retract-$partCol-") &&
        !n.startsWith(s".retract-aside-")).foreach { t =>
      val p = t.stripPrefix(s".retract-$partCol-")
      if (fs.exists(path(s"$dir/$partCol=$p")))
        fs.delete(path(s"$dir/$t"), true)
    }
  }

  /** Remove rows whose `idCol` appears in `ids` from the partitioned
    * parquet layout at `dir`. `partCol` is the top-level partition key
    * (`batch` for gate sinks); `nestedPartCols` are partition levels
    * INSIDE each top-level directory that must be preserved on rewrite
    * (`Seq("cell")` for the ANN index). Returns the number of
    * partitions rewritten. */
  def retract(spark: SparkSession, dir: String, idCol: String,
      ids: Seq[Long], partCol: String = "batch",
      nestedPartCols: Seq[String] = Nil): Int = {
    require(ids.nonEmpty, "empty delete list")
    recover(spark, dir, partCol) // repair any interrupted prior swap
    val idsDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ids.map(org.apache.spark.sql.Row(_)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("_victim", org.apache.spark.sql.types.LongType))))
    // (1) which partitions hold victims — column-pruned scan, broadcast
    // semi-join on the (small by contract) delete list
    val affected = spark.read.parquet(dir)
      .select(col(idCol), col(partCol))
      .join(broadcast(idsDf), col(idCol) === col("_victim"), "left_semi")
      .select(partCol).distinct()
      .collect().map(_.get(0))
    // (2) rewrite only those partitions, preserving nested layout.
    // Write-to-temp, then swap in TWO renames with the victim parked
    // ASIDE (never deleted before its replacement is in place): a crash
    // anywhere leaves either the old copy or the complete new copy
    // recoverable — [[recover]] (run on entry) repairs every window.
    // Spark (correctly) refuses to overwrite a path it is reading,
    // which is the other reason for the temp indirection.
    val hadoopConf = spark.sessionState.newHadoopConf()
    affected.foreach { p =>
      val part = path(s"$dir/$partCol=$p")
      val tmp = path(s"$dir/.retract-$partCol-$p")
      val aside = path(s"$dir/.retract-aside-$partCol-$p")
      val survivors = spark.read.parquet(part.toString)
        .join(broadcast(idsDf), col(idCol) === col("_victim"), "left_anti")
      val writer = survivors.write.mode("overwrite")
      (if (nestedPartCols.nonEmpty) writer.partitionBy(nestedPartCols: _*)
       else writer).parquet(tmp.toString)
      val fs = part.getFileSystem(hadoopConf)
      fs.rename(part, aside)
      fs.rename(tmp, part)
      fs.delete(aside, true)
    }
    affected.length
  }

  /** Scrub a delete list from a [[TextIndex.writePostings]] layout: the
    * bucketed postings AND the 1-row corpus stats. A victim doc's
    * posting rows are scattered across every bucket one of its terms
    * hashes into, so the victim-partition discovery is the same
    * column-pruned (id, tb) scan [[retract]] performs — only buckets
    * that actually hold a victim row are rewritten; the rest keep
    * their files byte-for-byte.
    *
    * The stats relation (n_docs, avgdl) is recomputed from the
    * SURVIVING postings — `dl` is denormalized into every posting row,
    * so `distinct (id, dl)` reconstructs exactly the per-doc lengths
    * [[TextIndex.corpusStats]] aggregated (docs with ≥1 token, which is
    * precisely the docs that have postings). A dl sum is integer-exact
    * in doubles, so the rewritten stats are BIT-identical to a fresh
    * [[TextIndex.writePostings]] over the surviving corpus — a probe
    * after retraction scores exactly like a rebuilt index
    * (RetractionSpec pins it). Without this sweep a forgotten doc
    * stays retrievable through BM25 — the directive this closes. */
  /** Crash recovery for an interrupted [[retractPostings]] stats swap —
    * the same entry-time repair contract as [[recover]], for the
    * `.stats-tmp`/`.stats-aside` names [[recover]]'s `.retract-*`
    * matcher does not see. The swap order is write-tmp → rename-stats-
    * aside → rename-tmp-in → delete-aside, so:
    *   - aside present, stats present → crash after the swap landed:
    *     the aside is the superseded copy, delete it;
    *   - aside present, stats MISSING → crash between the renames: the
    *     tmp is complete by construction — rename it in and drop the
    *     aside; if the tmp is somehow gone, restore the aside (the old
    *     stats come back, the retraction just re-runs);
    *   - tmp present, stats present, no aside → the tmp may be a
    *     partial write, the live stats are untouched — drop the tmp.
    * Without this, a crash between the two renames left the index with
    * NO stats relation until the same retraction was re-run — the one
    * window that broke the "every crash leaves a readable layout"
    * contract. */
  def recoverStats(spark: SparkSession, indexPath: String): Unit =
    recoverTree(spark, indexPath, "stats")

  def retractPostings(spark: SparkSession, indexPath: String, ids: Seq[Long]): Unit = {
    recoverStats(spark, indexPath) // repair any interrupted prior stats swap
    retract(spark, s"$indexPath/postings", "id", ids, partCol = "tb")
    val statsPath = s"$indexPath/stats"
    val fresh = spark.read.parquet(s"$indexPath/postings")
      .select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // same write-replacement-first swap discipline as retract(): the
    // old stats stay readable until the new file is complete
    val tmp = path(s"$indexPath/.stats-tmp")
    val aside = path(s"$indexPath/.stats-aside")
    fresh.write.mode("overwrite").parquet(tmp.toString)
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(path(statsPath))) fs.rename(path(statsPath), aside)
    fs.rename(tmp, path(statsPath))
    fs.delete(aside, true)
    ()
  }

  /** [[retractPostings]] for the EPOCH-partitioned lexical store
    * ([[TextIndex.appendPostingsEpoch]]'s `postings/batch=/tb=` +
    * `estats/batch=` layout): the generic sweep scrubs the victims'
    * posting rows (a victim's rows span ≤ |its distinct tokens|
    * buckets inside only the epochs that hold it — every other
    * partition keeps its exact files), then the per-epoch additive
    * statistics are recomputed EXACTLY from the post-sweep postings —
    * one column-pruned pass grouped by epoch, replacing the whole
    * (epoch-count-sized) `estats` tree under the same
    * write-tmp → aside → rename swap discipline as the flat store's
    * stats, so every crash point leaves a readable layout and a re-run
    * converges (the full recompute is what makes the sweep idempotent:
    * a crash between postings rewrite and stats rewrite cannot strand
    * stale counts, because the re-run rebuilds stats from whatever the
    * postings now say). */
  def retractPostingsEpochs(spark: SparkSession, indexPath: String,
      ids: Seq[Long]): Unit = {
    recoverTree(spark, indexPath, "estats")
    retract(spark, s"$indexPath/postings", "id", ids,
      nestedPartCols = Seq("tb"))
    val fresh = spark.read.parquet(s"$indexPath/postings")
      .select(col("batch"), col("id"), col("dl")).distinct()
      .groupBy(col("batch"))
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
      .repartition(col("batch"))
    val tmp = path(s"$indexPath/.estats-tmp")
    val aside = path(s"$indexPath/.estats-aside")
    val live = path(s"$indexPath/estats")
    fresh.write.mode("overwrite").partitionBy("batch").parquet(tmp.toString)
    val fs = tmp.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(live)) fs.rename(live, aside)
    fs.rename(tmp, live)
    fs.delete(aside, true)
    ()
  }

  /** [[recoverStats]] generalized to a named subtree under a store
    * root (`stats` for the flat lexical store, `estats` for the epoch
    * store, `blocks` for [[Dedup.writeSimhashIndex]] rebuilds) — same
    * write-tmp → aside → rename-in → drop-aside swap, same three crash
    * windows, same resolution. Any whole-tree replacement in the repo
    * routes through this so every crash leaves a readable layout. */
  private[graft] def recoverTree(spark: SparkSession, indexPath: String,
      name: String): Unit = {
    val statsPath = path(s"$indexPath/$name")
    val tmp = path(s"$indexPath/.$name-tmp")
    val aside = path(s"$indexPath/.$name-aside")
    val fs = statsPath.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(aside)) {
      if (fs.exists(statsPath)) fs.delete(aside, true)
      else if (fs.exists(tmp)) { fs.rename(tmp, statsPath); fs.delete(aside, true) }
      else fs.rename(aside, statsPath)
    }
    if (fs.exists(tmp) && fs.exists(statsPath)) fs.delete(tmp, true)
  }

  /** Propagate one delete list through every sink the ingest gate
    * maintains: accepted corpus, band index, the ANN index with its
    * nested cell layout, the BM25 postings index, and the LSH
    * bucket-partitioned postings ([[Similarity.writeLshBucketed]],
    * probed by `lshTopKIndexed`) — a right-to-be-forgotten sweep must
    * reach every derived store a doc can still be surfaced from. The
    * LSH layout is `bucket=<table_sig>` partition directories holding
    * (id, vec) postings, so the generic [[retract]] machinery applies
    * with `partCol = "bucket"`: a victim's rows occupy at most `tables`
    * buckets, so the rewrite touches ≤ |ids|·tables directories and
    * every other bucket keeps its exact files.
    *
    * The graph-ANN serving index ([[NnDescent.writeGraphIndex]],
    * `graphDir`) is the sixth store: its rows are UNDIRECTED edges
    * (c, v), so a forgotten doc must vanish as SOURCE and as NEIGHBOR —
    * two [[retract]] sweeps, one per edge column, each preserving the
    * nested `nb=` bucket layout. A victim's c-rows live in exactly its
    * own bucket; its v-rows in the buckets of its ≤ 2k graph neighbors
    * — the rewrite stays |ids|·(degree)-bounded, every other bucket
    * keeps its files. After the sweep the victim is unreachable AND
    * unroutable-through (no edge mentions it), which is the graph
    * analogue of the postings scrub.
    *
    * The CONTAINMENT gate's epoch-partitioned shingle index
    * ([[graft.streaming.ContainmentGate]], `containmentDir`) is the
    * seventh: its rows are (id, shingle, sz) under `batch=` epochs, so
    * the generic sweep applies directly — after it, no probe can
    * surface the victim as a containing document, and the forgotten
    * content becomes re-ingestable (the gate no longer rejects a
    * future arrival against it). One-shot [[Dedup.writeJaccardIndex]]
    * / [[Dedup.writeContainmentIndex]] artifacts are unpartitioned
    * batch builds — retraction there is a rebuild over the retracted
    * corpus, by design. [[graft.streaming.ParagraphGate]]'s accepted
    * sink retracts generically by doc id; its KEY store holds bare
    * 60-bit content fingerprints with no document attribution —
    * non-reversible, retained so dedup semantics survive the
    * deletion (the text itself leaves the accepted sink).
    */
  def retractAll(spark: SparkSession, ids: Seq[Long], idCol: String,
      acceptedDir: String, indexDir: String,
      annDir: Option[String] = None,
      postingsDir: Option[String] = None,
      lshDir: Option[String] = None,
      graphDir: Option[String] = None,
      containmentDir: Option[String] = None,
      simhashDir: Option[String] = None,
      postingsEpochsDir: Option[String] = None): Unit = {
    retract(spark, acceptedDir, idCol, ids)
    retract(spark, indexDir, "id", ids)
    annDir.foreach(d => retract(spark, d, "id", ids, nestedPartCols = Seq(CellIndex.Col)))
    postingsDir.foreach(d => retractPostings(spark, d, ids))
    // the EPOCH-partitioned lexical store is the ninth store: postings
    // scrub + exact per-epoch stats rewrite in one sweep
    postingsEpochsDir.foreach(d => retractPostingsEpochs(spark, d, ids))
    lshDir.foreach(d => retract(spark, d, "id", ids, partCol = "bucket"))
    graphDir.foreach { d =>
      retract(spark, d, "c", ids, nestedPartCols = Seq("nb"))
      retract(spark, d, "v", ids, nestedPartCols = Seq("nb"))
      ()
    }
    containmentDir.foreach(d => retract(spark, d, "id", ids))
    // the simhash SERVING store ([[Dedup.writeSimhashIndex]]) is one
    // epoch-partitioned relation (batch=epoch/b=ordinal), so the
    // victim's signature (and every block key derived from it)
    // disappears in a single epoch-granular pass — epochs without
    // victim rows keep their files byte-identical; a SimhashGate store
    // retracts through the generic id-keyed `indexDir` sweep
    simhashDir.foreach(d => retract(spark, s"$d/blocks", "id", ids,
      nestedPartCols = Seq("b")))
    ()
  }
}
