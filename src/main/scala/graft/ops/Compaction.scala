package graft.ops

import graft.EpochStore
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Epoch compaction for [[graft.EpochStore]] sinks — the small-files
  * control every epoch-appending layout eventually needs: each gated
  * micro-batch adds a `batch=<id>` directory
  * ([[graft.streaming.IngestGate]]), so a long-running stream
  * accumulates thousands of small partitions whose listing and footer
  * overhead comes to dominate probe cost. Compaction collapses the
  * selected epochs into ONE base generation, the epoch
  * [[graft.EpochStore.BaseEpoch]] (−1), preserving nested partition
  * levels (the ANN index's `cell=`). The epoch column and the base id
  * are the store's, not parameters: every caller compacts an epoch
  * store.
  *
  * Swap discipline (same as [[Retraction]]): the base is fully written
  * to a temp dir FIRST; the victim epochs are then parked aside (dot-
  * prefixed, invisible to readers), the base renamed in, and only then
  * are the asides deleted — no window deletes the only copy, and
  * [[recover]] (run on entry) repairs every crash window back to a
  * readable layout. A reader racing the swap can transiently see the
  * dataset without the parked epochs (directory renames are only
  * per-path atomic); a reader needing stronger isolation composes with
  * the manifest-pointer commit pattern in streaming/SyncStream.
  *
  * Interplay with streaming replay (the ONE rule): compact only epochs
  * at or below the stream's committed checkpoint horizon — enforced by
  * the REQUIRED `maxEpochId` bound. The gate's replay idempotence
  * excludes `batch = batchId` from its probe; a pre-compaction epoch
  * replayed AFTER compaction would find its own rows in the base and
  * self-reject. Epochs the checkpoint has committed are never
  * re-delivered, so compacting them is safe — standard log-compaction
  * discipline (CompactionSpec pins that reads are identical, appends
  * continue, epochs above the horizon are untouched, and
  * post-compaction NEW epochs stay replay-idempotent).
  */
object Compaction {

  private def path(s: String) = new org.apache.hadoop.fs.Path(s)

  /** Where the base is written before the swap, and the prefix an epoch
    * parked aside carries; both dot-names are invisible to readers. */
  private val Tmp = s".compact-${EpochStore.Col}"
  private val Aside = s".compact-aside-${EpochStore.Col}-"

  /** Crash recovery for an interrupted [[compactEpochs]] swap — run on
    * entry. States, by crash window:
    *   - temp base present, no asides → crash during/after the base
    *     write: epochs are all still live — drop the (possibly
    *     partial) temp;
    *   - asides present, base partition present → crash after the
    *     base rename: asides are superseded — drop them;
    *   - asides present, base partition missing → crash between
    *     parking and renaming: if the temp exists it is complete
    *     (written before any parking) — rename it in and drop asides;
    *     otherwise restore the asides (compaction just re-runs). */
  def recover(spark: SparkSession, dir: String): Unit = {
    val root = path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return
    val names = fs.listStatus(root).map(_.getPath.getName)
    val tmp = path(s"$dir/$Tmp")
    val base = path(EpochStore.path(dir, EpochStore.BaseEpoch))
    val asides = names.filter(_.startsWith(Aside))
    if (asides.nonEmpty) {
      if (!fs.exists(base) && fs.exists(tmp)) fs.rename(tmp, base)
      if (fs.exists(base))
        asides.foreach(a => fs.delete(path(s"$dir/$a"), true))
      else asides.foreach { a =>
        fs.rename(path(s"$dir/$a"), path(s"$dir/${a.stripPrefix(Aside)}"))
      }
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
  }

  /** Collapse the epochs with id ≤ `maxEpochId` under `dir` into the
    * base epoch (partition names that are not a number are left
    * untouched). Returns the number of epoch partitions collapsed.
    *
    * @param maxEpochId the committed checkpoint horizon: epochs ABOVE
    *        it are still replayable by the stream and are never
    *        touched. Pass `Long.MaxValue` only for a stopped stream. */
  def compactEpochs(spark: SparkSession, dir: String, maxEpochId: Long,
      nestedPartCols: Seq[String] = Nil): Int = {
    val root = path(dir)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root)) return 0
    recover(spark, dir) // repair any interrupted swap
    val epochDirs = EpochStore.epochs(spark, dir).filter(_ <= maxEpochId)
      .map(e => path(EpochStore.path(dir, e)))
    if (epochDirs.length <= 1) return 0
    val tmp = path(s"$dir/$Tmp")
    // only the selected epochs feed the base — later epochs stay live
    val all = spark.read.parquet(dir)
      .where(col(EpochStore.Col).cast("long") <= maxEpochId)
      .drop(EpochStore.Col)
    val writer = all.write.mode("overwrite")
    (if (nestedPartCols.nonEmpty) writer.partitionBy(nestedPartCols: _*)
     else writer).parquet(tmp.toString)
    // park victims aside (readers skip dot-dirs), swap the base in,
    // then drop the asides — deletion strictly after the base is live
    val asides = epochDirs.map(p => p -> path(s"$dir/$Aside${p.getName}"))
    asides.foreach { case (src, dst) => fs.rename(src, dst) }
    fs.rename(tmp, path(EpochStore.path(dir, EpochStore.BaseEpoch)))
    asides.foreach { case (_, dst) => fs.delete(dst, true) }
    epochDirs.length
  }

  /** Compact every sink the ingest gate maintains, up to the stream's
    * committed checkpoint horizon. The graph-ANN serving index
    * ([[NnDescent.writeGraphIndex]], `graphDir`) compacts like the ANN
    * index with its `nb=` bucket level preserved — epoch merge only;
    * edges a later refresh DROPPED stay until a full rebuild
    * ([[NnDescent.writeGraphIndex]] overwrite), which is the graph
    * family's stale-edge cleanup (appends are anti-joined, so the
    * store never holds duplicate rows for compaction to collapse). */
  def compactAll(spark: SparkSession, acceptedDir: String, indexDir: String,
      maxEpochId: Long, annDir: Option[String] = None,
      graphDir: Option[String] = None,
      simhashDir: Option[String] = None,
      postingsEpochsDir: Option[String] = None): Unit = {
    compactEpochs(spark, acceptedDir, maxEpochId)
    compactEpochs(spark, indexDir, maxEpochId)
    annDir.foreach(d => compactEpochs(spark, d, maxEpochId,
      nestedPartCols = Seq(CellIndex.Col)))
    graphDir.foreach(d => compactEpochs(spark, d, maxEpochId,
      nestedPartCols = Seq("nb")))
    simhashDir.foreach(d => compactEpochs(spark, s"$d/blocks", maxEpochId,
      nestedPartCols = Seq("b")))
    // the lexical epoch store ([[TextIndex.appendPostingsEpoch]]) is
    // TWO relations kept in step: the bucketed postings and the
    // additive per-epoch statistics — compacting one without the other
    // would leave estats rows naming epochs that no longer exist
    // (harmless to the SUM the probe takes, but a lifecycle smell);
    // both collapse to the same base generation
    postingsEpochsDir.foreach { d =>
      compactEpochs(spark, s"$d/postings", maxEpochId,
        nestedPartCols = Seq("tb"))
      compactEpochs(spark, s"$d/estats", maxEpochId)
    }
    ()
  }
}
