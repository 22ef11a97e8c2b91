package graft.streaming

import graft.Materialize
import graft.model.{KrmModel, SyncerConfig, WatcherId}
import graft.operators.SyncOps
import graft.functions.functions.json_valid
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.concurrent.TrieMap

/** The continuous sync pipeline (SURVEY.md §3.2/§3.3) on Structured
  * Streaming: change-event micro-batches are joined against the
  * (re-read-per-batch) rules relation, filtered, projected, scrubbed and
  * merged idempotently into *per-syncer destinations* — the Spark
  * re-expression of the reference's per-event reconcile
  * (/root/reference/syncer/controllers/krmsyncer_controller.go:409-532).
  *
  * Semantics preserved from the reference:
  *   - level-triggered, at-least-once: replaying a micro-batch yields the
  *     same destination state (merge is idempotent; asserted in
  *     SyncStreamSpec);
  *   - tombstones: `op='delete'` events remove the key, NotFound is a
  *     no-op (D1/D9);
  *   - destination routing (D8): each syncer resolves its own destination
  *     — push syncs to the syncer's remote cluster, pull syncs local
  *     (controller.go:476-487); two syncers with different remotes write
  *     disjoint destinations (the Active-Passive failover topology,
  *     syncer/README.md:3);
  *   - per-row error tolerance (D14): an event-rule pair whose projected
  *     payload is malformed becomes an error row (controller.go:509-516's
  *     log-and-continue), never poisons its siblings' merge;
  *   - no watermarks/windows needed for parity — every event carries the
  *     full current document, so ordering only matters within a key and
  *     is resolved by the per-batch collapse in [[SyncOps.mergeBatch]].
  */
object SyncStream {

  /** One micro-batch of the sync data plane: events × rules → filters →
    * per-row projection → scrub. Shared by the batch and streaming
    * paths so tests pin identical semantics for both. The output keeps
    * the routing column `destKey` (D8). */
  def plan(events: DataFrame, rules: DataFrame, watcher: WatcherId): DataFrame =
    planWithErrors(events, rules, watcher)._1

  def plan(events: DataFrame, rules: DataFrame, watcherMode: String): DataFrame =
    plan(events, rules, WatcherId(watcherMode))

  /** D14 — the plan plus its error side-output. A matched (event, rule)
    * pair whose rule projects a payload (`spec`/`status`) that is present
    * but not parseable JSON is diverted to the errors relation (identity
    * + syncer + message) and excluded from the merge — the reference's
    * per-event "log error, continue" (controller.go:509-516) as a
    * DataFrame split. Clean siblings of the same batch merge normally.
    */
  def planWithErrors(events: DataFrame, rules: DataFrame,
      watcher: WatcherId): (DataFrame, DataFrame) = {
    val matched = SyncOps.matchRules(events, rules, watcher)
    def payloadBad(p: String): Column =
      (array_contains(col("r.syncFields"), p) ||
        exists(col("r.syncFields"), f => f.startsWith(p + "."))) &&
        col("e." + p).isNotNull && !json_valid(col("e." + p))
    val bad = payloadBad("spec") || payloadBad("status")
    val errors = matched.filter(bad).select(
      col("e.apiGroup").as("apiGroup"), col("e.kind").as("kind"),
      col("e.namespace").as("namespace"), col("e.name").as("name"),
      col("r.syncerName").as("syncerName"),
      concat_ws("; ",
        when(payloadBad("spec"), lit("malformed spec JSON")),
        when(payloadBad("status"), lit("malformed status JSON"))).as("error"))
    val clean = matched.filter(!bad)
    (SyncOps.scrubSystemMetadata(
      SyncOps.filterFieldsPerRow(clean, col("r.syncFields"))), errors)
  }

  /** Run the full pipeline in batch mode against one destination snapshot
    * (all syncers folded together — single-destination deployments and
    * golden-case tests; the `foreachBatch` body uses the routed variant).
    */
  def applyBatch(events: DataFrame, configs: Seq[SyncerConfig], dest: DataFrame,
      watcherMode: String): DataFrame = {
    val spark = events.sparkSession
    val projected = plan(events, SyncOps.rulesDF(spark, configs), WatcherId(watcherMode))
    SyncOps.mergeBatch(dest, projected.drop("destKey"))
  }

  /** D8 — batch apply with per-syncer destination routing: the projected
    * batch is split by each syncer's `destKey` and merged into that
    * destination only. `dests` resolves a destination key to its current
    * snapshot. Returns the merged snapshot per destination key plus the
    * D14 error relation. Destination keys come from the *configs* (a
    * driver-side derivation, no data action): push syncers route to
    * `remote:<namespace>/<secret>`, pull syncers to `local`
    * (controller.go:476-487).
    */
  def applyBatchRouted(events: DataFrame, configs: Seq[SyncerConfig],
      dests: String => DataFrame, watcher: WatcherId): (Map[String, DataFrame], DataFrame) = {
    val spark = events.sparkSession
    val (projected, errors) =
      planWithErrors(events, SyncOps.rulesDF(spark, configs), watcher)
    val merged = destKeys(configs, watcher).map { k =>
      k -> SyncOps.mergeBatch(dests(k),
        projected.filter(col("destKey") === k).drop("destKey"))
    }.toMap
    (merged, errors)
  }

  /** Active destination keys for this watcher, in deterministic order. */
  def destKeys(configs: Seq[SyncerConfig], watcher: WatcherId): Seq[String] =
    configs.filterNot(_.suspend).filter(_.effectiveMode == watcher.mode)
      .map(_.destKey).distinct.sorted

  /** Start the streaming query: source → plan → `foreachBatch`
    * incremental merge into one parquet destination directory *per
    * destination key* (D8). The rules are re-read from `configProvider`
    * every micro-batch — the streaming analog of the reference listing
    * KRMSyncer CRs per event (controller.go:426-429), so config changes
    * take effect on the next batch without a restart. Error rows (D14)
    * are handed to `onErrors` each batch.
    */
  def start(
      spark: SparkSession,
      eventStream: DataFrame,
      configProvider: () => Seq[SyncerConfig],
      destDirFor: String => String,
      watcher: WatcherId,
      checkpointDir: String,
      queryName: String = "krm-sync",
      onErrors: DataFrame => Unit = _ => (),
      numBuckets: Int = 16): StreamingQuery = {
    eventStream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        runBatch(spark, batch, configProvider(), destDirFor, watcher,
          onErrors, numBuckets)
        ()
      }
      .start()
  }

  /** The shared micro-batch body: events × rules → project → route →
    * incremental merge per destination. Used by the watch-source and
    * snapshot-source streaming paths. */
  private def runBatch(spark: SparkSession, events: DataFrame,
      configs: Seq[SyncerConfig], destDirFor: String => String,
      watcher: WatcherId, onErrors: DataFrame => Unit,
      numBuckets: Int): Unit = {
    if (configs.isEmpty) return
    val (projected, errors) =
      planWithErrors(events, SyncOps.rulesDF(spark, configs), watcher)
    // The projection is referenced once per destination — cache it so
    // the scan→join→project stage runs once, not per destination.
    Materialize.cached(projected) { rows =>
      onErrors(errors)
      destKeys(configs, watcher).foreach { k =>
        ParquetDest.mergeIncremental(spark, destDirFor(k),
          rows.filter(col("destKey") === k).drop("destKey"), numBuckets)
      }
    }
  }

  /** Snapshot-source sync: each micro-batch is a FULL state snapshot
    * (not a change feed) — sources that can only be listed/exported
    * periodically, never watched. Events are synthesized by diffing the
    * batch against the previously committed snapshot
    * ([[SyncOps.snapshotDiff]]): upserts for new/changed keys and — the
    * capability a snapshot source otherwise lacks — tombstones for
    * vanished keys (the reference's NotFound→isDeleted,
    * krmsyncer_controller.go:415-423). The synthesized batch then runs
    * the identical plan→project→merge body as the watch path.
    *
    * The previous snapshot is kept in `stateDir/snap-<batchId>`; the
    * diff base for batch N is the highest committed snapshot with id
    * < N, so a crash between the destination merge and the state write
    * replays batch N against the SAME base → the same synthesized
    * events → a no-op through the idempotent merge (at-least-once →
    * exactly-once visible effects, like the watch path). Snapshots
    * older than the current base are GC'd after commit.
    */
  def startSnapshotSync(
      spark: SparkSession,
      snapshotStream: DataFrame,
      configProvider: () => Seq[SyncerConfig],
      destDirFor: String => String,
      watcher: WatcherId,
      checkpointDir: String,
      stateDir: String,
      queryName: String = "krm-snapshot-sync",
      onErrors: DataFrame => Unit = _ => (),
      numBuckets: Int = 16): StreamingQuery = {
    snapshotStream.writeStream
      .queryName(queryName)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (snap: DataFrame, batchId: Long) =>
        val configs = configProvider()
        if (configs.nonEmpty) {
          val prev = SnapshotState.latestBefore(spark, stateDir, batchId)
            .getOrElse(snap.filter(lit(false)))
          runBatch(spark, SyncOps.snapshotDiff(prev, snap),
            configs, destDirFor, watcher, onErrors, numBuckets)
          SnapshotState.commit(spark, stateDir, batchId, snap)
        }
        ()
      }
      .start()
  }

  /** Batch-mode snapshot reconcile against one destination snapshot —
    * the scheduled-export twin of [[applyBatch]]. */
  def applySnapshotBatch(prevSnapshot: DataFrame, currSnapshot: DataFrame,
      configs: Seq[SyncerConfig], dest: DataFrame, watcherMode: String): DataFrame =
    applyBatch(SyncOps.snapshotDiff(prevSnapshot, currSnapshot),
      configs, dest, watcherMode)

  /** Single-destination convenience overload (legacy topology): every
    * syncer's output lands in `destDir`, watcher known only by mode. */
  def start(spark: SparkSession, eventStream: DataFrame,
      configProvider: () => Seq[SyncerConfig], destDir: String,
      watcherMode: String, checkpointDir: String): StreamingQuery =
    start(spark, eventStream, configProvider, (_: String) => destDir,
      WatcherId(watcherMode), checkpointDir)
}

/** Destination "cluster" modeled as a parquet snapshot, hash-bucketed on
  * the merge key with a **manifest-pointer commit** — the object-store-
  * safe layout (no directory rename, no rename-overwrite, no POSIX
  * assumption anywhere in the commit path):
  *
  * {{{
  *   dir/
  *     _manifests/manifest-000000001   # bucket → data dir map (TSV)
  *     _manifests/manifest-000000002   # latest wins (highest id)
  *     gen-000000001-<uuid>/bucket=3/…parquet   # immutable once written
  *     gen-000000002-<uuid>/bucket=0/…parquet
  * }}}
  *
  * A snapshot is *defined* by its highest-numbered manifest: each line
  * maps a bucket to the generation directory holding its current data.
  * Merges are bucket-scoped: a micro-batch reads only the buckets its
  * keys hash into, writes the merged buckets to a fresh generation dir,
  * then publishes a new manifest whose untouched entries still point at
  * the old generations — untouched buckets are never listed, read,
  * rewritten, or moved (SyncRoutingSpec asserts their files are
  * byte-identical). Crash before the manifest publish leaves an orphan
  * generation dir and the previous snapshot fully readable; the commit
  * point is ONE single-file rename (`.tmp` → `manifest-N`), atomic on
  * HDFS and cheap-and-atomic on object stores (it renames a manifest of
  * a few hundred bytes, never data files). A lost race on that rename
  * (destination exists) aborts and retries from the new latest manifest.
  * This is the reference's per-object SSA patch durability story
  * (krmsyncer_controller.go:586-600) restated as a table commit — the
  * same pointer-swap protocol Delta's `_delta_log` and Iceberg's
  * metadata pointer use, scaled down to a bucket map.
  */
object ParquetDest {
  def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      org.apache.spark.sql.types.StructType(KrmModel.krmSchema.filterNot(f =>
        KrmModel.scrubCols.contains(f.name) || f.name == "op")))

  /** Bucket of the merge key — a pure function of the key, so keys only
    * ever interact with their own bucket and a partition-scoped merge is
    * exactly equivalent to a whole-snapshot merge. */
  private def bucketOf(numBuckets: Int): Column =
    pmod(xxhash64(KrmModel.mergeKey.map(col): _*), lit(numBuckets)).cast("int")

  private val ManifestDirName = "_manifests"
  private val ManifestRe = """manifest-(\d{9})""".r

  import org.apache.hadoop.fs.{FileSystem, Path}

  private def hadoopFs(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** Highest committed manifest id, or -1 for an empty destination.
    * In-flight `.tmp` files don't match the pattern and are ignored. */
  private def latestId(fs: FileSystem, mdir: Path): Long =
    if (!fs.exists(mdir)) -1L
    else fs.listStatus(mdir).iterator.map(_.getPath.getName).collect {
      case ManifestRe(n) => n.toLong
    }.foldLeft(-1L)(math.max)

  private def manifestPath(mdir: Path, id: Long): Path =
    new Path(mdir, f"manifest-$id%09d")

  /** bucket → generation-relative data dir, e.g. 3 → "gen-…/bucket=3".
    * One TSV line per bucket; order is canonical (sorted by bucket). */
  private def readManifest(fs: FileSystem, mdir: Path, id: Long): Map[Int, String] = {
    val in = fs.open(manifestPath(mdir, id))
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(_.nonEmpty).map { line =>
          val Array(b, rel) = line.split('\t')
          b.toInt -> rel
        }.toMap
    } finally in.close()
  }

  /** Publish a manifest: write to a uniquely-named temp file, then a
    * single-file rename to `manifest-<id>`. Returns false if the rename
    * lost a race (destination already exists) — caller retries against
    * the new latest. */
  private def writeManifest(fs: FileSystem, mdir: Path, id: Long,
      buckets: Map[Int, String]): Boolean = {
    fs.mkdirs(mdir)
    val tmp = new Path(mdir, s".manifest-$id.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(buckets.toSeq.sortBy(_._1)
      .map { case (b, rel) => s"$b\t$rel\n" }.mkString.getBytes("UTF-8"))
    finally out.close()
    val dst = manifestPath(mdir, id)
    // HDFS/local rename refuses an existing destination → exactly-one-
    // winner semantics per manifest id without any lock service.
    val ok = !fs.exists(dst) && fs.rename(tmp, dst)
    if (!ok) { fs.delete(tmp, false); () }
    ok
  }

  /** Absolute data path per bucket for the current snapshot (empty map
    * for an empty/never-written destination). Test/inspection surface:
    * untouched-bucket assertions fingerprint these dirs. */
  def bucketPaths(spark: SparkSession, dir: String): Map[Int, String] = {
    val (fs, root) = hadoopFs(spark, dir)
    val mdir = new Path(root, ManifestDirName)
    val id = latestId(fs, mdir)
    if (id < 0) Map.empty
    else readManifest(fs, mdir, id).map { case (b, rel) =>
      b -> new Path(root, rel).toString
    }
  }

  def read(spark: SparkSession, dir: String): DataFrame = {
    val paths = bucketPaths(spark, dir).values.toSeq.sorted
    if (paths.isEmpty) empty(spark)
    else spark.read.parquet(paths: _*) // leaf dirs: no partition column
  }

  /** Merge `updates` (a projected, collapsed-per-key micro-batch) into
    * the snapshot at `dir`, rewriting only the buckets that contain
    * updated keys:
    *
    *   1. the touched bucket set comes from the (small) batch itself;
    *   2. only those buckets' data dirs are scanned from the destination
    *      (path-level pruning — untouched buckets are never even listed);
    *   3. merged buckets land in a fresh immutable generation dir, and
    *      the commit is a new manifest pointing touched buckets at the
    *      new generation and untouched buckets at wherever they already
    *      live. A touched bucket whose merged result is empty (all keys
    *      tombstoned) is dropped from the manifest;
    *   4. after a successful commit, generations no longer referenced by
    *      the two most recent manifests are garbage-collected.
    */
  def mergeIncremental(spark: SparkSession, dir: String, updates: DataFrame,
      numBuckets: Int = 16): Unit = {
    Materialize.cached(updates.withColumn("bucket", bucketOf(numBuckets))) { u =>
      val touched = u.select("bucket").distinct().collect().map(_.getInt(0)).sorted
      if (touched.nonEmpty) {
        val (fs, root) = hadoopFs(spark, dir)
        val mdir = new Path(root, ManifestDirName)
        var committed = false
        while (!committed) {
          val base = latestId(fs, mdir)
          val current: Map[Int, String] =
            if (base < 0) Map.empty else readManifest(fs, mdir, base)
          val touchedPaths = touched.toSeq.flatMap(current.get)
            .map(rel => new Path(root, rel).toString)
          val destTouched =
            if (touchedPaths.nonEmpty) spark.read.parquet(touchedPaths: _*)
            else empty(spark)
          val merged = SyncOps.mergeBatch(destTouched, u.drop("bucket"))
          val genId = base + 1
          val genRel = f"gen-$genId%09d-${java.util.UUID.randomUUID()}"
          val genPath = new Path(root, genRel)
          merged.withColumn("bucket", bucketOf(numBuckets))
            .write.partitionBy("bucket").mode("overwrite").parquet(genPath.toString)
          // buckets that actually produced rows; a fully-tombstoned bucket
          // writes no partition dir and falls out of the manifest
          val staged = fs.listStatus(genPath).iterator.map(_.getPath.getName)
            .filter(_.startsWith("bucket=")).map(_.stripPrefix("bucket=").toInt).toSet
          val next = (current -- touched) ++
            staged.map(b => b -> s"$genRel/bucket=$b")
          committed = writeManifest(fs, mdir, genId, next)
          if (!committed) { fs.delete(genPath, true); () } // lost the race: retry from new base
          else gc(fs, root, mdir)
        }
      }
    }
  }

  /** Drop manifests older than the two most recent, and any generation
    * dir none of the kept manifests reference — readers of the latest or
    * previous snapshot stay valid through a concurrent GC. Generation
    * ids newer than the kept manifests are in-flight stagings of a
    * concurrent committer and are never touched. */
  private def gc(fs: FileSystem, root: Path, mdir: Path): Unit = {
    val ids = fs.listStatus(mdir).iterator.map(_.getPath.getName).collect {
      case ManifestRe(n) => n.toLong
    }.toSeq.sorted
    val keep = ids.takeRight(2)
    if (keep.isEmpty) return
    val referenced: Set[String] =
      keep.flatMap(readManifest(fs, mdir, _).values).map(_.split('/').head).toSet
    ids.dropRight(2).foreach(id => fs.delete(manifestPath(mdir, id), false))
    val GenRe = """gen-(\d{9})-.*""".r
    fs.listStatus(root).iterator.map(_.getPath).foreach { p =>
      p.getName match {
        // only ids strictly below every kept manifest are provably not
        // an in-flight staging (a live committer's id is ≥ the latest it
        // read +1); crash orphans above that age out as ids advance
        case GenRe(g) if !referenced(p.getName) && g.toLong < keep.min =>
          fs.delete(p, true); ()
        case _ => ()
      }
    }
  }
}

/** Previous-snapshot state for the snapshot-diff source
  * ([[SyncStream.startSnapshotSync]]): one immutable parquet dir per
  * micro-batch, `snap-<batchId>`, committed by the Spark write's
  * `_SUCCESS` marker. The diff base for batch N is the highest
  * committed id strictly below N — a pure function of (stateDir,
  * batchId), so a replayed batch re-derives the same base even if its
  * own half-written `snap-N` survived the crash (mode=overwrite
  * clobbers it). All I/O via the Hadoop FileSystem, like ParquetDest.
  */
object SnapshotState {
  import org.apache.hadoop.fs.{FileSystem, Path}
  private val SnapRe = """snap-(\d+)""".r

  private def fsOf(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def committedIds(fs: FileSystem, root: Path): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).iterator.map(_.getPath.getName).collect {
      case SnapRe(n) => n.toLong
    }.filter(id => fs.exists(new Path(root, s"snap-$id/_SUCCESS"))).toSeq

  /** Highest committed snapshot with id < batchId, if any. */
  def latestBefore(spark: SparkSession, stateDir: String,
      batchId: Long): Option[DataFrame] = {
    val (fs, root) = fsOf(spark, stateDir)
    val ids = committedIds(fs, root).filter(_ < batchId)
    if (ids.isEmpty) None
    else Some(spark.read.parquet(new Path(root, s"snap-${ids.max}").toString))
  }

  /** Persist this batch's snapshot as the next diff base, then GC all
    * but the two most recent (current + the replay base for an
    * in-flight retry of the next batch). */
  def commit(spark: SparkSession, stateDir: String, batchId: Long,
      snap: DataFrame): Unit = {
    val (fs, root) = fsOf(spark, stateDir)
    snap.write.mode("overwrite").parquet(new Path(root, s"snap-$batchId").toString)
    committedIds(fs, root).sorted.dropRight(2).foreach { id =>
      fs.delete(new Path(root, s"snap-$id"), true); ()
    }
  }
}

/** C6/C10/C11 — the streaming-query registry: one running query per
  * source key (GVK / remote identity), suspend/resume, and a status
  * table. The Spark analog of the reference's WatchedGVKs maps
  * (krmsyncer_controller.go:48-53, 255-276).
  */
final class QueryRegistry {
  import QueryRegistry._
  private val running = TrieMap.empty[String, StreamingQuery]
  private val conditions = TrieMap.empty[String, Condition]

  /** Start-or-reuse: a second rule over the same source key reuses the
    * running query (watch dedup, C6). */
  def startIfAbsent(key: String)(start: () => StreamingQuery): StreamingQuery =
    running.getOrElseUpdate(key, {
      setCondition(key, Condition("Active", "Active", "query running"))
      start()
    })

  /** C10 — suspend: stop the query, mark Suspended, keep registration
    * so resume is a restart. */
  def suspend(key: String): Unit = {
    running.remove(key).foreach(_.stop())
    setCondition(key, Condition("Suspended", "Suspended", "suspend=true"))
  }

  def setCondition(key: String, c: Condition): Unit = { conditions(key) = c; () }
  def condition(key: String): Option[Condition] = conditions.get(key)
  def activeKeys: Set[String] = running.keySet.toSet

  /** C11 — status as a small DataFrame (the status table). */
  def statusTable(spark: SparkSession): DataFrame = {
    import spark.implicits._
    conditions.toSeq.map { case (k, c) => (k, c.condType, c.reason, c.message) }
      .toDF("key", "type", "reason", "message")
  }

  def stopAll(): Unit = { running.values.foreach(_.stop()); running.clear() }
}

object QueryRegistry {
  final case class Condition(condType: String, reason: String, message: String)
}
