package graft.ops

import graft.{EpochStore, Materialize}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DRIFT-TRIGGERED quantizer retrain — the last open loop in the index
  * lifecycle (VERDICT r19 Missing #5): every frozen-quantizer epoch
  * store documents its retrain trigger as a manual contract
  * ([[IvfPq.appendIndexEpoch]]); this module closes it for the managed
  * IVF store by wiring the EXISTING [[Drift]] PSI monitor to the
  * store's own cell-occupancy relation and swapping in a freshly
  * trained quantizer crash-safely when the trigger trips.
  *
  * Store layout — ONE swappable root, so quantizer and data can never
  * be observed out of step:
  * {{{
  *   path/live/quantizer/            (cid, cvec) — the index-as-data
  *   path/live/blocks/batch=<e>/cell=<c>/   (id, vec) rows
  * }}}
  * Every public operation first runs [[Retraction.recoverTree]] on
  * `live`, so a crash at any point of the swap leaves a layout that
  * repairs to the full old pair or the full new pair — never a new
  * quantizer over old assignments.
  *
  * TWO trigger signals, each covering the other's blind spot:
  *
  *   - OCCUPANCY: the new epoch's cell-occupancy histogram vs the
  *     pooled store's (the [[Drift.fromCounts]] smoothed-PSI formula,
  *     6 dp — the same statistic the corpus monitors report),
  *     computable from (batch, cell) partition values plus row counts
  *     alone. Catches allocation-shape shifts — which degrade probe
  *     pruning even when assignment quality holds — but is BLIND to a
  *     new mode that spreads evenly across existing cells;
  *   - QUALITY: the new epoch's mean best-cell cosine vs the prior
  *     epochs' recorded values (each epoch's statistic is computed
  *     once at append time, epoch-sized work, and stored under
  *     `live/stats/batch=<e>`; the retrain rewrites them under the new
  *     quantizer). Catches exactly the even-spread drift — vectors far
  *     from EVERY centroid — the occupancy histogram cannot see; this
  *     is the "mean best-cell cosine drops materially" contract of
  *     [[IvfPq.appendIndexEpoch]], automated.
  *
  * At `psi ≥ psiThreshold` OR `refMean − curMean ≥ cosDropThreshold`
  * the store retrains: Lloyd at the committed seed protocol with the
  * epoch folded into the seed (`<seed>-r<epoch>` — a REPLAYED epoch
  * retrains to the identical quantizer, keeping the gate family's
  * replay idempotence), every epoch re-assigned under the new cells
  * with its `batch=` identity preserved (retraction sweeps keep
  * working), then the tmp → aside → live swap.
  *
  * 100 TB shape: the decision reads occupancy metadata; the retrain
  * pass is the one corpus-sized job, and it runs only when the
  * distribution actually moved — the alternative (never retraining)
  * degrades recall unboundedly, and (always retraining) re-encodes the
  * corpus per epoch. Serving probes prune to `cell=` directories one
  * level under `batch=` exactly as the unmanaged store does.
  */
object IvfMaintain {

  /** Default PSI trigger — comfortably above the ≤ 0.1 noise floor of
    * same-distribution epochs and below what a genuine allocation
    * shift produces (IvfMaintainSpec pins both sides). */
  val DefaultPsiThreshold: Double = 0.25

  /** Default quality trigger: retrain when the new epoch's mean
    * best-cell cosine sits this far below the prior epochs' — far
    * outside jitter for a healthy epoch, far inside the collapse an
    * off-manifold mode produces. */
  val DefaultCosDropThreshold: Double = 0.15

  final case class MaintainResult(psi: Double, cosDrop: Double,
    retrained: Boolean)

  private def fs(spark: SparkSession, p: String) =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sessionState.newHadoopConf())

  /** Create the managed store: train at the committed seed, land the
    * corpus as epoch `epoch0` under the live root. */
  def init(corpus: DataFrame, path: String, k: Int, iters: Int = 2,
      seed: String = SelectedSeeds.ivf, epoch0: Long = 0L): Unit = {
    val spark = corpus.sparkSession
    Retraction.recoverTree(spark, path, "live")
    val cents = IvfIndex.train(corpus, "id", "vec", k, iters, seed = seed)
    writeQuantizer(spark, cents, s"$path/live/quantizer")
    writeEpoch(corpus, cents, s"$path/live", epoch0)
  }

  /** The committed quantizer of a managed store — k rows, driver-bounded
    * by construction. */
  def quantizerOf(spark: SparkSession, path: String): Array[Array[Double]] = {
    Retraction.recoverTree(spark, path, "live")
    spark.read.parquet(s"$path/live/quantizer")
      .orderBy(col("cid")).select("cvec").collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Land one epoch of arrivals, then evaluate both drift triggers and
    * retrain-and-swap if either trips. Replay-idempotent: the epoch
    * write is overwrite-by-batch, the triggers are pure functions of
    * the store, and a replayed retrain reuses the same epoch-folded
    * seed. */
  def appendEpoch(delta: DataFrame, path: String, epoch: Long,
      psiThreshold: Double = DefaultPsiThreshold,
      cosDropThreshold: Double = DefaultCosDropThreshold, iters: Int = 2,
      seed: String = SelectedSeeds.ivf): MaintainResult = {
    val spark = delta.sparkSession
    val cents = quantizerOf(spark, path)
    writeEpoch(delta.select(col("id"), col("vec")), cents,
      s"$path/live", epoch)
    // quality trigger: this epoch's recorded mean best-cell cosine vs
    // the prior epochs' (tiny stats rows, one per epoch). An empty
    // epoch, or a store with no prior non-empty epoch, has nothing to
    // drift from.
    val stats = s"$path/live/stats"
    val curRow = spark.read.parquet(EpochStore.path(stats, epoch))
      .filter(col("n") > 0).select("mean_bc_cos").collect()
    val refRow = EpochStore.prior(spark, stats, epoch).toSeq.flatMap(
      _.filter(col("n") > 0)
        .select((sum(col("mean_bc_cos") * col("n")) / sum(col("n"))).as("m"))
        .collect().filter(!_.isNullAt(0)))
    if (curRow.isEmpty || refRow.isEmpty)
      return MaintainResult(0.0, 0.0, retrained = false)
    val cosDrop = refRow.head.getDouble(0) - curRow.head.getDouble(0)
    // occupancy trigger: the new epoch's cell histogram vs the pooled
    // store's — (batch, cell) partition values + row counts only
    val occ = spark.read.parquet(s"$path/live/blocks")
      .select(when(col("batch") === epoch, lit("cur")).otherwise(lit("ref"))
          .as("group"),
        col("cell").as("bin"))
      .groupBy("group", "bin").agg(count(lit(1)).as("c"))
    val psi = Drift.fromCounts(occ, nBins = cents.length)
      .filter(col("group") === "cur")
      .select("psi").head().getDouble(0)
    if (psi < psiThreshold && cosDrop < cosDropThreshold)
      return MaintainResult(psi, cosDrop, retrained = false)

    // retrain at the committed protocol, epoch-folded seed (replay ≡)
    // sever lineage from the tree about to swap out
    val corpus = Materialize(spark.read.parquet(s"$path/live/blocks")
      .select(col("batch"), col("id"), col("vec")))
    val newCents = IvfIndex.train(corpus, "id", "vec", cents.length, iters,
      seed = s"$seed-r$epoch")
    // a tmp surviving recovery is a crashed FIRST swap's partial write
    // — ours to clobber (the writeSimhashIndex discipline)
    val hfs = fs(spark, path)
    val p = (s: String) => new org.apache.hadoop.fs.Path(s)
    if (hfs.exists(p(s"$path/.live-tmp"))) hfs.delete(p(s"$path/.live-tmp"), true)
    writeQuantizer(spark, newCents, s"$path/.live-tmp/quantizer")
    val reassigned = Materialize(corpus
      .withColumn("cell", IvfIndex.bestCell(col("vec"), newCents)))
    Materialize.release(corpus)
    CellIndex.writeEpochs(reassigned, s"$path/.live-tmp/blocks")
    // per-epoch quality stats are quantizer-relative — rewrite them all
    writeStats(reassigned, newCents, s"$path/.live-tmp/stats")
    Materialize.release(reassigned)
    val live = p(s"$path/live")
    if (hfs.exists(live)) hfs.rename(live, p(s"$path/.live-aside"))
    hfs.rename(p(s"$path/.live-tmp"), live)
    hfs.delete(p(s"$path/.live-aside"), true)
    MaintainResult(psi, cosDrop, retrained = true)
  }

  /** Probe the managed store with its own committed quantizer —
    * [[IvfIndex.topKIndexed]] over the live blocks tree (the probed-cell
    * literal filter prunes `cell=` directories one level under
    * `batch=`). */
  def topK(spark: SparkSession, path: String, queries: DataFrame,
      k: Int, nProbe: Int): DataFrame =
    IvfIndex.topKIndexed(spark, s"$path/live/blocks", queries,
      quantizerOf(spark, path), k, nProbe)

  private def writeQuantizer(spark: SparkSession,
      cents: Array[Array[Double]], dir: String): Unit = {
    import spark.implicits._
    cents.zipWithIndex.toSeq.map { case (c, i) => (i, c) }
      .toDF("cid", "cvec")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Land one epoch's block rows AND its quality-stats row under the
    * live root (both overwrite-by-epoch). */
  private def writeEpoch(rows: DataFrame, cents: Array[Array[Double]],
      liveDir: String, epoch: Long): Unit = {
    val assigned = Materialize(rows.select(col("id"), col("vec"))
      .withColumn("cell", IvfIndex.bestCell(col("vec"), cents)))
    CellIndex.writeEpoch(assigned, s"$liveDir/blocks", epoch)
    writeStats(assigned.withColumn("batch", lit(epoch)), cents,
      s"$liveDir/stats", epochLeaf = Some(epoch))
    Materialize.release(assigned)
  }

  /** Per-epoch mean best-cell cosine rows (batch, n, mean_bc_cos) —
    * epoch-sized compute at append time, the QUALITY trigger's
    * reference. `epochLeaf` writes that one `batch=` leaf (append
    * path — 0 rows for an empty epoch, never consulted by the
    * trigger); None rewrites the whole stats tree (retrain). */
  private def writeStats(assigned: DataFrame /* batch, id, vec, cell */,
      cents: Array[Array[Double]], statsDir: String,
      epochLeaf: Option[Long] = None): Unit = {
    val unit = IvfIndex.unitRows(cents)
    val centArr = array(unit.map(c => array(c.map(lit): _*)): _*)
    val stats = assigned
      .select(col("batch"),
        Similarity.cosine(col("vec"),
          element_at(centArr, col("cell") + 1)).as("bc"))
      .groupBy("batch")
      .agg(count(lit(1)).as("n"), avg(col("bc")).as("mean_bc_cos"))
    epochLeaf match {
      case Some(epoch) =>
        EpochStore.write(stats.drop("batch").coalesce(1), statsDir, epoch)
      case None =>
        stats.repartition(col("batch")).write.mode("overwrite")
          .partitionBy("batch").parquet(statsDir)
    }
  }
}
