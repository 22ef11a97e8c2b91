package graft.ops

import graft.EpochStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one cell index: every IVF-family store is parquet partitioned by
  * its coarse quantizer cell (`cell=<i>/…`), whole or one epoch at a
  * time under `batch=<epoch>/cell=<i>/…` ([[EpochStore]]). A probe
  * collects the cells its queries need and pushes them onto the scan as
  * a literal partition filter, so it reads only those directories and
  * its cost tracks the probed fraction of the corpus, never the corpus.
  *
  * The quantized families ([[IvfPq]], [[IvfSq]], [[ResidualPq]]) store
  * (cell, id, codes, vec) and share one probe ([[adcTopK]]): an ADC
  * scan over (cell, id, codes) only, a per-query shortlist and an exact
  * re-rank of that shortlist on the stored vectors — the REPOSE shape
  * (prune locally, merge a bounded top-k). Each family brings only its
  * encoder and its ADC score column. With every cell probed and an
  * uncapped shortlist every row is re-ranked exactly, so exhaustive
  * mode is brute force; that is the oracle argument of every ANN gate.
  */
object CellIndex {
  /** The partition column that names a coarse cell. */
  val Col = "cell"

  // Clustering by cell before the partitioned write: without it every
  // write task emits one file per cell it happens to hold, and at large
  // k the file count explodes multiplicatively (task × cell — measured
  // 4× wall on the k=10⁴ join form, SCALING.md "Round 13"); clustered,
  // each cell's rows land in one task → one file per non-empty cell,
  // which is also the layout probes want to prune.
  private def clustered(rows: DataFrame): DataFrame = rows.repartition(col(Col))

  /** Overwrites the store at `path` with `rows`, which carry a `cell`
    * column, clustered and partitioned by cell. */
  def write(rows: DataFrame, path: String): Unit =
    clustered(rows).write.mode("overwrite").partitionBy(Col).parquet(path)

  /** Overwrites `epoch`'s partition of the epoch store at `path` with
    * `rows`, clustered and partitioned by cell within it; returns the
    * rows written ([[EpochStore.write]]). */
  def writeEpoch(rows: DataFrame, path: String, epoch: Long): Long =
    EpochStore.write(clustered(rows), path, epoch, Col)

  /** Overwrites the epoch store at `path` with `rows`, which carry a
    * `batch` and a `cell` column — every epoch at once (a reseed's
    * rewrite of the whole tree) — clustered and partitioned by both. */
  def writeEpochs(rows: DataFrame, path: String): Unit =
    rows.repartition(col(EpochStore.Col), col(Col))
      .write.mode("overwrite").partitionBy(EpochStore.Col, Col).parquet(path)

  /** `store` restricted to the distinct non-null `key` values of `keys`
    * (collected — the query side is small by contract), pushed as a
    * literal partition filter. A null key (a null vector's cell) is
    * dropped: it matches no directory. */
  def probe(store: DataFrame, keys: DataFrame, key: String = Col): DataFrame = {
    val probed = keys.select(key).filter(col(key).isNotNull).distinct()
      .collect().map(_.get(0))
    store.filter(col(key).isin(probed.toIndexedSeq: _*))
  }

  /** One row per (query, probed cell) of `queries` (qid, qvec): `qid`,
    * the `carry` columns, `cell`, and with `exactQc` the exact
    * q·centroid term `qc` of a residual code — the query's dot with
    * every unit centroid is one reference-object matvec per query, and
    * each probed row picks its cell's term with `element_at`. */
  def probeRows(queries: DataFrame, centroids: Array[Array[Double]],
      nProbe: Int, exactQc: Boolean, carry: Column*): DataFrame = {
    val cells = col("qid") +: carry :+
      explode(IvfIndex.probeCells(col("qvec"), centroids, nProbe)).as(Col)
    if (!exactQc) queries.select(cells: _*)
    else queries.select(cells :+ graft.functions.functions.rotate_project(
        col("qvec"), IvfIndex.unitRows(centroids)).as("qcAll"): _*)
      .withColumn("qc", element_at(col("qcAll"), col(Col) + 1))
      .drop("qcAll")
  }

  /** The quantized probe: the store at `path` pruned to `qb`'s cells;
    * each stored (cell, id, codes) row joined to its cell's broadcast
    * query rows and scored by `adc`; a two-phase per-query shortlist
    * cut ([[Similarity.rankPerQuery]] — the qid-only window sorts only
    * phase-1 survivors, never a query's whole probed-cell scan); exact
    * cosine re-rank of the shortlist against `queries` on the stored
    * vectors. Each stored row lives in exactly one cell, so no
    * candidate de-dup is needed. */
  def adcTopK(spark: SparkSession, path: String, queries: DataFrame,
      qb: DataFrame, adc: Column, k: Int, shortlist: Int): DataFrame = {
    val stored = probe(spark.read.parquet(path), qb)
    val scored = stored.select(col(Col), col("id"), col("codes"))
      .join(broadcast(qb), Seq(Col))
      .withColumn("adc", adc)
    val shortIds = Similarity.rankPerQuery(scored, col("adc"), shortlist)
      .select(col("qid"), col("id"))
    PqIndex.rerank(shortIds, queries, stored.select(col("id"), col("vec")), k)
  }
}
