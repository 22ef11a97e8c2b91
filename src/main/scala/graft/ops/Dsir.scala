package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023): select pretraining documents that look like a TARGET
  * domain by importance-weighting each raw document under a pair of
  * hashed n-gram bag models, then sampling without replacement via the
  * Gumbel-top-k trick. The published recipe for "give me generic web
  * data that reads like my curated slice" — the selection stage that
  * runs after quality gates and before mixing.
  *
  * Model: features are hashed bigrams (the paper's hashed n-gram
  * parameterization) bucketed to `buckets` cells with the engine-portable
  * md5-60 hash ([[Dedup.md5TokenHash60]], the classifier/sampling
  * convention — the DuckDB oracle recomputes every bucket). Target
  * p̂ and raw q̂ are add-one-smoothed bucket multinomials; a document's
  * log importance weight is Σ_b cnt_b · (ln p̂_b − ln q̂_b).
  *
  * Design for 100 TB:
  *
  *   - The corpus is exploded ONCE into (id, bucket, cnt); both bucket
  *     distributions aggregate from that relation (map-side combine to
  *     ≤ `buckets` rows per task). At production scale the bucketed
  *     relation is WRITTEN AT INGEST ([[writeFeatures]], the band-index
  *     pattern) and training/scoring become scans of that store
  *     ([[trainFeatures]]/[[logWeightsFeatures]]); training reads the
  *     features once, inline or stored.
  *   - The MODEL is `buckets` rows (one llr per bucket) — broadcast to
  *     the scoring join; the per-doc aggregation collapses the exploded
  *     stream immediately. Nothing document-sized crosses more than one
  *     exchange. Totals (tN, rN) are driver scalars, model parameters
  *     like the LM vocabulary.
  *   - RESAMPLING is a per-row hash + one top-n ([[Skew.saltedTopK]]):
  *     Gumbel keys make "sample n without replacement ∝ exp(logw)" a
  *     stateless ranking — no sequential draw, no driver loop.
  *
  * Cross-engine determinism: counts are exact integers; each llr is ln
  * of one IEEE division on identical operands; the per-doc sum rounds
  * to 3 dp (the [[TextAnalysis.tokenKlDivergence]] discipline); the
  * Gumbel key rounds to 4 dp on BOTH engines before ranking (the
  * tf-idf convention) so the rank tie-break is identical.
  */
object Dsir {

  /** Per-document hashed-bigram bucket counts: (id, bucket, cnt).
    * Documents with < 2 tokens contribute nothing (no bigram exists). */
  def hashedFeatures(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int): DataFrame = {
    LanguageModel.docBigrams(docs, idCol, textCol)
      .select(col("id"),
        pmod(Dedup.md5TokenHash60(concat(col("w1"), lit(" "), col("w2"))),
          lit(buckets.toLong)).cast("int").as("bucket"))
      .groupBy("id", "bucket").agg(count(lit(1)).as("cnt"))
  }

  /** The on-disk FEATURE STORE — the hashed-bigram relation written at
    * ingest next to the token stats (the [[Dedup]] band-index /
    * [[TextIndex]] postings pattern), so training, scoring and every
    * re-weighting probe read a tiny (id, bucket, cnt) parquet instead
    * of re-exploding the corpus per action. ONE data-sized pass, ever. */
  def writeFeatures(docs: DataFrame, idCol: String, textCol: String,
      buckets: Int, path: String): Unit =
    hashedFeatures(docs, idCol, textCol, buckets)
      .write.mode("overwrite").parquet(path)

  /** Re-open a [[writeFeatures]] store. */
  def readFeatures(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = spark.read.parquet(path)

  /** The trained model: per-bucket log importance ratio
    * llr_b = ln p̂_b − ln q̂_b, plus the smoothing scalars. `ratios` is
    * DENSE — one row for EVERY bucket in [0, buckets), unobserved ones
    * carrying the pure-smoothing llr = ln((0+1)/(tN+B)) − ln((0+1)/
    * (rN+B)) — so scoring NEW documents (the [[graft.streaming.DsirGate]]
    * path) never silently drops a feature that hashed to a bucket the
    * training pool missed (add-one smoothing defines every bucket;
    * only the training pool itself is guaranteed to hit observed ones).
    * ≤ `buckets` rows with exact integer counts, checkpointed free of
    * corpus lineage. */
  final case class DsirModel(ratios: DataFrame, buckets: Int,
      targetTotal: Long, rawTotal: Long)

  /** Train from a FEATURE relation ((id, bucket, cnt) — a
    * [[writeFeatures]] store or an inline [[hashedFeatures]], hashed to
    * the same `buckets`): target distribution from the `targetIds`
    * slice, raw from the whole pool. One aggregation reads `feats` once
    * for both per-bucket counts; the dense (bucket, rc, tc) relation,
    * ≤ `buckets` rows, is checkpointed so the model carries no lineage
    * back to the features, and the totals tN and rN are read back from
    * that checkpoint. An empty target slice fails: it would train a
    * target distribution on nothing. */
  def trainFeatures(feats: DataFrame, targetIds: DataFrame,
      buckets: Int): DsirModel = {
    val spark = feats.sparkSession
    val isTarget = targetIds.select(col("id")).distinct().withColumn("_t", lit(true))
    val counts = feats.join(broadcast(isTarget), Seq("id"), "left")
      .groupBy("bucket")
      .agg(sum("cnt").as("rc"), sum(when(col("_t"), col("cnt"))).as("tc"))
    val dense = Materialize(spark.range(buckets).select(col("id").cast("int").as("bucket"))
      .join(counts, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc")))
    val totals = dense.agg(sum("tc"), sum("rc")).head()
    val (tN, rN) = (totals.getLong(0), totals.getLong(1))
    require(tN > 0, "DSIR target slice is empty: no features to train the target distribution on")
    val llr = log((col("tc") + lit(1L)).cast("double") /
        (lit(tN) + lit(buckets.toLong)).cast("double")) -
      log((col("rc") + lit(1L)).cast("double") /
        (lit(rN) + lit(buckets.toLong)).cast("double"))
    DsirModel(dense.withColumn("llr", llr), buckets, tN, rN)
  }

  /** Train on `docs` inline: [[trainFeatures]] reads the explode once,
    * inside its one checkpoint. Production pipelines should
    * [[writeFeatures]] at ingest and call
    * [[trainFeatures]]/[[logWeightsFeatures]] on the store. */
  def train(docs: DataFrame, idCol: String, textCol: String,
      targetFilter: Column, buckets: Int): DsirModel = {
    val tIds = docs.filter(targetFilter)
      .select(col(idCol).as("id")).distinct()
    trainFeatures(hashedFeatures(docs, idCol, textCol, buckets), tIds, buckets)
  }

  /** The model frozen to plain arrays — serialization-safe and free of
    * any lineage back to the training corpus, so a streaming gate
    * ([[graft.streaming.DsirGate]]) scores every epoch against the
    * identical ratios (the frozen-quantizer stance). ≤ `buckets` rows
    * by construction — driver-sized like a codebook. */
  final case class FrozenModel(llr: Array[(Int, Double)], buckets: Int,
      targetTotal: Long, rawTotal: Long) {
    /** Rebuild the (tiny) relational form for [[logWeights]]. */
    def thaw(spark: org.apache.spark.sql.SparkSession): DsirModel = {
      import spark.implicits._
      DsirModel(llr.toIndexedSeq.toDF("bucket", "llr"), buckets,
        targetTotal, rawTotal)
    }
  }

  /** Collect a trained model's ratios into the frozen form. */
  def freeze(model: DsirModel): FrozenModel =
    FrozenModel(model.ratios.select("bucket", "llr").collect()
        .map(r => (r.getInt(0), r.getDouble(1))),
      model.buckets, model.targetTotal, model.rawTotal)

  /** Per-document log importance weight from a FEATURE relation:
    * (id, n_feats, logw) with logw = round(Σ cnt·llr, 3). The model
    * side is broadcast and DENSE, so every feature of every document —
    * including ones hashing to buckets the training pool never saw —
    * receives its smoothed llr. */
  def logWeightsFeatures(feats: DataFrame, model: DsirModel): DataFrame =
    feats
      .join(broadcast(model.ratios.select("bucket", "llr")), Seq("bucket"))
      .groupBy("id")
      .agg(sum("cnt").as("n_feats"),
        round(sum(col("cnt") * col("llr")), 3).as("logw"))

  /** [[logWeightsFeatures]] over an inline explode of `docs`. */
  def logWeights(docs: DataFrame, idCol: String, textCol: String,
      model: DsirModel): DataFrame =
    logWeightsFeatures(hashedFeatures(docs, idCol, textCol, model.buckets),
      model)

  /** Gumbel key for sampling-without-replacement ∝ exp(logw): for
    * uniform u the key logw + (−ln(−ln u)) ranks a Gumbel race. u is a
    * pure function of (seed, id) via the portable md5-60 hash, offset by
    * +0.5/2⁶⁰ so u ∈ (0, 1) — ln never sees 0. Rounded to 4 dp so both
    * engines rank the identical value. */
  def gumbelKey(logw: Column, id: Column, seed: String): Column = {
    val u = (Dedup.md5TokenHash60(concat(lit(seed), id.cast("string")))
      .cast("double") + lit(0.5)) / lit(1152921504606846976.0)
    round(logw + -log(-log(u)), 4)
  }

  /** Select `n` documents ∝ exp(logw) without replacement. Input must
    * carry (id, logw); output adds (key, rk), rk ∈ [1, n]. */
  def resample(weights: DataFrame, n: Int, seed: String): DataFrame = {
    val keyed = weights.withColumn("key", gumbelKey(col("logw"), col("id"), seed))
    Skew.saltedTopK(keyed.withColumn("qid", lit(0)), Seq("qid"),
        Seq(col("key").desc, col("id").asc), n, saltBy = col("id"))
      .drop("qid").withColumnRenamed("rank", "rk")
  }
}
