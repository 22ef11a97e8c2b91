package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic sampling for training-data mixes.
  *
  * A 100 TB corpus is never used whole: the mix recipe says "25% of web
  * text, all of the reference corpus, 10% of forum data". Two
  * properties matter at scale and `rand()` has neither:
  *
  *   - **Reproducibility**: membership must be a pure function of the
  *     row key (re-runs, retries, and different partitionings select
  *     the SAME rows — no sampling drift between pipeline stages that
  *     each re-derive the sample).
  *   - **Nesting**: raising a stratum's rate must only ADD rows
  *     (the 10% sample is a subset of the 20% sample), so ablation
  *     runs at different scales stay comparable.
  *
  * Both fall out of hashing the key to a fixed uniform:
  * `u(key) = md5_60(seed ‖ key) / 2⁶⁰ ∈ [0,1)`, keep iff
  * `u < rate(stratum)`. The hash is the codegen'd
  * [[graft.functions.Md5Hash60Expr]] (scan speed, no UDF) and is
  * engine-portable — DuckDB recomputes it from `md5()` hex digits, so
  * the sample is oracle-checkable row-for-row (`q_sample_mix`).
  * Changing `seed` draws an independent sample family.
  */
object Sampling {

  /** Deterministic uniform in [0,1) from a key column (seeded). */
  def hashUniform(key: Column, seed: String): Column =
    Dedup.md5TokenHash60(concat(lit(seed), key.cast("string")))
      .cast("double") / (1L << 60).toDouble

  /** Stratified sample: per-stratum keep rates, `defaultRate` for
    * strata not in the map. Deterministic and nested in the rates. */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
      rates: Map[String, Double], defaultRate: Double,
      seed: String = "graft"): DataFrame = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0 && r <= 1),
      "rates must be in [0,1]")
    val rateMap = map(rates.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    df.filter(hashUniform(col(keyCol), seed) <
      coalesce(element_at(rateMap, col(strataCol)), lit(defaultRate)))
  }

  /** Token-budget shard packing: assign documents to training shards so
    * consecutive documents (by `idCol`, within each `groupCol`
    * partition) accumulate into shards of ~`budgetTokens` tokens —
    * sequence-packing at document granularity, the step between a
    * curated corpus and a trainer's shard manifest.
    *
    * `shard = floor(exclusive-prefix-sum(tokens) / budget)`: greedy
    * streaming packing, so a document larger than the remaining budget
    * OVERFLOWS its shard rather than splitting (shards can exceed the
    * budget by at most one document; no document is ever split).
    * Deterministic — a pure function of the (group, id) order, so
    * re-runs and retries produce identical manifests.
    *
    * 100 TB shape: the prefix sum is a window per GROUP partition
    * (source, dump, date bucket...), so shards parallelize across
    * groups and no global single-partition sort exists anywhere.
    * Grouped packing is what real pipelines run (shards don't mix
    * sources); for the corpus-global manifest see [[packShardsGlobal]]
    * (two-phase distributed prefix sum).
    */
  def packShards(df: DataFrame, idCol: String, groupCol: String,
      tokensCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(groupCol)).orderBy(col(idCol))
      .rowsBetween(Window.unboundedPreceding, -1)
    df.withColumn("_prior", coalesce(sum(col(tokensCol)).over(w), lit(0L)))
      .withColumn("shard",
        floor(col("_prior") / lit(budgetTokens.toDouble)).cast("long"))
      .drop("_prior")
  }

  /** Execute a data-derived mix plan ([[temperatureMix]] output or any
    * (group, rate) relation): broadcast the tiny plan onto the corpus
    * and keep rows by the same seeded md5-60 uniform as
    * [[stratifiedSample]] — deterministic, nested in the rates, and
    * oracle-checkable row-for-row. This is the composition a mix build
    * actually runs: plan rates from corpus counts, then sample with
    * them — [[stratifiedSample]]'s static `Map` can't express rates
    * that the same job just computed.
    */
  def applyMixPlan(df: DataFrame, keyCol: String, strataCol: String,
      plan: DataFrame, seed: String = "graft"): DataFrame =
    df.join(broadcast(plan.select(col("group").as(strataCol), col("rate"))),
        Seq(strataCol))
      .filter(hashUniform(col(keyCol), seed) < col("rate"))

  /** CORPUS-GLOBAL token-budget packing — [[packShards]] without a
    * group column: the global exclusive token prefix in id order is
    * [[Rank.prefix]] over id-range buckets (`floor(id / bucketWidth)`,
    * monotone in id), so no global sort of the corpus exists anywhere
    * and only the ~corpus/bucketWidth bucket totals pass through one
    * partition. `shard = floor(prior / budget)`.
    *
    * Deterministic — a pure function of ids, independent of
    * partitioning (no `repartitionByRange` sampling, no
    * `spark_partition_id`). Same greedy-overflow semantics as
    * [[packShards]]. Pick `bucketWidth` so corpus/bucketWidth rows fit
    * one task comfortably; the default 2²⁰ puts a 10¹² -doc corpus at
    * ~10⁶ bucket-total rows.
    */
  def packShardsGlobal(df: DataFrame, idCol: String, tokensCol: String,
      budgetTokens: Long, bucketWidth: Long = 1L << 20): DataFrame = {
    require(budgetTokens > 0, "budgetTokens must be positive")
    require(bucketWidth > 0, "bucketWidth must be positive")
    Rank.prefix(df, floor(col(idCol) / lit(bucketWidth.toDouble)).cast("long"),
        col(tokensCol), "_prior")(col(idCol))
      .withColumn("shard",
        floor(col("_prior") / lit(budgetTokens.toDouble)).cast("long"))
      .drop("_prior")
  }

  /** Weighted sampling WITHOUT replacement, k per group — the
    * Efraimidis–Spirakis exponential-key race: each row draws
    * `wkey = −ln(u)/weight` from its deterministic uniform and the k
    * SMALLEST keys win (a heavier row's key shrinks proportionally, so
    * inclusion probability tracks weight). The textbook sequential
    * algorithm keeps a cumulative-weight walk no distributed engine
    * can run; the key form is stateless per row + a top-k — THE
    * distributed formulation, and because `u` is the seeded md5-60
    * uniform (not `rand()`), the sample inherits [[stratifiedSample]]'s
    * reproducibility: a pure function of (seed, key), identical across
    * re-runs and partitionings, and the k=10 sample is a prefix of the
    * k=20 sample (rank nesting).
    *
    * Keys are rounded to 8 dp (ties then broken by `keyCol`) so the
    * `q_sample_weighted` oracle can replay the ranking cross-engine —
    * the [[graft.ops.TextAnalysis]] ln convention. Rows with
    * non-positive weight are excluded (a zero-weight row must never
    * win; `−ln(u)/0` is ill-defined).
    *
    * 100 TB shape: one window top-k per group partition; for a hot
    * group compose with the salted per-key top-k ([[Skew.saltedTopK]])
    * exactly as `q_skew_topk` does for plain ranking — the key is just
    * another ORDER BY column. The global k-of-corpus case (no group
    * columns) is [[Rank.head]].
    */
  def weightedSample(df: DataFrame, keyCol: String, weightCol: String,
      k: Int, seed: String, groupCols: Seq[String] = Nil): DataFrame = {
    require(k > 0, "k must be positive")
    import org.apache.spark.sql.expressions.Window
    val keyed = df.filter(col(weightCol) > 0)
      .withColumn("wkey",
        round(-log(hashUniform(col(keyCol), seed)) /
          col(weightCol).cast("double"), 8))
    if (groupCols.isEmpty) Rank.head(keyed, k, col("wkey"), col(keyCol))
    else {
      val w = Window.partitionBy(groupCols.map(col): _*)
        .orderBy(col("wkey"), col(keyCol))
      keyed.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= k)
    }
  }

  /** Deterministic distributed reservoir sample: a uniform k-of-corpus
    * sample in ONE pass with NO global sort — each row draws its seeded
    * md5-60 integer key and the k smallest keys win ([[weightedSample]]
    * with uniform weights, specialized to the global case). The global
    * cut is [[Rank.head]]: k rows per partition cross the wire, never
    * the corpus.
    *
    * Properties (all spec-pinned, SamplingSpec):
    *   - reproducible: membership is a pure function of (seed, key) —
    *     identical across runs, partitionings, and engines (integer
    *     keys, zero rounding);
    *   - nested: the k-sample is a prefix of the (k+m)-sample;
    *   - mergeable: reservoirs of disjoint splits union-and-re-cut to
    *     exactly the whole-corpus reservoir — the streaming/sharded
    *     maintenance path.
    */
  def reservoirSample(df: DataFrame, keyCol: String, k: Int,
      seed: String): DataFrame = {
    require(k > 0, "k must be positive")
    // RAW md5-60 long, not the normalized [0,1) double of
    // [[hashUniform]]: ordering is identical, and integer keys make
    // the oracle replay exact with no float conventions at all.
    Rank.head(df.withColumn("ukey",
        Dedup.md5TokenHash60(concat(lit(seed), col(keyCol).cast("string")))),
      k, col("ukey"), col(keyCol))
  }

  /** Temperature-based mix plan: per-group sampling targets that
    * flatten the natural size distribution, `w_g ∝ n_g^tau` (tau < 1
    * up-weights small sources — the standard multilingual/multi-source
    * rebalancing). Returns (group, n_docs, weight, target, rate):
    * `target = round(budget · w_g)` documents wanted from the group,
    * `rate = min(1, target/n_docs)` the per-group keep rate to feed
    * [[stratifiedSample]].
    *
    * tau defaults to 0.5 computed via `sqrt`, which IEEE 754 rounds
    * correctly — bit-identical across engines, unlike `pow`, so the
    * plan is oracle-checkable (`q_mix_temperature`). Tiny output (one
    * row per group); the only corpus-sized work is the count
    * aggregation.
    */
  def temperatureMix(df: DataFrame, groupCol: String, budget: Long,
      tau: Double = 0.5): DataFrame = {
    require(budget > 0, "budget must be positive")
    val wRaw = if (tau == 0.5) sqrt(col("n_docs"))
      else pow(col("n_docs").cast("double"), lit(tau))
    val counts = df.groupBy(col(groupCol).as("group"))
      .agg(count(lit(1)).as("n_docs"))
    val z = counts.agg(sum(wRaw).as("_z"))
    counts.crossJoin(broadcast(z))
      .withColumn("weight", round(wRaw / col("_z"), 4))
      .withColumn("target",
        floor(lit(budget.toDouble) * wRaw / col("_z") + 0.5).cast("long"))
      .withColumn("rate",
        round(least(lit(1.0), col("target").cast("double") / col("n_docs")), 4))
      .select(col("group"), col("n_docs"), col("weight"), col("target"),
        col("rate"))
  }

  /** Leakage-safe train/val/test split: the split is assigned to the
    * near-dup COMPONENT, not the document — every member of a SimHash
    * cluster lands in the same split, so test-set leakage through
    * near-duplicates (the failure mode Lee et al., "Deduplicating
    * Training Data Makes Language Models Better", ACL 2022 documents:
    * eval examples whose near-copies sit in train) is impossible BY
    * CONSTRUCTION, not by post-hoc filtering.
    *
    * Mechanics: [[Dedup.simhashComponents]] labels every doc with its
    * near-dup component (min doc id — deterministic), and the split is
    * the seeded md5-60 uniform OF THE COMPONENT against cumulative
    * fraction cuts. Both halves are engine-portable (the md5-60
    * signature path + the label-fixpoint replay the `dedup_cluster`
    * oracle already runs), so the full split assignment is
    * DuckDB-replayable (`q_split_leakage`).
    *
    * Scale shape: the component labeling is the SimHash pipeline
    * (banded signatures, star edges, bounded label-fixpoint — no
    * quadratic stage); the split itself is one hash per component and
    * a broadcast-size join column. Singleton docs (the overwhelming
    * majority) are their own component, so the split fractions converge
    * to the requested cuts at corpus scale.
    */
  def leakageSafeSplit(df: DataFrame, idCol: String, textCol: String,
      trainFrac: Double, valFrac: Double, seed: String = "split"): DataFrame = {
    require(trainFrac > 0 && valFrac >= 0 && trainFrac + valFrac < 1,
      s"need 0 < trainFrac and trainFrac + valFrac < 1, got $trainFrac + $valFrac")
    val comps = Dedup.simhashComponents(df, idCol, textCol, maxDist = 3,
      tokenHash = Dedup.md5TokenHash60, bits = 60, bands = 4)
    val u = hashUniform(col("component"), seed)
    df.join(comps.withColumnRenamed("id", idCol), Seq(idCol))
      .withColumn("split",
        when(u < trainFrac, lit("train"))
          .when(u < trainFrac + valFrac, lit("val"))
          .otherwise(lit("test")))
  }
}
