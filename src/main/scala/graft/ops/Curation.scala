package graft.ops

import graft.Materialize
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The composed corpus-curation pipeline — the flagship "what this
  * engine is for" dataflow, chaining the individually-tested stages in
  * the order a real training-data build runs them:
  *
  *   1. language ID + quality scoring (one codegen'd byte-scan
  *      projection per document — [[TextAnalysis]]);
  *   2. filter: predicted language known (not "und") AND quality above
  *      threshold — runs at scan speed, BEFORE anything shuffles, so at
  *      100 TB the expensive stages below see only the surviving
  *      fraction;
  *   3. exact dedup, keep-first: one shuffle on the 16-byte text
  *      digest, lowest doc_id survives per duplicate group (window
  *      `row_number` — no join-back, single exchange);
  *   4. per-(language, source) corpus statistics — the tiny rollup a
  *      curation run reports.
  *
  * Stage ORDER is the 100 TB design decision: filters (cheap, selective,
  * no shuffle) → dedup (one shuffle, carries only survivors) → stats
  * (map-side-combinable agg over deduped rows). Near-dup stages
  * ([[Dedup.minhashLshComponents]] and friends) slot in after exact
  * dedup in production; the catalog query keeps the oracle-expressible
  * exact stage so the whole composition is hash-gated end-to-end
  * against DuckDB (`corpus_curation`), while the dedup stage's
  * keep-first semantics are pinned on crafted duplicates in
  * CurationSpec (the harness corpus has no exact duplicates — by
  * construction it only exercises the stage's plumbing).
  */
object Curation {

  /** Per-document curation projection: doc_id, source, lang_pred,
    * n_tokens, quality (round-4, matching the oracle's arithmetic). */
  def score(docs: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    docs.withColumn("lang_pred", TextAnalysis.langId(t))
      .withColumn("n_tokens", TextAnalysis.tokenCount(t))
      .withColumn("quality", TextAnalysis.qualityScore(t))
  }

  /** Stages 1–3: score → filter → exact-dedup (keep lowest id). */
  def curate(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double): DataFrame = {
    val filtered = score(docs, textCol)
      .filter(col("lang_pred") =!= "und" && col("quality") >= minQuality)
    val w = Window.partitionBy(col("_fp")).orderBy(col(idCol))
    filtered.withColumn("_fp", md5(col(textCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_fp", "_rn")
  }

  /** The production composition promised above: [[curate]]'s exact
    * stage followed by CLUSTER-LEVEL MinHash near-dup removal
    * ([[Dedup.dedupByMinhash]]: verified star edges + connected
    * components, one representative per near-dup cluster, output linear
    * in corpus size). Stage order still does the 100 TB work: the
    * shingle/banding machinery only ever sees documents that survived
    * the scan-speed filters AND exact dedup. */
  def curateNearDup(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double, numHashes: Int = 64, bands: Int = 16,
      n: Int = 3, threshold: Double = 0.5): DataFrame =
    Dedup.dedupByMinhash(curate(docs, idCol, textCol, minQuality),
      idCol, textCol, numHashes, bands, n, threshold)

  /** The oracle-portable twin of [[curateNearDup]]: same stage order,
    * with the cluster stage on md5-60 SimHash signatures
    * ([[Dedup.dedupBySimhash]]) that DuckDB recomputes exactly — so the
    * WHOLE production composition (score → filter → exact dedup →
    * near-dup cluster collapse) is hash-gated end-to-end
    * (`corpus_curation_neardup`), not just its stages individually. */
  def curateNearDupSimhash(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double, maxDist: Int = 3): DataFrame = {
    // The scored survivors feed the signature pass AND the keep join
    // inside [[Dedup.dedupBySimhash]] — materialize once so the
    // classifier scoring scan (the chain's CPU-heavy leaf) runs once
    // per invocation instead of once per downstream reference.
    val curated = Materialize(curate(docs, idCol, textCol, minQuality))
    Dedup.dedupBySimhash(curated, idCol, textCol, maxDist,
      tokenHash = Dedup.md5TokenHash60, bits = 60, bands = 4)
  }

  /** Benchmark decontamination: drop every corpus document that shares
    * at least one word `n`-gram with the evaluation set — the overlap
    * filter that keeps test sets out of training data. Membership is
    * exact n-gram identity (the standard 8–13-gram rule, `n`
    * calibrated to document length), computed over 64-bit shingle
    * hashes ([[Dedup.shingleHashes]]'s codegen'd relation: the corpus
    * shuffle carries 8-byte keys, never gram strings).
    *
    * 100 TB shape: the eval set is FIXED-SIZE (benchmarks are KBs–MBs,
    * the corpus is TBs), so its distinct shingle set is broadcast and
    * the corpus side never shuffles for the membership probe — one
    * scan-speed semi-join, then one id-keyed shuffle to distinct the
    * contaminated ids before the anti-join. Collision risk of hashing
    * (two different grams colliding in 64 bits AND only thereby
    * contaminating a doc) is ~m·b/2⁶⁴ for m corpus × b bench shingles —
    * negligible next to the false-positive rate of n-gram matching
    * itself.
    */
  def decontaminate(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 8): DataFrame = {
    val corpusSh = Dedup.shingleHashes(corpus, idCol, textCol, n)
    val benchSh = Dedup.shingleHashes(bench, benchIdCol, benchTextCol, n)
      .select(col("shingle")).distinct()
    val contaminated = corpusSh
      .join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .select(col("id").as(idCol)).distinct()
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminate]] for eval sets too big to broadcast raw: probe a
    * BLOOM FILTER of the bench shingles instead of the distinct-set
    * hash relation. A raw 64-bit shingle set broadcasts at 8 B/key plus
    * hash-table overhead (~30 B/key in a BroadcastHashJoin); the bloom
    * sketch at 1% fpp costs ~1.2 B/key — two orders of magnitude
    * smaller for a billion-shingle eval suite, turning an
    * un-broadcastable probe side back into a map-side filter.
    *
    * Correctness is NOT approximate: a bloom filter has no false
    * negatives, so the pre-filter passes a superset of true matches,
    * and the exact semi-join on the (tiny) surviving candidate set
    * kills the false positives — the result is row-identical to
    * [[decontaminate]] at any `fpp` (CurationSpec pins equality at
    * fpp = 0.5). The fpp knob trades sketch size against wasted exact
    * probes only.
    *
    * Plan shape at 100 TB: one distributed aggregation builds the
    * sketch (map-side partial blooms OR-merged at the driver — the same
    * topology as building any broadcast), the corpus scan applies
    * `might_contain` at scan speed with no shuffle, and only candidate
    * shingles (|true matches| + fpp·|corpus shingles|) reach the exact
    * verify join.
    */
  def decontaminateBloom(corpus: DataFrame, idCol: String, textCol: String,
      bench: DataFrame, benchIdCol: String, benchTextCol: String,
      n: Int = 8, fpp: Double = 0.01): DataFrame = {
    // The bench shingle relation feeds three consumers (the sizing
    // count, the bloom build, the exact verify join); the premise of
    // this function is that it is BIG, so derive it once, and
    // checkpoint the (tiny) contaminated-id set the result reads.
    val contaminated = Materialize.cached(
        Dedup.shingleHashes(bench, benchIdCol, benchTextCol, n)
          .select(col("shingle")).distinct()) { benchSh =>
      Materialize(bloomCandidates(corpus, idCol, textCol, benchSh, n, fpp)
        .join(benchSh, Seq("shingle"), "left_semi")
        .select(col("id").as(idCol)).distinct())
    }
    corpus.join(contaminated, Seq(idCol), "left_anti")
  }

  /** [[decontaminateBloom]]'s pre-filter stage: corpus (id, shingle)
    * rows surviving the bloom probe. Package-private so the pruning
    * spec exercises the production candidate construction instead of
    * re-deriving it. `benchSh` is the distinct bench shingle relation
    * (callers persist it when it has other consumers). */
  private[graft] def bloomCandidates(corpus: DataFrame, idCol: String,
      textCol: String, benchSh: DataFrame, n: Int, fpp: Double): DataFrame = {
    val spark = corpus.sparkSession
    val expected = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter("shingle", expected, fpp)
    val bloomB = spark.sparkContext.broadcast(bloom)
    val mightContain = udf((h: Long) => bloomB.value.mightContainLong(h))
    Dedup.shingleHashes(corpus, idCol, textCol, n)
      .filter(mightContain(col("shingle")))
  }

  /** Full pipeline: curated per-(lang_pred, source) statistics.
    * Aggregates are exact-integer or order-insensitive (min/max) except
    * avg_quality, which is rounded coarsely enough (2 dp) to absorb
    * summation-order ULP differences between engines. */
  def report(docs: DataFrame, idCol: String, textCol: String,
      minQuality: Double): DataFrame =
    curate(docs, idCol, textCol, minQuality)
      .groupBy(col("lang_pred"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(avg(col("quality")), 2).as("avg_quality"),
        min(col("quality")).as("min_quality"),
        max(col("quality")).as("max_quality"))
      .orderBy(col("lang_pred"), col("source"))
}
