package graft.ops

import graft.{EpochStore, Materialize}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Full-text ranked retrieval: an inverted postings index and BM25
  * (Robertson/Spärck Jones probabilistic relevance) top-k scoring —
  * the lexical complement of the embedding ANN family
  * ([[Similarity]]/[[IvfIndex]]/[[PqIndex]]). A training-data pipeline
  * uses this for retrieval-based dedup ("is this doc already covered"),
  * contamination triage, and corpus exploration, where exact-token
  * semantics beat embedding recall.
  *
  * Scale shape (the part that matters at 100 TB):
  *   - the postings relation (token, id, tf, dl) is built in ONE
  *     explode→aggregate pass; the per-doc length `dl` is computed at
  *     scan time (an array expression, no shuffle) and denormalized
  *     into each posting row — the classic search-engine trick that
  *     keeps query-time scoring free of any corpus-wide join;
  *   - [[writePostings]] pays that pass once at write time and lays
  *     the postings out partitioned by a token-hash bucket, so a query
  *     probes ≤ |query terms| partitions via literal partition filters
  *     (the same layout contract as [[Similarity.writeLshBucketed]]);
  *   - query-time cost is bucket occupancy, never corpus size: pruned
  *     postings join a broadcast per-term df relation and a broadcast
  *     1-row stats relation, aggregate per doc (the only shuffle,
  *     keyed by doc id, |terms|·df rows), and a [[Rank.head]].
  *
  * Scores are rounded to 4 dp before ranking, ties broken by doc id —
  * the [[TextAnalysis.tfIdfTopTerms]] cross-engine convention, which
  * lets DuckDB replay the whole computation (`text_bm25` oracle).
  */
object TextIndex {

  /** Whitespace tokens, empty strings dropped — must stay in lockstep
    * with the oracle's `string_split_regex(text, '\s+')` replay. */
  private def tokens(textCol: Column): Column =
    filter(split(textCol, "\\s+"), t => t =!= "")

  /** Inverted postings: one row per distinct (token, doc) with the
    * term frequency and the (denormalized) document token count.
    * One scan, one aggregation exchange keyed by (id, dl, token) —
    * `dl` is functionally dependent on `id`, so the extra key changes
    * nothing about the shuffle. */
  def postings(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), tokens(col(textCol)).as("ts"))
      .select(col("id"), size(col("ts")).as("dl"), explode(col("ts")).as("token"))
      .groupBy("id", "dl", "token").agg(count(lit(1)).as("tf"))
      .select("token", "id", "tf", "dl")

  /** Corpus stats BM25 needs besides the postings: document count and
    * mean document length, over docs with ≥1 token (a doc with no
    * tokens can never match — keeping it out of N/avgdl makes the
    * inline and DuckDB formulations agree without a zero-length
    * special case). A scan-level aggregate: no explode, no shuffle
    * beyond the 1-row reduction. */
  def corpusStats(docs: DataFrame, textCol: String): DataFrame =
    docs.filter(col(textCol).isNotNull)
      .select(size(tokens(col(textCol))).as("dl"))
      .filter(col("dl") > 0)
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

  /** BM25 top-k over an inline corpus — builds the (term-pruned)
    * postings on the fly. Two passes over `docs`: the cheap stats
    * scan (no explode) and the postings pass; the term filter lands
    * BELOW the postings aggregation, so only query-term tokens survive
    * the explode into the exchange. The df relation re-aggregates the
    * pruned postings; it references `tf` in an un-eliminable form so
    * both consumers share one canonical aggregate subtree and the
    * exchange is reused (the [[TextAnalysis.tfIdfTopTerms]] lesson).
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    val post = postings(docs, idCol, textCol)
      .filter(col("token").isin(queryTerms.distinct: _*))
    score(post, corpusStats(docs, textCol), k, k1, b)
  }

  /** Write the postings index: `<path>/postings` partitioned by
    * `tb = pmod(xxhash64(token), nBuckets)` (directory count is
    * `nBuckets`, never vocabulary size) and the 1-row corpus stats at
    * `<path>/stats`. The explode pass over the corpus happens HERE,
    * once; queries only ever read probed buckets. */
  def writePostings(docs: DataFrame, idCol: String, textCol: String,
      path: String, nBuckets: Int = 64): Unit = {
    postings(docs, idCol, textCol)
      .withColumn("tb", pmod(xxhash64(col("token")), lit(nBuckets)))
      .write.mode("overwrite").partitionBy("tb").parquet(s"$path/postings")
    corpusStats(docs, textCol)
      .write.mode("overwrite").parquet(s"$path/stats")
  }

  /** EPOCH-append for the lexical index — the
    * [[IvfPq.appendIndexEpoch]] discipline applied to postings: the
    * delta's postings land under `path/postings/batch=<epoch>/tb=<b>`
    * (frozen bucket hash — `tb` stays `pmod(xxhash64(token), nBuckets)`
    * forever, so one term's postings collect in ONE bucket across every
    * epoch and the probe's pruning argument survives appends), in
    * OVERWRITE mode so a foreachBatch retry replaces its own prior
    * output. Nightly arrivals no longer force the full-index rebuild
    * [[writePostings]] is.
    *
    * Stats stance — and why NOTHING here needs the frozen-quantizer
    * staleness rule: unlike a codebook, BM25's corpus statistics are
    * ADDITIVE. Each epoch stores its own sufficient statistics
    * (`n_docs`, `sum_dl` — exact longs) under `path/estats/batch=`;
    * the probe sums them and derives `avgdl = Σsum_dl / Σn_docs`,
    * which is bit-for-bit the rebuilt store's `avg(dl)` (integer sums
    * are order-free; one IEEE division each way). Per-term `df` was
    * always derived from the pruned postings at probe time, and a
    * term's postings live entirely in its bucket across epochs — so
    * append ≡ rebuild EXACTLY, row for row (TextIndexSpec pins it),
    * with no staleness window and no refresh trigger to schedule.
    * The one real freshness rule is the family's id contract: doc ids
    * must be unique across epochs (a re-crawled doc is a
    * retract-then-append lifecycle event — [[graft.streaming.IngestGate]]
    * discipline), or its dl/df would double-count.
    *
    * An epoch-maintained index is batch-partitioned from birth (first
    * generation written through this method too; a full rewrite is
    * `epoch = -1`, the [[Compaction]] base-generation id); the flat
    * [[writePostings]] layout and this one are alternative roots,
    * never mixed under one path. Lifecycle:
    * `Compaction.compactEpochs(_, "$path/postings", h, nestedPartCols
    * = Seq("tb"))` plus the same over `estats`;
    * [[Retraction.retractPostingsEpochs]] scrubs ids and rewrites the
    * stats exactly. */
  def appendPostingsEpoch(delta: DataFrame, idCol: String,
      textCol: String, path: String, epoch: Long,
      nBuckets: Int = 64): Unit = {
    // Empty-epoch policy (the gate's): an empty or all-empty-text
    // delta writes NOTHING — neither postings nor a (0, NULL) estats
    // row whose sum_dl would null the summed avgdl in a store holding
    // only such epochs. One bounded probe; the postings slice is
    // delta-sized, so its checkpoint is batch-cost.
    val post = Materialize(postings(delta, idCol, textCol)
      .withColumn("tb", pmod(xxhash64(col("token")), lit(nBuckets))))
    try {
      if (post.isEmpty) return
      EpochStore.write(post, s"$path/postings", epoch, "tb")
      EpochStore.write(epochStats(post), s"$path/estats", epoch)
    } finally Materialize.release(post)
  }

  /** The additive per-epoch statistics relation from a postings slice:
    * one row of exact longs — document count and summed document
    * length over the distinct docs in the slice. */
  private[ops] def epochStats(post: DataFrame): DataFrame =
    post.select(col("id"), col("dl")).distinct()
      .agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))

  /** [[bm25TopKIndexed]] against an [[appendPostingsEpoch]] store:
    * identical probe mechanics (`batch` is one more partition level —
    * the `tb` literal filter prunes directories one level down), with
    * the corpus stats summed from the per-epoch sufficient statistics.
    * Result ≡ the flat store's ≡ the inline [[bm25TopK]] over the
    * epochs' union. */
  def bm25TopKEpochs(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int, nBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    // a store whose every append was empty never materialized the
    // postings tree (the skip policy above) — the probe's answer is
    // the EMPTY relation, not a missing-path error
    val root = new org.apache.hadoop.fs.Path(s"$path/postings")
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(root))
      return Seq.empty[(Long, Double, Int)].toDF("id", "score", "rk")
    val qt = queryTerms.distinct
    val buckets = qt.toDF("token")
      .select(pmod(xxhash64(col("token")), lit(nBuckets)).as("tb"))
      .distinct().as[Long].collect()
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(buckets.toIndexedSeq: _*) &&
        col("token").isin(qt: _*))
    // The n > 0 filter is the public API's twin of the gate's
    // empty-epoch policy: a store whose epochs sum to zero docs (all
    // written before appendPostingsEpoch learned to skip empties)
    // yields the EMPTY relation — score's crossJoin against empty
    // stats — rather than NULL avgdl poisoning every contribution.
    val stats = spark.read.parquet(s"$path/estats")
      .agg(sum(col("n_docs")).as("n"), sum(col("sum_dl")).as("s"))
      .filter(col("n").isNotNull && col("n") > 0)
      .select(col("n").as("n_docs"),
        (col("s").cast("double") / col("n").cast("double")).as("avgdl"))
    score(post, stats, k, k1, b)
  }

  /** BM25 top-k against a [[writePostings]] index: the query terms'
    * bucket ids become a literal partition filter (TextIndexSpec gates
    * `PartitionFilters`), so the scan opens ≤ |terms| of the
    * `nBuckets` directories; df is derived from the pruned postings
    * (exact — a term's postings live entirely in its bucket). Result
    * is row-identical to the inline [[bm25TopK]] — the `text_bm25`
    * oracle SQL gates both. */
  def bm25TopKIndexed(spark: SparkSession, path: String,
      queryTerms: Seq[String], k: Int, nBuckets: Int = 64,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    import spark.implicits._
    val qt = queryTerms.distinct
    val buckets = qt.toDF("token")
      .select(pmod(xxhash64(col("token")), lit(nBuckets)).as("tb"))
      .distinct().as[Long].collect()
    val post = spark.read.parquet(s"$path/postings")
      .filter(col("tb").isin(buckets.toIndexedSeq: _*) &&
        col("token").isin(qt: _*))
    score(post, spark.read.parquet(s"$path/stats"), k, k1, b)
  }

  /** Shared scoring tail: per-term df over the pruned postings
    * (broadcast), idf = ln((N − df + ½)/(df + ½) + 1) (the
    * Lucene-style floor-at-zero variant), per-posting contribution
    * tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)), summed per doc,
    * rounded, top-k by (score desc, id). */
  private def score(post: DataFrame, stats: DataFrame, k: Int,
      k1: Double, b: Double): DataFrame = {
    // sum(when(tf≥1)) — not count(1) — keeps `tf` referenced so this
    // branch's aggregate subtree stays canonically identical to the
    // scoring branch's and the postings exchange is reused.
    val dfRel = post.groupBy("token")
      .agg(sum(when(col("tf") >= 1, 1L).otherwise(0L)).as("df"))
    val scored = post
      .join(broadcast(dfRel), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("idf",
        log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0))
      .withColumn("contrib",
        col("idf") * (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl"))))
      .groupBy("id").agg(round(sum(col("contrib")), 4).as("score"))
    Rank.head(scored, k, col("score").desc, col("id"))
      .select(col("id"), col("score"), col(Rank.Col))
  }
}
