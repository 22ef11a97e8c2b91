package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** N-gram language-model scoring — the CCNet/KenLM-style quality signal
  * a pretraining corpus build runs between the cheap byte-scan gates and
  * anything model-based: score every document by how surprising its
  * token sequence is under a reference language model, then keep the
  * head (or middle) of the perplexity distribution.
  *
  * Reference behavior: the reference engine's quality stage exposes only
  * per-document token statistics (kube-etl's analyze stage); an LM
  * score is the standard corpus-curation extension of that family
  * (CCNet, Wenzek et al. 2020 — "perplexity of a language model trained
  * on the target domain as a quality proxy").
  *
  * Design for 100 TB:
  *
  *   - The MODEL is vocabulary-bounded, not corpus-bounded: bigram and
  *     context counts grow with distinct-bigram count (Heaps-law
  *     sublinear), so the two model relations are orders of magnitude
  *     smaller than the corpus being scored. Scoring joins the corpus's
  *     exploded bigram stream against them on (w1, w2) / (w1) — Catalyst
  *     broadcasts the model sides when they fit (the common case:
  *     a curated reference slice), and AQE's skew handling covers the
  *     Zipf-hot bigram keys when a shuffle join is forced.
  *   - The corpus is touched exactly ONCE: one projection builds the
  *     per-document bigram stream (the [[TextRank]] zip_with idiom —
  *     a single pass, no self-join on token position), and the per-doc
  *     aggregation collapses it right after the model join. Nothing
  *     document-sized crosses more than the one aggregation exchange.
  *   - Training reads the reference slice ONCE: one tokenized pass
  *     aggregates the bigram counts into a checkpoint, and every model
  *     relation derives FROM it (contexts: the invariant
  *     c1(w) = Σ_w2 c12(w, w2) is by construction, not a second corpus
  *     pass). The vocabulary size and the count-of-counts are driver
  *     scalars, model parameters like the classifier's weight array,
  *     collected together from that checkpoint.
  *
  * Cross-engine determinism (the oracle replays everything): all counts
  * are exact integers; the per-bigram negative log-likelihood
  * ln((c12+1)/(c1+V)) is one IEEE division + one ln of identical
  * operands on both engines; the per-document mean is float-summed in
  * engine-specific order, so the output rounds to 3 dp — the same
  * discipline as [[TextAnalysis.tokenKlDivergence]].
  */
object LanguageModel {

  /** Add-one-smoothed bigram model: P(w2 | w1) = (c12 + 1) / (c1 + V).
    *
    * @param bigrams  (w1, w2, c12) — observed bigram counts
    * @param contexts (w1, c1) — Σ over w2 of c12 (bigram-position counts)
    * @param vocab    distinct token count of the reference slice
    */
  final case class BigramLm(bigrams: DataFrame, contexts: DataFrame, vocab: Long)

  /** Per-document bigram stream: (id, w1, w2), one row per adjacent
    * token pair. Documents with < 2 tokens contribute nothing. */
  def docBigrams(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ts = df.filter(col(textCol).isNotNull)
      .select(col(idCol).as("id"), TextAnalysis.tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 1)
    ts.select(col("id"), explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** What one pass over a reference slice yields: the checkpointed
    * bigram counts (w1, w2, c12) and the scalars both trainers need —
    * vocabulary size, distinct bigrams, and the count-of-counts n₁/n₂. */
  private final case class RefCounts(bigrams: DataFrame, vocab: Long,
      n1all: Long, n1: Long, n2: Long)

  /** Every token position emits (w1 = token, w2 = next token or null),
    * so each token occurrence is a w1 exactly once: the distinct w1 are
    * the vocabulary, the rows with a w2 are the bigram counts. The
    * count relation is checkpointed once and every scalar comes from
    * one collect over it. An empty slice fails here: it has no
    * vocabulary, so every smoothed probability would divide by zero. */
  private def refCounts(ref: DataFrame, textCol: String): RefCounts = {
    val ts = ref.filter(col(textCol).isNotNull)
      .select(TextAnalysis.tokens(col(textCol)).as("ts"))
    val next = slice(col("ts"), lit(2), greatest(size(col("ts")) - 1, lit(0)))
    val counts = Materialize(ts
      .select(explode(zip_with(col("ts"), next,
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .groupBy(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
      .agg(count(lit(1)).as("c12")))
    val isBigram = col("w2").isNotNull
    val r = counts.agg(countDistinct(col("w1")), count(when(isBigram, 1)),
        count(when(isBigram && col("c12") === 1, 1)),
        count(when(isBigram && col("c12") === 2, 1)))
      .collect().head
    require(r.getLong(0) > 0,
      "language-model reference slice is empty: no tokens to train on")
    RefCounts(counts.filter(isBigram), r.getLong(0), r.getLong(1),
      r.getLong(2), r.getLong(3))
  }

  /** Train on a reference slice: one pass ([[refCounts]]) for the bigram
    * relation and the vocabulary; contexts derive from the bigrams. */
  def trainBigramLm(ref: DataFrame, textCol: String): BigramLm = {
    val rc = refCounts(ref, textCol)
    val contexts = rc.bigrams.groupBy("w1").agg(sum("c12").as("c1"))
    BigramLm(rc.bigrams, contexts, rc.vocab)
  }

  /** Per-document mean negative log-likelihood under `lm` (natural log;
    * perplexity = e^nll). Output: (id, n_bigrams, nll rounded 3 dp).
    * Unseen bigrams and unseen contexts fall out of the same smoothed
    * formula via the left joins' coalesce-to-zero — no OOV special
    * case. Documents with < 2 tokens are absent (no sequence to score). */
  def perplexity(docs: DataFrame, idCol: String, textCol: String,
      lm: BigramLm): DataFrame = {
    val bg = docBigrams(docs, idCol, textCol)
    bg.join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.contexts, Seq("w1"), "left")
      .withColumn("nll_term",
        -log((coalesce(col("c12"), lit(0L)) + lit(1L)) /
          (coalesce(col("c1"), lit(0L)) + lit(lm.vocab)).cast("double")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll_term")), 3).as("nll"))
  }

  /** The composed signal: train on the `refFilter` slice of `docs`,
    * score every document against it. In-domain documents sit low,
    * out-of-domain and degenerate text sit high — the rank a mix
    * report or a quality gate consumes. */
  def perplexityVsSlice(docs: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    val lm = trainBigramLm(docs.filter(refFilter), textCol)
    perplexity(docs, idCol, textCol, lm)
  }

  // ------------------------------------------------------------------
  // Interpolated Kneser–Ney (Kneser & Ney 1995; Chen & Goodman 1999
  // §2.7) — the smoothing KenLM (and therefore CCNet's quality model)
  // actually uses. Add-one treats every unseen bigram alike; KN backs
  // off to how PROMISCUOUS a word is (how many distinct contexts it
  // follows), which is the right prior for natural text ("Francisco"
  // is frequent but follows only "San"). Everything below is count
  // aggregations over the bigram relation — same vocabulary-bounded
  // model shape as the add-one form, one extra groupBy for the
  // continuation counts.
  // ------------------------------------------------------------------

  /** Interpolated-KN bigram model.
    * @param bigrams  (w1, w2, c12)
    * @param contexts (w1, c1, n1fwd) — total and distinct continuations
    * @param rights   (w2, n1bwd) — distinct left-contexts of w2
    * @param n1all    distinct bigram count
    * @param vocab    distinct token count of the reference slice
    * @param discount absolute discount D = n₁/(n₁+2n₂) from the
    *                 count-of-counts (Ney's estimate; 0.5 if degenerate) */
  final case class KnBigramLm(bigrams: DataFrame, contexts: DataFrame,
      rights: DataFrame, n1all: Long, vocab: Long, discount: Double)

  /** Train the KN model: the add-one trainer's pass plus the
    * right-context counts, all over the one bigram checkpoint. */
  def trainKnBigramLm(ref: DataFrame, textCol: String): KnBigramLm = {
    val rc = refCounts(ref, textCol)
    val contexts = rc.bigrams.groupBy("w1")
      .agg(sum("c12").as("c1"), count(lit(1)).as("n1fwd"))
    val rights = rc.bigrams.groupBy("w2").agg(count(lit(1)).as("n1bwd"))
    val d = if (rc.n1 + 2 * rc.n2 > 0) rc.n1.toDouble / (rc.n1 + 2 * rc.n2) else 0.5
    KnBigramLm(rc.bigrams, contexts, rights, rc.n1all, rc.vocab, d)
  }

  /** Per-document mean negative log-likelihood under interpolated KN:
    *
    *   P(w2|w1) = max(c12 − D, 0)/c1 + (D·n1fwd(w1)/c1) · P_cont(w2)
    *   P_cont(w2) = (n1bwd(w2) + 1) / (n1all + V)   [add-one for OOV]
    *   unseen context w1 → P(w2|w1) = P_cont(w2)
    *
    * Same output shape as [[perplexity]]: (id, n_bigrams, nll 3 dp). */
  def perplexityKn(docs: DataFrame, idCol: String, textCol: String,
      lm: KnBigramLm): DataFrame = {
    val bg = docBigrams(docs, idCol, textCol)
    val pcont = (coalesce(col("n1bwd"), lit(0L)) + lit(1L)).cast("double") /
      lit((lm.n1all + lm.vocab).toDouble)
    val seen = greatest(coalesce(col("c12"), lit(0L)).cast("double") -
        lit(lm.discount), lit(0.0)) / col("c1") +
      (lit(lm.discount) * col("n1fwd") / col("c1")) * col("pcont")
    bg.join(lm.bigrams, Seq("w1", "w2"), "left")
      .join(lm.contexts, Seq("w1"), "left")
      .join(lm.rights, Seq("w2"), "left")
      .withColumn("pcont", pcont)
      .withColumn("p", when(col("c1").isNull, col("pcont")).otherwise(seen))
      .withColumn("nll_term", -log(col("p")))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("nll_term")), 3).as("nll"))
  }

  /** KN twin of [[perplexityVsSlice]]. */
  def perplexityKnVsSlice(docs: DataFrame, idCol: String, textCol: String,
      refFilter: Column): DataFrame = {
    val lm = trainKnBigramLm(docs.filter(refFilter), textCol)
    perplexityKn(docs, idCol, textCol, lm)
  }

  /** CCNet-style PERPLEXITY BUCKETING (Wenzek et al., "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl
    * Data", LREC 2020): split the corpus into `bands` equal-population
    * tiers by LM perplexity — the head/middle/tail partition CCNet
    * publishes and downstream mixes sample from (head = reads most
    * like the reference slice). Input is any (id, …, nll) relation
    * ([[perplexityKn]]/[[perplexity]] output); adds (band, tier) —
    * band ∈ [0, bands), tier the head/middle/tail label (band indices
    * past 3 keep the numeric form).
    *
    * Cut VALUES, not cut ranks: band k's cut is the smallest nll whose
    * cumulative count reaches ⌈(k+1)·n/bands⌉, and every document is
    * assigned by VALUE comparison against the cuts — ties at a cut all
    * land in the lower band (bands deviate from n/bands only by tie
    * mass), membership is a pure function of (nll, cuts) the oracle
    * replays, and re-runs under any partitioning agree.
    *
    * Scale shape: nll is 3-dp-rounded over a bounded range, so the
    * (nll, count) histogram is a BOUNDED relation (the [[Drift]]
    * binning discipline — ≤ range·10³ rows regardless of corpus size);
    * it is collected like a codebook and the cuts computed on the
    * driver — no global sort or rank of the data anywhere. Assignment
    * is one scan against `bands − 1` literal cuts. */
  /** The by-value band cuts of [[perplexityBuckets]], exposed so a
    * frozen gate ([[graft.streaming.PplGate]]) carries the identical
    * `bands − 1` driver scalars the batch operator computes. */
  def perplexityCuts(ppl: DataFrame, bands: Int): Seq[Double] = {
    require(bands >= 2, s"need at least 2 bands, got $bands")
    val hist = ppl.groupBy("nll").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getDouble(0), r.getLong(1))).sortBy(_._1)
    val n = hist.map(_._2).sum
    require(n > 0, "no scored documents to bucket")
    (1 until bands).map { k =>
      val need = math.ceil(k.toDouble * n / bands).toLong
      var acc = 0L
      hist.find { case (_, c) => acc += c; acc >= need }.get._1
    }
  }

  /** Band assignment fold under fixed cut values — shared by the batch
    * bucketing and the frozen streaming gate. */
  def bandOfCuts(cuts: Seq[Double]): Column =
    cuts.foldLeft(lit(0)) { (acc, cv) =>
      acc + when(col("nll") > cv, 1).otherwise(0)
    }

  /** Checkpoints `ppl` first: the cuts are collected from it and the
    * bands assigned over it, so the scoring chain runs once. */
  def perplexityBuckets(ppl: DataFrame, bands: Int = 3): DataFrame = {
    val scored = Materialize(ppl)
    val bandCol = bandOfCuts(perplexityCuts(scored, bands))
    val tier =
      if (bands == 3)
        when(col("band") === 0, lit("head"))
          .when(col("band") === 1, lit("middle"))
          .otherwise(lit("tail"))
      else col("band").cast("string")
    scored.withColumn("band", bandCol).withColumn("tier", tier)
  }
}
