package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HYBRID retrieval fusion — Reciprocal-Rank Fusion (Cormack, Clarke &
  * Buettcher, SIGIR 2009): combine a lexical (BM25) ranking and a
  * vector (cosine ANN) ranking into one list by
  * `rrf(d) = Σ_r 1/(k0 + rank_r(d))`, summed over the rankers that
  * retrieved d at all. RRF is the standard production fusion because
  * it needs NO score normalization (ranks only — BM25 logits and
  * cosines never share a scale) and a document strong in both lists
  * reliably outranks one strong in either.
  *
  * Scale shape: fusion consumes the rankers' TOP-m lists — both are
  * model-sized by construction (m ≈ 10–1000), so the full-outer join
  * and the final ranking run on ≤ 2m rows regardless of corpus size;
  * the heavy lifting stays inside the rankers, each with its own
  * bucket-pruned index path ([[TextIndex.bm25TopKIndexed]], the ANN
  * family). Cross-engine determinism: each reciprocal term is one IEEE
  * division on exact integers, summed in the fixed (lexical, vector)
  * order and rounded 6 dp before the final ranking; ties break on id.
  */
object Hybrid {

  /** Fuse N named (id, rk) rankings — the paper's general form:
    * `rrf(d) = Σ over rankers of 1/(k0 + rank_r(d))`, a doc absent from
    * a list contributing nothing for that ranker. Production hybrid
    * stacks routinely fuse ≥ 3 lists (BM25 + dense cosine + a cheap
    * code-domain ranker as a third opinion); the sum is already
    * per-ranker-absent-safe, so N is just the fold. Names label the
    * rankers in the per-ranker rank aliases (`rk_<i>_<name>` in the
    * fused plan and any AnalysisException it throws) and the
    * distinctness require, so a mismatched or duplicated list is
    * attributable to its ranker; ORDER is semantic — reciprocal terms
    * add left to right, so the same list order replays the same IEEE
    * sum in any engine (the 2-ranker (lexical, vector) convention,
    * generalized). Output: (id, rrf, rk), rk ∈ [1, k] — the fused
    * relation's [[Rank.head]]. */
  def rrfTopKN(rankers: Seq[(String, DataFrame)], k: Int,
      k0: Int = 60): DataFrame = {
    require(rankers.nonEmpty, "rrfTopKN needs at least one ranker")
    require(rankers.map(_._1).distinct.length == rankers.length,
      s"ranker names must be distinct, got ${rankers.map(_._1)}")
    require(k >= 1 && k0 >= 0)
    // index prefix keeps aliases distinct even if sanitization
    // collides two names; the name suffix makes a bad list's column
    // errors name their ranker
    val aliases = rankers.zipWithIndex.map { case ((n, _), i) =>
      s"rk_${i}_${n.replaceAll("[^A-Za-z0-9_]", "_")}"
    }
    val named = rankers.zip(aliases).map { case ((_, r), a) =>
      r.select(col("id"), col("rk").as(a))
    }
    val joined = named.reduce(_.join(_, Seq("id"), "full_outer"))
    val rrf = aliases
      .map(a => coalesce(lit(1.0) / (lit(k0) + col(a)), lit(0.0)))
      .reduce(_ + _)
    Rank.head(joined.select(col("id"), round(rrf, 6).as("rrf")), k,
      col("rrf").desc, col("id"))
  }

  /** Fuse two (id, rk) rankings — [[rrfTopKN]] at the classic
    * (lexical, vector) arity; row-identical to the general form
    * (HybridSpec pins the identity). Output: (id, rrf, rk). */
  def rrfTopK(lex: DataFrame, vec: DataFrame, k: Int,
      k0: Int = 60): DataFrame =
    rrfTopKN(Seq("lex" -> lex, "vec" -> vec), k, k0)

  /** Single-query hybrid top-k over a corpus carrying BOTH a text and
    * an embedding column: BM25 over `queryTerms` fused with cosine
    * against `qvec` (a 1-row (qvec) relation), each ranker cut at `m`
    * before fusion. The vector ranking is the [[Rank.head]] of 4-dp
    * rounded cosines, ties by id — no global window ever sees the
    * corpus. */
  def hybridTopK(corpus: DataFrame, idCol: String, textCol: String,
      vecCol: String, queryTerms: Seq[String], qvec: DataFrame,
      k: Int, m: Int, k0: Int = 60): DataFrame = {
    require(m >= k, s"fusion depth m=$m must cover the answer k=$k")
    val lex = TextIndex.bm25TopK(corpus, idCol, textCol, queryTerms, m)
      .select(col("id"), col("rk"))
    val scored = corpus.crossJoin(broadcast(qvec))
      .select(col(idCol).as("id"),
        round(Similarity.cosine(col(vecCol), col("qvec")), 4).as("score"))
    rrfTopK(lex, vecRanking(scored, m), k, k0)
  }

  /** The SERVING composition: [[hybridTopK]] from the two ON-DISK
    * indexes — BM25 through the token-bucket-pruned postings
    * ([[TextIndex.bm25TopKIndexed]], scan opens ≤ |terms| of the
    * bucket directories) and the vector side through an
    * [[IvfIndex.writeIndexed]] cell layout pruned to `nProbe` probed
    * cells (literal partition filters). `nProbe` ≥ the cell count
    * makes the vector side exhaustive — ≡ [[hybridTopK]] row for row
    * (the family's oracle stance; `q_hybrid_rrf_indexed` hash-gates
    * it); smaller `nProbe` is the recall-traded production
    * configuration, whose fused recall HybridSpec floors. The vector
    * ranking keeps the 4-dp rounded head, so indexed ≡
    * inline is exact, not approximate. */
  def hybridTopKIndexed(spark: org.apache.spark.sql.SparkSession,
      bm25Path: String, annPath: String,
      centroids: Array[Array[Double]], queryTerms: Seq[String],
      qvec: DataFrame, k: Int, m: Int, nProbe: Int,
      k0: Int = 60, nBuckets: Int = 64): DataFrame = {
    require(m >= k, s"fusion depth m=$m must cover the answer k=$k")
    val lex = TextIndex.bm25TopKIndexed(spark, bm25Path, queryTerms, m,
        nBuckets)
      .select(col("id"), col("rk"))
    rrfTopK(lex, prunedVecRanking(spark, annPath, centroids, qvec,
      m, nProbe), k, k0)
  }

  /** [[hybridTopKIndexed]] over the EPOCH-maintained stores — the
    * composition a continuously-ingesting serving stack actually runs:
    * the lexical side through [[TextIndex.bm25TopKEpochs]] (per-term
    * bucket pruning across `batch=` epochs, additive corpus stats) and
    * the vector side through an [[IvfIndex.writeIndexed]]-per-epoch
    * layout (`batch=<e>/cell=<c>` — the probed-cell literal filter
    * prunes cell directories one level down, exactly the
    * `text_bm25_epochs` argument on the other modality). Append ≡
    * rebuild on both sides, so this is row-identical to
    * [[hybridTopKIndexed]] over flat stores of the same corpus
    * (HybridSpec pins it); its FUSED freshness over a growing corpus
    * is what [[graft.streaming.RecallStream.monitorHybridBatch]]
    * watches per epoch. */
  def hybridTopKEpochs(spark: org.apache.spark.sql.SparkSession,
      bm25Path: String, annPath: String,
      centroids: Array[Array[Double]], queryTerms: Seq[String],
      qvec: DataFrame, k: Int, m: Int, nProbe: Int,
      k0: Int = 60, nBuckets: Int = 64): DataFrame = {
    require(m >= k, s"fusion depth m=$m must cover the answer k=$k")
    val lex = TextIndex.bm25TopKEpochs(spark, bm25Path, queryTerms, m,
        nBuckets)
      .select(col("id"), col("rk"))
    rrfTopK(lex, prunedVecRanking(spark, annPath, centroids, qvec,
      m, nProbe), k, k0)
  }

  /** The shared pruned dense ranking: probed-cell literal scan of a
    * cell-partitioned layout (flat or epoch-nested — `cell` is a
    * partition column either way), 4-dp cosine, top-m head. */
  private def prunedVecRanking(spark: org.apache.spark.sql.SparkSession,
      annPath: String, centroids: Array[Array[Double]], qvec: DataFrame,
      m: Int, nProbe: Int): DataFrame = {
    val cb = CellIndex.probe(spark.read.parquet(annPath), qvec.select(
      explode(IvfIndex.probeCells(col("qvec"), centroids, nProbe)).as(CellIndex.Col)))
    vecRanking(cb.crossJoin(broadcast(qvec)).select(col("id"),
      round(Similarity.cosine(col("vec"), col("qvec")), 4).as("score")), m)
  }

  /** The dense ranker: (id, rk) of the top m (id, score) rows, ties by
    * id. */
  private def vecRanking(scored: DataFrame, m: Int): DataFrame =
    Rank.head(scored, m, col("score").desc, col("id").asc)
      .select(col("id"), col(Rank.Col))
}
