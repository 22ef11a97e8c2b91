package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) for approximate nearest-neighbor search:
  * the third ANN path next to [[Similarity.lshTopK]] and
  * [[IvfIndex.topK]], and the one that attacks a different bottleneck —
  * *bytes per vector*, not candidates per query.
  *
  * The vector space is split into `m` subspaces; each subspace gets its
  * own `k`-centroid codebook (deterministic distributed k-means, same
  * contract as [[IvfIndex.train]]); a vector is stored as `m` small
  * integers (its per-subspace nearest centroids). At 100 TB this is the
  * difference between scanning 256 B/row of float32 and scanning
  * `m` bytes/row of codes — a 32× scan-I/O reduction at m=8 for 64-dim
  * embeddings — while the original vectors are fetched only for the
  * shortlist re-rank:
  *
  *   1. ADC pass: score every corpus row against each query with the
  *      query's lookup table (LUT[subspace][code] = dot of the query
  *      subvector with that centroid; approximate inner product = sum
  *      of `m` table lookups — flat codegen'd arithmetic, no UDF, no
  *      per-element lambda). Reads ONLY (id, codes).
  *   2. Shortlist: top-`shortlist` rows per query by ADC score.
  *   3. Exact re-rank: join the shortlist ids back to the corpus
  *      vectors, exact cosine, top-k. Vectors cross the wire for
  *      shortlist rows only.
  *
  * Codebooks are trained on unit-normalized vectors so inner product
  * approximates cosine — but NO per-row normalization happens in the
  * scan paths: code assignment is an argmax over dot products, which is
  * invariant to positive row scaling, and a query's LUT scales all of
  * that query's ADC scores by the same 1/‖q‖ factor, leaving its
  * ranking unchanged. (Training divides by the row norm inside the
  * mean aggregation itself.) That keeps every per-row computation a
  * codegen'd expression — no interpreted `transform` lambda anywhere.
  * The final re-rank uses the exact cosine on the raw vectors, so with
  * `shortlist >= |corpus|` the result is EXACTLY
  * [[Similarity.bruteForceTopK]] — which is how the `ann_pq` catalog
  * entry is oracle-gated end-to-end (same pattern as IVF's
  * exhaustive-probe mode; pruned-shortlist recall is asserted in
  * PqIndexSpec).
  *
  * Beyond-reference extension (SURVEY §7.2.8): the reference has no
  * vector surface; PQ is public-literature ANN (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011) re-expressed
  * as Spark aggregations.
  */
object PqIndex {

  /** `m` codebooks of `k` centroids over `dsub`-dim subspaces
    * (books(m)(k) is a length-`dsub` double array). */
  final case class Codebooks(m: Int, dsub: Int, books: Array[Array[Array[Double]]]) {
    def k: Int = books(0).length
    def dim: Int = m * dsub
  }

  /** PQ codes for a (raw) vector: array of `m` centroid indices.
    *
    * Codebooks-as-DATA (round-10 directive #3, same move as
    * [[IvfIndex.bestCell]]): one [[graft.functions.PqEncodeExpr]]
    * carrying the m×k×dsub codebook as a JVM reference — generated
    * code is a fixed triple loop, O(1) in both m and k, so k=256
    * codebooks stay inside whole-stage codegen (the old form unrolled
    * m×k literal dot subtrees). */
  def encode(vec: Column, cb: Codebooks): Column =
    graft.functions.functions.pq_encode(vec, cb.books)

  /** Per-query lookup table, FLAT: `LUT[mi·k + code]` = query subvector
    * · centroid (raw query — the uniform 1/‖q‖ factor cannot change
    * that query's ranking). One primitive `array<double>` of `m·k`
    * per query — queries are small by contract, and the flat layout is
    * what lets both this table and [[adcScore]]'s reads stay codegen'd
    * at any k. */
  def lut(qvec: Column, cb: Codebooks): Column =
    graft.functions.functions.pq_lut(qvec, cb.books)

  /** Approximate inner product: Σ over subspaces of LUT[mi·k +
    * codes[mi]] over the flat [[lut]] layout. `m` array lookups + adds
    * — stays inside whole-stage codegen. */
  def adcScore(codes: Column, lutCol: Column, m: Int, k: Int): Column =
    (0 until m).map { mi =>
      element_at(lutCol, lit(mi * k) + element_at(codes, mi + 1) + 1)
    }.reduce(_ + _)

  /** Train `m` codebooks in parallel through [[Lloyd.fit]] — every
    * Lloyd iteration is ONE distributed aggregation covering all
    * subspaces (assign all `m` codes per row, posexplode the vector
    * once, mean per (subspace, cell, dim)); only `m×k×dsub` doubles
    * reach the driver. Seeds and means are unit-normalized (the mean
    * divides by the row norm inside the aggregation); codes assign by
    * [[encodeDispatch]], so a codebook at or above the cutover (total
    * centroids m·k) assigns through the broadcast relation.
    * Deterministic: id-hash-sampled seed rows, fixed iterations.
    */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 2,
      seed: String = "km"): Codebooks =
    Lloyd.fit(corpus.select(col(idCol).as("id"), col(vecCol).as("v")),
        m, k, iters, seed, unit = true)(encodeDispatch(_, "id", "v", _))

  /** Encode-side codebooks for TRUE L2 nearest-centroid assignment:
    * each centroid gains a −‖c‖²/2 coordinate, linearizing argmin-L2
    * into the existing codegen'd argmax-dot against a vector augmented
    * with a constant-1 per subspace (the [[graft.ops.Opq]] trick,
    * shared by [[graft.ops.ResidualPq]]). NEVER used for LUT/ADC. */
  private[ops] def augmentL2(cb: Codebooks): Codebooks =
    Codebooks(cb.m, cb.dsub + 1,
      cb.books.map(_.map(c => c :+ (-0.5 * c.map(x => x * x).sum))))

  /** The augmented layout from a materialized vector column: the
    * subvector coordinates with a 1.0f after every `dsub` of them. */
  private[ops] def augmentVecCol(v: Column, dim: Int, dsub: Int): Column =
    array((0 until dim).grouped(dsub).flatMap(g =>
      g.map(i => element_at(v, i + 1)) :+ lit(1.0f)).toSeq: _*)

  /** TRUE L2 code assignment of `rows(v)`, as a [[Lloyd.fit]]
    * `assign`: for vector families where the scale-invariant argmax-dot
    * assignment of [[train]] degenerates (near-1D rotated subspaces in
    * OPQ; zero-centered residuals in residual PQ). */
  private[ops] def assignL2(rows: DataFrame, cb: Codebooks): DataFrame =
    rows.withColumn("codes",
      encode(augmentVecCol(col("v"), cb.dim, cb.dsub), augmentL2(cb)))

  /** The codebook-form dispatch, shared by every encode/LUT site:
    * below the cutover (total centroids m·k) the reference-object
    * expressions; at or above it the [[PqRelation]] broadcast-relation
    * forms. Both semantics-identical — ties, degenerate windows, null
    * vectors — pinned at production shape in PqRelationSpec. */
  private[ops] def encodeDispatch(df: DataFrame, idCol: String,
      vecCol: String, cb: Codebooks): DataFrame =
    if (cb.m * cb.k < QuantizerRelation.CutoverCells)
      df.withColumn("codes", encode(col(vecCol), cb))
    else
      PqRelation.encodeCells(df, idCol, vecCol,
        PqRelation.codebooksDf(df.sparkSession, cb))

  private[ops] def lutDispatch(queries: DataFrame, cb: Codebooks): DataFrame =
    if (cb.m * cb.k < QuantizerRelation.CutoverCells)
      queries.select(col("qid"), lut(col("qvec"), cb).as("lut"))
    else
      PqRelation.lutRel(queries, "qid", "qvec",
        PqRelation.codebooksDf(queries.sparkSession, cb))

  /** PQ top-k: ADC scan over codes → per-query shortlist → exact cosine
    * re-rank of the shortlist against the raw vectors.
    * `shortlist >= |corpus|` degenerates to exact brute force. */
  def topK(queries: DataFrame, corpus: DataFrame, cb: Codebooks,
      k: Int, shortlist: Int): DataFrame = {
    val encoded = encodeDispatch(corpus.select(col("id"), col("vec")),
      "id", "vec", cb).select(col("id"), col("codes"))
    rerank(adcShortlist(encoded, queries, cb, shortlist), queries, corpus, k)
  }

  /** ADC + shortlist: the only stage that touches every corpus row, and
    * it carries (id, codes) ONLY — no embedding payload enters the
    * scan, the broadcast, or the shortlist shuffle. */
  private[ops] def adcShortlist(encoded: DataFrame, queries: DataFrame,
      cb: Codebooks, shortlist: Int): DataFrame = {
    val ql = lutDispatch(queries, cb)
    // The ADC scan deliberately touches every corpus row, so the
    // shortlist cut MUST be two-phase (Similarity.rankPerQuery): a
    // qid-only window here would sort one query's entire scored corpus
    // in a single reducer.
    val scored = encoded.crossJoin(broadcast(ql))
      .withColumn("adc", adcScore(col("codes"), col("lut"), cb.m, cb.k))
    Similarity.rankPerQuery(scored, col("adc"), shortlist)
      .select(col("qid"), col("id"))
  }

  /** Exact re-rank: shortlist ids pull their vectors, exact cosine on
    * the RAW (un-normalized) vectors — identical scoring and (score, id)
    * tie-break to [[Similarity.bruteForceTopK]]. */
  private[ops] def rerank(shortIds: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))
    shortIds.join(corpus, Seq("id"))
      .join(broadcast(queries), Seq("qid"))
      .withColumn("score", Similarity.cosine(col("qvec"), col("vec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("id"), col("score"), col("rank"))
  }

  /** Ingest-time half: store (id, codes, vec) — codes and vectors in
    * one parquet so the ADC pass prunes to the codes column (parquet
    * columnar layout makes that the `m`-bytes-per-row scan) and the
    * re-rank fetches vectors for shortlist rows only. This is the
    * corpus-sized encode, so it routes through the same cutover as
    * [[topK]] — the layout is cutover-invariant (PqRelationSpec). */
  def writeEncoded(corpus: DataFrame, cb: Codebooks, path: String): Unit =
    encodeDispatch(corpus.select(col("id"), col("vec")), "id", "vec", cb)
      .select(col("id"), col("codes"), col("vec"))
      .write.mode("overwrite").parquet(path)

  /** Probe a [[writeEncoded]] corpus. The ADC stage reads ONLY
    * (id, codes) — PqIndexSpec gates the scan's ReadSchema to prove the
    * embedding column never reaches the exhaustive pass. */
  def topKEncoded(spark: SparkSession, path: String, queries: DataFrame,
      cb: Codebooks, k: Int, shortlist: Int): DataFrame = {
    val stored = spark.read.parquet(path)
    val encoded = stored.select(col("id"), col("codes"))
    rerank(adcShortlist(encoded, queries, cb, shortlist), queries,
      stored.select(col("id"), col("vec")), k)
  }
}
