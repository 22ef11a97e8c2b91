package graft.queries

import graft.{Materialize, Staging, Tables}
import graft.ops.{IvfIndex, IvfPq, IvfSq, NnDescent, Opq, Pca, PqIndex, ResidualPq,
  Retrieval, SelectedSeeds, Similarity, Skew, Sq}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The vector-search harness every `ann_*` and `q_retrieval_*` query
  * shares, for both engines: the standing-query / corpus split, the
  * answer shape, the exact ground truth, and each index family's
  * configuration. The Spark builders and the DuckDB replays read the
  * same constants, so a query and its oracle cannot drift apart.
  *
  * Every builder builds its own graph, quantizer or index per call:
  * nothing built for one query is handed to another.
  *
  * This object is a leaf at initialization: its vals depend on
  * constants only, so the query objects may read them from their own
  * initializers.
  */
object AnnHarness {

  /** Vectors with `vec_id < NQueries` are the standing queries; the
    * rest are the corpus. */
  val NQueries = 5
  /** Answer depth of every search and audit. */
  val K = 10

  /** `(queries(qid, qvec), corpus(id, vec, extra…))`: one read of the
    * embeddings table, filtered twice. */
  def split(s: SparkSession, dir: String, extra: String*): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
    val corpus = emb.filter(col("vec_id") >= NQueries)
      .select(col("vec_id").as("id") +: col("embedding").as("vec") +: extra.map(col): _*)
    (queries, corpus)
  }

  /** The answer shape of a scored search: `(qid, id, score, rank)`,
    * score rounded to 4 dp, ordered by query then rank. */
  def answer(df: DataFrame): DataFrame =
    df.select(col("qid"), col("id"), round(col("score"), 4).as("score"), col("rank"))
      .orderBy(col("qid"), col("rank"))

  /** Ranking metrics of `sys` against the brute-force top-[[K]] of the
    * same split, one row per query. */
  def audit(queries: DataFrame, corpus: DataFrame, sys: DataFrame): DataFrame =
    Retrieval.rankingMetrics(sys, Similarity.bruteForceTopK(queries, corpus, k = K), K)
      .orderBy(col("qid"))

  // ---------------------------------------------------------------- //
  // Family configurations                                            //
  // ---------------------------------------------------------------- //

  /** The seed-42 LSH list: 4-bit buckets × 16 tables. */
  def lsh(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.lshTopK(queries, corpus, k = K, dim = 64, bitsPerTable = 4, tables = 16)

  /** Multi-probe LSH: 4-bit buckets × 8 tables, 3 probes per table. */
  def lshMultiprobe(queries: DataFrame, corpus: DataFrame): DataFrame =
    Similarity.lshTopKMultiProbe(queries, corpus, k = K, dim = 64,
      bitsPerTable = 4, tables = 8, nProbes = 3)

  /** SQ8 in the symmetric code domain, bounds trained on the corpus. */
  def sq8(queries: DataFrame, corpus: DataFrame): DataFrame =
    Sq.topKSym(queries, corpus, Sq.train(corpus, "vec"), k = K)

  /** PQ: 8 subspaces × 16 codes, 2 Lloyd iterations. */
  def pq(queries: DataFrame, corpus: DataFrame, shortlist: Int, seed: String): DataFrame =
    PqIndex.topK(queries, corpus, pqCodebooks(corpus, seed), k = K, shortlist = shortlist)

  /** IVF over an 8-cell coarse quantizer. */
  def ivf(queries: DataFrame, corpus: DataFrame, nProbe: Int, seed: String): DataFrame =
    IvfIndex.topK(queries, corpus, cells(corpus, seed), k = K, nProbe = nProbe)

  /** IVF-PQ: the coarse cells and the PQ codebooks share `seed`; the
    * index is written under the staging name and probed from disk. */
  def ivfpq(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      nProbe: Int, shortlist: Int, seed: String, staging: String): DataFrame = {
    val centroids = cells(corpus, seed)
    val cb = pqCodebooks(corpus, seed)
    val path = Staging.dirFor(staging)
    IvfPq.writeIndex(corpus, centroids, cb, path)
    IvfPq.topK(s, path, queries, centroids, cb, k = K, nProbe = nProbe, shortlist = shortlist)
  }

  /** IVF-SQ8: per-cell residual SQ bounds over the coarse cells. */
  def ivfsq(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      nProbe: Int, shortlist: Int, seed: String, staging: String): DataFrame = {
    val centroids = cells(corpus, seed)
    val b = IvfSq.trainBounds(corpus, centroids)
    val path = Staging.dirFor(staging)
    IvfSq.writeIndex(corpus, centroids, b, path)
    IvfSq.topK(s, path, queries, centroids, b, k = K, nProbe = nProbe, shortlist = shortlist)
  }

  /** Residual IVF-PQ (IVFADC): codes quantize the residual from the
    * coarse centroid. */
  def residual(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      nProbe: Int, shortlist: Int, seed: String, staging: String): DataFrame = {
    val centroids = cells(corpus, seed)
    val cb = ResidualPq.trainCodebooks(corpus, centroids, m = 8, k = 16, iters = 2, seed = seed)
    val path = Staging.dirFor(staging)
    ResidualPq.writeIndex(corpus, centroids, cb, path)
    ResidualPq.topK(s, path, queries, centroids, cb, k = K, nProbe = nProbe, shortlist = shortlist)
  }

  /** "OPQ,IVF,PQ": the residual stack in the [[rotation]] basis, exact
    * re-rank on the original vectors. */
  def opq(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      nProbe: Int, shortlist: Int, seed: String, staging: String): DataFrame = {
    val rot = rotation(s)
    val centroids = cells(rotated(corpus, rot), seed)
    val cb = ResidualPq.trainCodebooks(corpus, centroids,
      m = 8, k = 16, iters = 2, seed = seed, rot = Some(rot))
    val path = Staging.dirFor(staging)
    ResidualPq.writeIndex(corpus, centroids, cb, path, rot = Some(rot))
    ResidualPq.topK(s, path, queries, centroids, cb,
      k = K, nProbe = nProbe, shortlist = shortlist, rot = Some(rot))
  }

  /** The pruned production probe of the IVF families: 2 cells, a
    * 50-row shortlist. */
  val PrunedProbe = 2
  val PrunedShortlist = 50
  /** The pruned shortlist of flat PQ, which probes no cells. */
  val PqShortlist = 100

  /** [[ivfpq]] at the pruned probe and its selected seed. */
  def ivfpqPruned(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      staging: String): DataFrame =
    ivfpq(s, queries, corpus, PrunedProbe, PrunedShortlist, SelectedSeeds.ivfpq, staging)

  /** [[residual]] at the pruned probe and its selected seed. */
  def residualPruned(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      staging: String): DataFrame =
    residual(s, queries, corpus, PrunedProbe, PrunedShortlist, SelectedSeeds.res, staging)

  /** [[opq]] at the pruned probe and its selected seed. */
  def opqPruned(s: SparkSession, queries: DataFrame, corpus: DataFrame,
      staging: String): DataFrame =
    opq(s, queries, corpus, PrunedProbe, PrunedShortlist, SelectedSeeds.opq, staging)

  /** One probed cell per query over the fixed centroids `cents`:
    * cosine ranking within the query's best cell. */
  def fixedCell(queries: DataFrame, corpus: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val cc = IvfIndex.assignCells(corpus, "id", "vec", cents)
    val qc = queries.withColumn("cell", IvfIndex.bestCell(col("qvec"), cents))
    val scored = cc.join(qc, Seq("cell"))
      .select(col("qid"), col("id"), Similarity.cosine(col("qvec"), col("vec")).as("score"))
    Skew.saltedTopK(scored, Seq("qid"), Seq(col("score").desc, col("id").asc), K,
      saltBy = col("id"))
  }

  /** The committed-basis OPQ rotation: the PCA eigenbasis fixture with
    * its eigenvalues allocated over 8 subspaces. */
  def rotation(s: SparkSession): Array[Array[Double]] = {
    val basis = Pca.loadBasis(s, s"${Tables.fixturesDir}/pca_basis.parquet")
    Opq.rotation(basis, Opq.allocate(basis.sortBy(_.component).map(_.eigenvalue), 8))
  }

  /** The corpus in the `rot` basis, materialized once: it feeds the
    * coarse trainer's seed pass and every Lloyd iteration. */
  def rotated(corpus: DataFrame, rot: Array[Array[Double]]): DataFrame =
    Materialize(corpus.select(col("id"),
      graft.functions.functions.rotate_project(col("vec"), rot).as("vec")))

  private def cells(corpus: DataFrame, seed: String): Array[Array[Double]] =
    IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2, seed = seed)

  private def pqCodebooks(corpus: DataFrame, seed: String): PqIndex.Codebooks =
    PqIndex.train(corpus, "id", "vec", m = 8, k = 16, iters = 2, seed = seed)

  // ---------------------------------------------------------------- //
  // The graph family                                                 //
  // ---------------------------------------------------------------- //

  val GraphK = 5
  val GraphIters = 2
  val GraphSample = 10
  val GraphSeed = "nnd"
  /** The beam walk: md5-rank entries, beam width, hops. */
  val SearchEntries = 3
  val SearchBeam = 5
  val SearchHops = 3
  /** The cell-seeded walk's entry budget: 3 cells × 1 node = the SAME
    * 3 entries per query the uniform walk scores; the coarse quantizer
    * is TRAINED (16 Voronoi cells at the IVF family's selected seed —
    * the A/B in SCALING showed random-projection cells lose). */
  val SeededCells = 3
  val SeededPerCell = 1
  val SeededK = 16

  /** The NN-Descent k-NN graph over `nodes(id, vec)`. */
  def graph(nodes: DataFrame): DataFrame =
    NnDescent.knnGraph(nodes, k = GraphK, iters = GraphIters, sample = GraphSample,
      seed = GraphSeed)

  /** The uniform-entry beam walk over `g`. */
  def walk(g: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame =
    NnDescent.searchGraph(g, corpus, queries, k = K, entries = SearchEntries,
      beam = SearchBeam, hops = SearchHops, seed = GraphSeed)

  /** The cell-seeded beam walk over `g`, its cells trained here. */
  def seededWalk(g: DataFrame, corpus: DataFrame, queries: DataFrame): DataFrame = {
    val cents = IvfIndex.train(corpus, "id", "vec", k = SeededK, iters = 2,
      seed = SelectedSeeds.ivf)
    NnDescent.searchGraphCellSeeded(g, corpus, queries, k = K, cents,
      nCells = SeededCells, perCell = SeededPerCell, beam = SearchBeam, hops = SearchHops)
  }

  // ---------------------------------------------------------------- //
  // The hybrid family                                                //
  // ---------------------------------------------------------------- //

  /** The hybrid family's one standing query vector. */
  val HybridQuery = 3

  /** `(corpus(doc_id, documents…, embedding), qv(qvec))`: the corpus
    * documents that carry an embedding, standing queries excluded. */
  def hybrid(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(s, dir)
    val corpus = Tables.documents(s, dir)
      .join(emb.select(col("vec_id").as("doc_id"), col("embedding")), Seq("doc_id"))
      .filter(col("doc_id") >= NQueries)
    val qv = emb.filter(col("vec_id") === HybridQuery).select(col("embedding").as("qvec"))
    (corpus, qv)
  }

  // ---------------------------------------------------------------- //
  // The oracle side                                                  //
  // ---------------------------------------------------------------- //

  /** SQL predicates of the split, over `vec_id`. */
  val QueriesWhere = s"vec_id < $NQueries"
  val CorpusWhere = s"vec_id >= $NQueries"

  /** The split as oracle CTEs `q(qid, qvec)` and `c(id, vec)`, DOUBLE
    * vectors; `corpusAnd` narrows the corpus. */
  private[queries] def qcCtes(corpusAnd: String = ""): String =
    s"""q AS (SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
       |      FROM embeddings WHERE $QueriesWhere),
       |c AS (SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |      FROM embeddings WHERE $CorpusWhere$corpusAnd)""".stripMargin

  /** Exact brute-force ranking over [[qcCtes]], ending in
    * `gtscored(qid, id, raw, rank)`. */
  private[queries] val gtScoredCte: String =
    """gtscored AS (
      |  SELECT qid, id,
      |    list_dot_product(qvec, vec) /
      |      (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) AS raw,
      |    row_number() OVER (PARTITION BY qid ORDER BY
      |      list_dot_product(qvec, vec) /
      |      (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) DESC, id) AS rank
      |  FROM c CROSS JOIN q)""".stripMargin

  /** An oracle over the split: `chain` (CTEs over `q`/`c`) ending in
    * `rel(qid, id, <score>, rank)`, cut to [[answer]]'s shape. */
  private[queries] def answerSql(chain: String, rel: String, score: String = "score",
      corpusAnd: String = ""): String =
    s"""WITH ${qcCtes(corpusAnd)},
       |$chain
       |SELECT qid, id, round($score, 4) AS score, rank
       |FROM $rel WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  /** The exact top-[[K]] answer: `ann_topk`'s oracle, and every
    * exhaustive gate's (an exhaustive probe must reproduce brute force). */
  private[queries] def exactSql(corpusAnd: String = ""): String =
    answerSql(gtScoredCte, "gtscored", "raw", corpusAnd)

  /** The NN-Descent replay ([[graph]]'s configuration), no leading
    * WITH, over the embeddings matching `nodesWhere`, ending in
    * `g$GraphIters(id, nbr, score, rank)`. */
  private[queries] def graphCtes(nodesWhere: String): String = {
    val hexVal = Md5Sql.hexVal
    val cos = (a: String, b: String) =>
      s"list_dot_product($a.vec, $b.vec) / " +
        s"(sqrt(list_dot_product($a.vec, $a.vec)) * sqrt(list_dot_product($b.vec, $b.vec)))"
    val sweeps = (1 to GraphIters).map { i =>
      s"""u$i AS MATERIALIZED (
         |  SELECT id AS c, nbr AS v FROM g${i - 1}
         |  UNION
         |  SELECT nbr AS c, id AS v FROM g${i - 1}),
         |cap$i AS MATERIALIZED (
         |  SELECT c, v FROM (
         |    SELECT c, v, row_number() OVER (PARTITION BY c ORDER BY CAST($hexVal AS BIGINT), v) AS hr
         |    FROM (SELECT c, v,
         |            substring(md5('$GraphSeed' || CAST(c AS VARCHAR) || '_' || CAST(v AS VARCHAR)), 1, 15) AS h15
         |          FROM u$i))
         |  WHERE hr <= $GraphSample),
         |cand$i AS MATERIALIZED (
         |  SELECT DISTINCT a.v AS id, b.v AS nbr
         |  FROM cap$i a JOIN cap$i b USING (c) WHERE a.v <> b.v),
         |sc$i AS MATERIALIZED (
         |  SELECT cand.id AS id, cand.nbr AS nbr, round(${cos("nv", "nn")}, 4) AS score
         |  FROM cand$i cand JOIN nodes nv ON nv.id = cand.id
         |  JOIN nodes nn ON nn.id = cand.nbr),
         |al$i AS MATERIALIZED (
         |  SELECT id, nbr, max(score) AS score FROM (
         |    SELECT id, nbr, score FROM g${i - 1}
         |    UNION ALL SELECT id, nbr, score FROM sc$i)
         |  GROUP BY id, nbr),
         |g$i AS MATERIALIZED (
         |  SELECT id, nbr, score, rank FROM (
         |    SELECT id, nbr, score,
         |      row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr) AS rank
         |    FROM al$i)
         |  WHERE rank <= $GraphK)""".stripMargin
    }.mkString(",\n")
    s"""nodes AS MATERIALIZED (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings$nodesWhere),
       |rk AS MATERIALIZED (
       |  SELECT id, row_number() OVER (ORDER BY CAST($hexVal AS BIGINT), id) AS r
       |  FROM (SELECT id, substring(md5('$GraphSeed' || CAST(id AS VARCHAR)), 1, 15) AS h15
       |        FROM nodes)),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM rk),
       |j0 AS MATERIALIZED (
       |  SELECT a.r AS r, a.id AS id,
       |    substring(md5('$GraphSeed' || CAST(a.r AS VARCHAR) || '_' || CAST(o.off AS VARCHAR)), 1, 15) AS h15
       |  FROM rk a CROSS JOIN (SELECT unnest(range(1, ${GraphK + 1})) AS off) o),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT j0.id AS id, b.id AS nbr
       |  FROM j0 CROSS JOIN tot
       |  JOIN rk b ON b.r = (j0.r - 1 + (CAST($hexVal AS BIGINT) % (n - 1) + 1)) % n + 1
       |  WHERE j0.id <> b.id),
       |se0 AS MATERIALIZED (
       |  SELECT e0.id AS id, e0.nbr AS nbr, round(${cos("nv", "nn")}, 4) AS score
       |  FROM e0 JOIN nodes nv ON nv.id = e0.id JOIN nodes nn ON nn.id = e0.nbr),
       |g0 AS MATERIALIZED (
       |  SELECT id, nbr, score, rank FROM (
       |    SELECT id, nbr, score,
       |      row_number() OVER (PARTITION BY id ORDER BY score DESC, nbr) AS rank
       |    FROM se0)
       |  WHERE rank <= $GraphK),
       |$sweeps""".stripMargin
  }

  /** [[graphCtes]] over the corpus only — the graph every search walks. */
  private[queries] def corpusGraphCtes: String = graphCtes(s" WHERE $CorpusWhere")
}
