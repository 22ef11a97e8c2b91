package graft.queries

import graft.{Materialize, Tables}
import graft.ops.{Retrieval, Similarity, Skew}
import org.apache.spark.sql.functions._

/** Eighth wave of the query surface (round 17, second half): the
  * EVALUATION layer — every approximation in the engine gets an
  * oracle-checked audit relation: ranking metrics of the LSH / graph /
  * IVF / SQ8 / truncated-dimension serving paths against the exact
  * ground truth (one shared integer-gain metric fold), MMR diversity
  * re-ranking and the fused serving-pipeline flagship, the MinHash
  * estimator-error relation, and the simhash family's incremental
  * (Manku-blocked) probe. Same
  * oracle conventions as [[QueryCatalog]]: identical aliases both
  * sides, total ORDER BY, integer outputs CAST to BIGINT in DuckDB,
  * scores rounded 4 dp before every ranking, greedy/fused scores
  * rounded 6 dp.
  */
object EvalQueries {
  import QueryCatalog.Q

  private val EvalK = AnnHarness.K

  /** Retrieval-quality metrics ([[graft.ops.Retrieval.rankingMetrics]])
    * of the seed-42 LSH ANN list (the `ann_lsh` configuration — 4-bit
    * buckets × 16 tables) against the exact brute-force top-10, per
    * standing query: recall@10, reciprocal rank of the true nearest
    * neighbor, nDCG@10 over the integer micro-gain table. The oracle
    * replays BOTH rankings (the `ann_topk` and `ann_lsh` chains — each
    * independently hash-green) and every metric from the same embedded
    * gain literals; all aggregation is integer, each metric one IEEE
    * division. */
  val qRetrievalEval: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus, AnnHarness.lsh(queries, corpus))
  }

  /** The metric fold shared by every eval oracle: given an upstream
    * `sysk(qid, id, rank)` CTE and the ground-truth chain's `gtscored`,
    * replay hits/recall/rr/ndcg from the embedded integer gain table. */
  private def metricsTailSql: String = {
    val gains = Retrieval.dcgGainsMicro(EvalK)
    val gainsLit = gains.mkString("[", ", ", "]")
    val idcgPrefixLit = gains.scanLeft(0L)(_ + _).tail.mkString("[", ", ", "]")
    s"""gtk AS (SELECT qid, id, rank FROM gtscored WHERE rank <= $EvalK),
       |gtn AS (SELECT qid, count(*) AS gtn FROM gtk GROUP BY qid),
       |m AS (
       |  SELECT s.qid AS qid, count(*) AS hits0,
       |    sum(list_extract($gainsLit, s.rank)) AS dcg,
       |    max(CASE WHEN g.rank = 1 THEN CAST(1 AS DOUBLE) / s.rank END) AS rr0
       |  FROM sysk s JOIN gtk g ON s.qid = g.qid AND s.id = g.id
       |  GROUP BY s.qid)
       |SELECT gtn.qid AS qid, CAST(coalesce(hits0, 0) AS BIGINT) AS hits,
       |  CAST(coalesce(hits0, 0) AS DOUBLE) / gtn.gtn AS recall,
       |  CAST(coalesce(rr0, 0) AS DOUBLE) AS rr,
       |  CAST(coalesce(dcg, 0) AS DOUBLE) / list_extract($idcgPrefixLit, gtn.gtn) AS ndcg
       |FROM gtn LEFT JOIN m USING (qid)
       |ORDER BY qid""".stripMargin
  }

  /** An audit oracle: the exact truth and `chain` over the split, then
    * the metric fold over `rel(qid, id, rank)`'s top [[EvalK]]. */
  private def auditSql(chain: String, rel: String): String =
    s"""WITH ${AnnHarness.qcCtes()},
       |${AnnHarness.gtScoredCte},
       |$chain,
       |sysk AS (SELECT qid, id, rank FROM $rel WHERE rank <= $EvalK),
       |$metricsTailSql""".stripMargin

  val qRetrievalEvalSql: String = auditSql(QueryCatalog.annLshScoredCtes, "lshscored")

  /** [[qRetrievalEval]] pointed at the GRAPH-ANN family: the same
    * metric relation over [[graft.ops.NnDescent.searchGraph]]'s beam
    * walk (the `ann_graph_search` configuration) instead of the LSH
    * list — every serving family's spec-quoted recall now has an
    * oracle-checked audit. The oracle composes the FULL graph replay
    * (NN-Descent build + every search hop) with the brute-force chain
    * and the shared metric fold. */
  val qRetrievalEvalGraph: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus,
      AnnHarness.walk(AnnHarness.graph(corpus), corpus, queries))
  }

  val qRetrievalEvalGraphSql: String =
    s"""WITH ${AnnHarness.corpusGraphCtes},
       |${ServeQueries.graphSearchCtes},
       |${AnnHarness.qcCtes()},
       |${AnnHarness.gtScoredCte},
       |sysk AS (
       |  SELECT qid, id, rank FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |    FROM v${AnnHarness.SearchHops}) WHERE rank <= $EvalK),
       |$metricsTailSql""".stripMargin

  /** [[qRetrievalEvalGraph]] at the CELL-SEEDED entry configuration
    * ([[graft.ops.NnDescent.searchGraphCellSeeded]], same graph /
    * beam / hops / per-query entry budget — entry PLACEMENT is the
    * only variable): the audit relation for the scale-adaptive entry
    * selection, so a drift in what quantizer-seeded entries buy is a
    * CORRECTNESS failure, not a spec constant. */
  val qRetrievalEvalGraphSeeded: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus,
      AnnHarness.seededWalk(AnnHarness.graph(corpus), corpus, queries))
  }

  val qRetrievalEvalGraphSeededSql: String =
    s"""WITH ${AnnHarness.corpusGraphCtes},
       |${ServeQueries.graphSearchSeededCtes},
       |${AnnHarness.qcCtes()},
       |${AnnHarness.gtScoredCte},
       |sysk AS (
       |  SELECT qid, id, rank FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |    FROM v${AnnHarness.SearchHops}) WHERE rank <= $EvalK),
       |$metricsTailSql""".stripMargin

  /** [[qRetrievalEval]] pointed at the IVF family — the third audited
    * ranker (LSH, graph, IVF): the seeded 16-cell quantizer (the
    * SemDeDup oracle's replay idiom — argmax with ties to the larger
    * index, the exact [[graft.ops.IvfIndex.bestCell]] rule) serves the
    * standing queries from ONE probed cell each, the production
    * nProbe = 1 configuration whose recall loss is precisely what this
    * audit exists to see. The oracle replays cell assignment from the
    * embedded unit-centroid literals, the cell-restricted raw-cosine
    * ranking, the exact chain, and the shared metric fold. */
  val qRetrievalEvalIvf: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus,
      AnnHarness.fixedCell(queries, corpus, QueryCatalog.semanticCentroids))
  }

  val qRetrievalEvalIvfSql: String = {
    val cs = graft.ops.IvfIndex.unitRows(QueryCatalog.semanticCentroids)
    val csLit = cs.map(_.mkString("[", ", ", "]"))
      .mkString("[", ",\n      ", "]")
    s"""WITH cents AS (SELECT $csLit AS cs),
       |${AnnHarness.qcCtes()},
       |${AnnHarness.gtScoredCte},
       |cc AS (
       |  SELECT id, vec,
       |    len(s) - list_position(list_reverse(s), list_max(s)) AS cell
       |  FROM (SELECT id, vec, list_transform(cs, x -> list_dot_product(vec, x)) AS s
       |        FROM c CROSS JOIN cents)),
       |qc AS (
       |  SELECT qid, qvec,
       |    len(s) - list_position(list_reverse(s), list_max(s)) AS cell
       |  FROM (SELECT qid, qvec, list_transform(cs, x -> list_dot_product(qvec, x)) AS s
       |        FROM q CROSS JOIN cents)),
       |ivfscored AS (
       |  SELECT qc.qid AS qid, cc.id AS id,
       |    row_number() OVER (PARTITION BY qc.qid ORDER BY
       |      list_dot_product(qc.qvec, cc.vec) /
       |        (sqrt(list_dot_product(qc.qvec, qc.qvec)) *
       |         sqrt(list_dot_product(cc.vec, cc.vec))) DESC, cc.id) AS rank
       |  FROM cc JOIN qc ON cc.cell = qc.cell),
       |sysk AS (SELECT qid, id, rank FROM ivfscored WHERE rank <= $EvalK),
       |$metricsTailSql""".stripMargin
  }

  /** QUANTIZATION-error audit — the number a team wants before turning
    * on SQ8 serving: [[qRetrievalEval]]'s metric relation with the
    * system list ranked by the symmetric 8-bit CODE-domain distance
    * ([[graft.ops.Sq.topKSym]], the `ann_sq8` estimator) against the
    * exact float cosine ranking. The estimator is integer-exact and
    * fully replayable (per-dim bounds, floor/clamp encode, integer
    * distance — the `ann_sq8` chain), so unlike the trained-codebook PQ
    * modes this audit is hash-gated end-to-end. */
  val qRetrievalEvalSq: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus, AnnHarness.sq8(queries, corpus))
  }

  val qRetrievalEvalSqSql: String =
    s"""WITH ${CorpusMlQueries.sq8RankedCtes},
       |${AnnHarness.qcCtes()},
       |${AnnHarness.gtScoredCte},
       |sysk AS (SELECT qid, id, rank FROM sqranked WHERE rank <= $EvalK),
       |$metricsTailSql""".stripMargin

  private val TruncDims = 32

  /** DIMENSION-truncation audit (the Matryoshka question — Kusupati
    * NeurIPS'22: how much ranking quality survives serving only the
    * first d′ of d dimensions?): the system list is the exact cosine
    * ranking over the FIRST [[TruncDims]] coordinates, audited against
    * the full-dimension ground truth with the shared metric fold. Both
    * rankings are plain cosine chains, so the oracle replays
    * everything; the knob a capacity planner actually turns (halve the
    * vector bytes → this relation says what recall it costs). */
  val qRetrievalEvalTrunc: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus, Similarity.bruteForceTopK(
      queries.select(col("qid"), slice(col("qvec"), 1, TruncDims).as("qvec")),
      corpus.select(col("id"), slice(col("vec"), 1, TruncDims).as("vec")),
      k = EvalK))
  }

  val qRetrievalEvalTruncSql: String = auditSql(
    s"""tq AS (SELECT qid, qvec[1:$TruncDims] AS qvec FROM q),
       |tc AS (SELECT id, vec[1:$TruncDims] AS vec FROM c),
       |truncscored AS (
       |  SELECT qid, id,
       |    row_number() OVER (PARTITION BY qid ORDER BY
       |      list_dot_product(qvec, vec) /
       |        (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) DESC,
       |      id) AS rank
       |  FROM tc CROSS JOIN tq)""".stripMargin, "truncscored")

  /** The MULTI-PROBE LSH audit — the one serving configuration that
    * was rows-only-by-design (`ann_lsh_multiprobe`) gets its recall
    * measured under the oracle: [[qRetrievalEval]]'s metric relation
    * with the system list from
    * [[graft.ops.Similarity.lshTopKMultiProbe]] (Lv VLDB'07 — base
    * bucket plus the two flipped-lowest-|margin| buckets per table,
    * 4 bits × 8 tables). The probe SELECTION is deterministic
    * arithmetic on seed-42 plane dot products, so the oracle replays
    * it relationally: per (query, table), rank the four bit-flips by
    * (|margin|, flipped key) and keep two, union the base keys, join
    * the corpus's base buckets, re-rank exactly, fold the metrics. */
  val qRetrievalEvalLshMp: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus, AnnHarness.lshMultiprobe(queries, corpus))
  }

  /** The multi-probe selection → candidate join → exact re-rank chain
    * (requires `q`/`c` upstream), ending in `mpscored(qid, id, raw,
    * rank)` — shared by the eval oracle and the (round-18 promoted)
    * `ann_lsh_multiprobe` query oracle. */
  private[queries] val lshMpChainCtes: String = {
    val bits = 4; val tables = 8; val keep = 2 // nProbes − 1
    val planes = Similarity.hyperplanes(dim = 64, numBits = bits * tables,
      seed = 42L)
    val planesLit = planes.map(_.mkString("[", ", ", "]"))
      .mkString("[", ", ", "]")
    def bitSql(i: Int, v: String, flipped: Boolean) = {
      val (a, b) = if (flipped) ("'0'", "'1'") else ("'1'", "'0'")
      s"CASE WHEN list_dot_product($v, pl[${i + 1}]) > 0 THEN $a ELSE $b END"
    }
    def keySql(t: Int, v: String, flip: Int) =
      s"'${t}_' || " + (t * bits until (t + 1) * bits)
        .map(i => bitSql(i, v, flipped = i == flip)).mkString(" || ")
    val cbKeys = (0 until tables).map(t => keySql(t, "vec", -1))
      .mkString(",\n      |    ")
    val qbKeys = (0 until tables).map(t => keySql(t, "qvec", -1))
      .mkString(",\n      |    ")
    val flipRows = (for (t <- 0 until tables; j <- t * bits until (t + 1) * bits)
      yield s"SELECT qid, $t AS t, abs(list_dot_product(qvec, pl[${j + 1}])) AS m, " +
        s"${keySql(t, "qvec", j)} AS k FROM q CROSS JOIN planes")
      .mkString("\n      |  UNION ALL ")
    s"""planes AS (SELECT $planesLit AS pl),
       |qflips AS MATERIALIZED (
       |  $flipRows),
       |sel AS (
       |  SELECT qid, k FROM (
       |    SELECT qid, k, row_number() OVER (PARTITION BY qid, t ORDER BY m, k) AS rn
       |    FROM qflips) WHERE rn <= $keep),
       |qb AS (
       |  SELECT qid, unnest([
       |    $qbKeys]) AS bucket FROM q CROSS JOIN planes
       |  UNION ALL SELECT qid, k AS bucket FROM sel),
       |cb AS (
       |  SELECT id, unnest([
       |    $cbKeys]) AS bucket FROM c CROSS JOIN planes),
       |cands AS (SELECT DISTINCT qid, id FROM qb JOIN cb USING (bucket)),
       |mpscored AS (
       |  SELECT cands.qid, cands.id,
       |    list_dot_product(qvec, vec) /
       |      (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) AS raw,
       |    row_number() OVER (PARTITION BY cands.qid ORDER BY
       |      list_dot_product(qvec, vec) /
       |        (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) DESC,
       |      cands.id) AS rank
       |  FROM cands JOIN q ON q.qid = cands.qid JOIN c ON c.id = cands.id)""".stripMargin
  }

  val qRetrievalEvalLshMpSql: String = auditSql(lshMpChainCtes, "mpscored")

  /** The `ann_lsh_multiprobe` QUERY oracle — the last rows-only ANN
    * mode promoted to hash-green: the same probe-selection replay the
    * eval audit already validated, cut at the query's top-10. */
  val annLshMultiprobeSql: String = AnnHarness.answerSql(lshMpChainCtes, "mpscored", "raw")

  /** The PQ-code-domain audits (round-18 directive #1) — the LOWEST-
    * recall production modes were the only serving rankers without an
    * oracle-checked audit relation; the portable quantizer seeding +
    * 6-dp Lloyd means made their trainings replayable
    * ([[QuantizerReplay]]), so each family's PRUNED production
    * configuration now composes with the shared [[metricsTailSql]]
    * fold exactly as `q_retrieval_eval_sq` did. The spec-quoted
    * recall numbers (SCALING addendum) become continuously checked
    * relations. */
  val qRetrievalEvalPqQ: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus, AnnHarness.pq(queries, corpus,
      AnnHarness.PqShortlist, graft.ops.SelectedSeeds.pq))
  }

  val qRetrievalEvalPqSql: String = auditSql(
    s"""${QuantizerReplay.pqTrainCtes("c", seed = graft.ops.SelectedSeeds.pq)},
       |${QuantizerReplay.pqProbeCtes("pqcent2", shortlist = AnnHarness.PqShortlist)}""".stripMargin,
    "pqrank")

  /** The IVF-PQ audit at the `ann_ivfpq_pruned` production
    * configuration (nProbe = 2, shortlist = 50). */
  val qRetrievalEvalIvfPqQ: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus,
      AnnHarness.ivfpqPruned(s, queries, corpus, "eval-ivfpq-q"))
  }

  val qRetrievalEvalIvfPqSql: String = auditSql(PipelineQueries.ivfPqPrunedChain, "pqrank")

  /** The residual-IVF-PQ audit at the `ann_ivfpq_res_pruned`
    * production configuration. */
  val qRetrievalEvalResQ: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus,
      AnnHarness.residualPruned(s, queries, corpus, "eval-res-q"))
  }

  val qRetrievalEvalResSql: String = auditSql(PipelineQueries.resPrunedChain, "rqrank")

  /** The rotated-residual ("OPQ,IVF,PQ") audit at the
    * `ann_ivfpq_opq_pruned` production configuration. */
  val qRetrievalEvalOpqQ: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.audit(queries, corpus,
      AnnHarness.opqPruned(s, queries, corpus, "eval-opq-q"))
  }

  val qRetrievalEvalOpqSql: String = auditSql(PipelineQueries.opqPrunedChain, "rqrank")

  /** The HYBRID stack's audit — the one serving path the eval layer
    * still skipped: the RRF-fused BM25 + dense list (the
    * `q_retrieval_pipeline` flagship's candidate generator) measured
    * against the dense exact ground truth with the shared metric fold.
    * Fused recall vs the dense truth is the standard hybrid health
    * number: it quantifies what the lexical ranker's votes COST in
    * dense recall at the fusion depth (HybridSpec floors it for the
    * pruned indexed probe; this makes the inline configuration's value
    * an oracle-checked relation). Single standing query (vector 3, the
    * hybrid family's convention) — one metrics row. */
  val qRetrievalEvalHybridQ: Q = (s, dir) => {
    val (corpus, qv) = AnnHarness.hybrid(s, dir)
    val sys = graft.ops.Hybrid.hybridTopK(corpus, "doc_id", "text",
        "embedding", Seq("spark", "window", "merge"), qv,
        k = EvalK, m = 20)
      .select(lit(0L).as("qid"), col("id"), col("rk").as("rank"))
    AnnHarness.audit(qv.select(lit(0L).as("qid"), col("qvec")),
      corpus.select(col("doc_id").as("id"), col("embedding").as("vec")), sys)
  }

  val qRetrievalEvalHybridSql: String =
    s"""WITH ${LifecycleQueries.hybridFusedCtes(EvalK, 20)},
       |gtscored AS (
       |  SELECT 0 AS qid, doc_id AS id,
       |    row_number() OVER (ORDER BY
       |      list_dot_product(qvec, vec) /
       |        (sqrt(list_dot_product(qvec, qvec)) * sqrt(list_dot_product(vec, vec))) DESC,
       |      doc_id) AS rank
       |  FROM corpus CROSS JOIN qv),
       |sysk AS (SELECT 0 AS qid, id, rk AS rank FROM hyb WHERE rk <= $EvalK),
       |$metricsTailSql""".stripMargin

  private val MmrK = 10
  private val MmrM = 20
  private val MmrLambda = 0.7

  /** MMR diversity re-rank ([[graft.ops.Retrieval.mmr]], Carbonell &
    * Goldstein SIGIR'98) of the top-20 cosine shortlist for standing
    * query vector 0 over the corpus slice (vec_id ≥ 5): greedy 10
    * picks maximizing λ·rel − (1−λ)·max-sim-to-picked at λ = 0.7,
    * 4-dp relevance/similarity inputs, 6-dp greedy scores, ties by id.
    * The oracle replays the shortlist, the pairwise similarity matrix,
    * and EVERY greedy pick as an unrolled stage — the graph-search
    * hop-replay stance applied to re-ranking. */
  val qRetrievalMmr: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    val qv = queries.filter(col("qid") === 0).select(col("qvec"))
    val scored = corpus.crossJoin(broadcast(qv))
      .select(lit(0).as("qid"), col("id"), col("vec"),
        round(Similarity.cosine(col("vec"), col("qvec")), 4).as("rel"))
    // checkpoint the shortlist: the corpus-wide salted top-m must not
    // recompute for each of the sims/candidates/mmr actions
    val cands = Materialize(Skew.saltedTopK(scored, Seq("qid"),
      Seq(col("rel").desc, col("id").asc), MmrM, saltBy = col("id")))
    val sims = Retrieval.pairwiseSims(cands.select(col("id"), col("vec")))
    Retrieval.mmr(cands.select(col("id"), col("rel")), sims,
        k = MmrK, lambda = MmrLambda)
      .orderBy(col("rank"))
  }

  // λ and (1−λ) as the EXACT doubles the Scala fold uses: the SQL
  // recomputes 1−λ in double, never parses a 17-digit literal.
  private val L = s"CAST($MmrLambda AS DOUBLE)"
  private val OM = s"(CAST(1 AS DOUBLE) - CAST($MmrLambda AS DOUBLE))"

  private def cosSql(a: String, b: String) =
    s"list_dot_product($a, $b) / (sqrt(list_dot_product($a, $a)) * sqrt(list_dot_product($b, $b)))"

  /** The pairwise-similarity + greedy-stage replay shared by the MMR
    * oracles: requires a CTE `cand(id, vec, rel)` upstream, emits
    * `sims/sims2/sel1..sel$k` (every stage MATERIALIZED — each stage is
    * referenced three times by the next, so inlining would re-derive
    * the candidate chain exponentially). Ends in `sel$k(id, rel, mmr,
    * rank)`. */
  private[queries] def mmrStagesSql(k: Int): String = {
    val stages = (2 to k).map { i =>
      s"""s$i AS MATERIALIZED (
         |  SELECT id, rel, mmr, $i AS rank FROM (
         |    SELECT c.id, c.rel, round($L * c.rel - $OM * ms.m, 6) AS mmr,
         |      row_number() OVER (ORDER BY round($L * c.rel - $OM * ms.m, 6) DESC, c.id) AS rn
         |    FROM cand c JOIN (
         |      SELECT s2.id1 AS id, max(s2.sim) AS m
         |      FROM sims2 s2 JOIN sel${i - 1} p ON s2.id2 = p.id
         |      GROUP BY s2.id1) ms ON ms.id = c.id
         |    WHERE c.id NOT IN (SELECT id FROM sel${i - 1})) WHERE rn = 1),
         |sel$i AS MATERIALIZED (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""sims AS MATERIALIZED (
       |  SELECT a.id AS id1, b.id AS id2, round(${cosSql("a.vec", "b.vec")}, 4) AS sim
       |  FROM cand a JOIN cand b ON a.id < b.id),
       |sims2 AS MATERIALIZED (
       |  SELECT id1, id2, sim FROM sims
       |  UNION ALL SELECT id2 AS id1, id1 AS id2, sim FROM sims),
       |sel1 AS MATERIALIZED (
       |  SELECT id, rel, round($L * rel, 6) AS mmr, 1 AS rank FROM (
       |    SELECT id, rel, row_number() OVER (ORDER BY round($L * rel, 6) DESC, id) AS rn
       |    FROM cand) WHERE rn = 1),
       |$stages""".stripMargin
  }

  val qRetrievalMmrSql: String =
    s"""WITH qv AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
       |  FROM embeddings WHERE vec_id = 0),
       |corp AS (
       |  SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings WHERE ${AnnHarness.CorpusWhere}),
       |cand AS MATERIALIZED (
       |  SELECT id, vec, rel FROM (
       |    SELECT id, vec, round(${cosSql("qvec", "vec")}, 4) AS rel,
       |      row_number() OVER (ORDER BY round(${cosSql("qvec", "vec")}, 4) DESC, id) AS rn
       |    FROM corp CROSS JOIN qv) WHERE rn <= $MmrM),
       |${mmrStagesSql(MmrK)}
       |SELECT rank, id, rel, mmr FROM sel$MmrK ORDER BY rank""".stripMargin

  private val PipeCand = 15
  private val PipeK = 8

  /** The composed SERVING flagship — the full production retrieval
    * path in one hash-gated relation (the serving-side analogue of
    * `corpus_pipeline_v5`): hybrid BM25 + vector fusion
    * ([[graft.ops.Hybrid.hybridTopK]], RRF) produces the top-15
    * candidate shortlist; the shortlist is re-scored by 4-dp cosine to
    * the query (rank fusion finds the candidates, semantic relevance
    * drives diversification — RRF scores are rank reciprocals on a
    * scale MMR's λ-mix cannot meaningfully trade against a cosine);
    * MMR then picks the final 8 diverse answers. Every stage is
    * model-sized after the rankers: the oracle replays the whole
    * composition — both rankers, the fusion, the re-score, the
    * pairwise matrix, and every greedy pick — in ONE DuckDB query. */
  val qRetrievalPipeline: Q = (s, dir) => {
    val (corpus, qv) = AnnHarness.hybrid(s, dir)
    val fusedIds = graft.ops.Hybrid.hybridTopK(corpus, "doc_id", "text",
        "embedding", Seq("spark", "window", "merge"), qv,
        k = PipeCand, m = MmrM)
      .select("id")
    // checkpoint the fused shortlist's vectors: the hybrid rankers (the
    // query's dominant cost) must not recompute for each of the
    // re-score/sims/mmr actions
    val candVecs = Materialize(corpus
      .select(col("doc_id").as("id"), col("embedding").as("vec"))
      .join(fusedIds, Seq("id"), "left_semi"))
    val cands = candVecs.crossJoin(broadcast(qv))
      .select(col("id"),
        round(Similarity.cosine(col("vec"), col("qvec")), 4).as("rel"))
    val sims = Retrieval.pairwiseSims(candVecs)
    Retrieval.mmr(cands, sims, k = PipeK, lambda = MmrLambda)
      .orderBy(col("rank"))
  }

  /** [[qRetrievalPipeline]] SERVED from the two ON-DISK indexes —
    * the production deployment shape of the flagship: the candidate
    * generator is [[graft.ops.Hybrid.hybridTopKIndexed]] (BM25 through
    * the token-bucket postings, the vector side through an IVF cell
    * layout with an exhaustive probe, so indexed fusion ≡ inline
    * fusion row for row — the family contract `q_hybrid_rrf_indexed`
    * hash-gates), and the re-score/MMR tail is identical. Oracle:
    * [[qRetrievalPipelineSql]] byte for byte — serving the flagship
    * from stores must change NOTHING about its answers. */
  val qRetrievalPipelineIndexed: Q = (s, dir) => {
    val (corpus, qv) = AnnHarness.hybrid(s, dir)
    val bm25Path = graft.Staging.dirFor("pipe-bm25")
    graft.ops.TextIndex.writePostings(corpus, "doc_id", "text", bm25Path)
    val vecCorpus = corpus.select(col("doc_id").as("id"),
      col("embedding").as("vec"))
    val cents = graft.ops.IvfIndex.train(vecCorpus, "id", "vec", k = 8)
    val annPath = graft.Staging.dirFor("pipe-ann")
    graft.ops.IvfIndex.writeIndexed(vecCorpus, cents, annPath)
    val fusedIds = graft.ops.Hybrid.hybridTopKIndexed(s, bm25Path,
        annPath, cents, Seq("spark", "window", "merge"), qv,
        k = PipeCand, m = MmrM, nProbe = 8)
      .select("id")
    val candVecs = Materialize(corpus
      .select(col("doc_id").as("id"), col("embedding").as("vec"))
      .join(fusedIds, Seq("id"), "left_semi"))
    val cands = candVecs.crossJoin(broadcast(qv))
      .select(col("id"),
        round(Similarity.cosine(col("vec"), col("qvec")), 4).as("rel"))
    val sims = Retrieval.pairwiseSims(candVecs)
    Retrieval.mmr(cands, sims, k = PipeK, lambda = MmrLambda)
      .orderBy(col("rank"))
  }

  val qRetrievalPipelineSql: String =
    s"""WITH ${LifecycleQueries.hybridFusedCtes(PipeCand, MmrM)},
       |cand AS MATERIALIZED (
       |  SELECT c.doc_id AS id, c.vec AS vec,
       |    round(${cosSql("qv.qvec", "c.vec")}, 4) AS rel
       |  FROM hyb h JOIN corpus c ON c.doc_id = h.id CROSS JOIN qv),
       |${mmrStagesSql(PipeK)}
       |SELECT rank, id, rel, mmr FROM sel$PipeK ORDER BY rank""".stripMargin

  /** The MinHash ESTIMATOR-error audit
    * ([[graft.ops.Dedup.minhashEstimates]]) — the eval layer pointed at
    * the dedup family's own approximation: per exact near-dup pair
    * (J ≥ 0.6, the `dedup_jaccard_join` threshold — prefix economy
    * scales with 1−t, so the audit inherits the family's candidate
    * costs), the 64-permutation signature-agreement estimate next to
    * the exact Jaccard and their absolute error. The oracle recomputes
    * the PORTABLE signatures from the embedded seed-42 coefficients
    * (md5-60 shingle hash, (a·h+b) mod 2³¹−1 mins) plus the exact pair
    * relation — estimator and truth both replayed. */
  val dedupEstError: Q = (s, dir) => {
    graft.ops.Dedup.minhashEstimates(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.6)
      .select(col("id1"), col("id2"),
        round(col("jaccard"), 4).as("jaccard"),
        round(col("est"), 4).as("est"),
        round(abs(col("est") - col("jaccard")), 4).as("err"))
      .orderBy(col("id1"), col("id2"))
  }

  val dedupEstErrorSql: String = {
    val (ca, cb) = graft.ops.Dedup.minhashCoefs(64)
    val p = graft.ops.Dedup.minhashPrime
    val hexVal = Md5Sql.hexVal // the shared md5-60 recombination
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(t) >= 3
       |        THEN unnest(list_transform(range(1, len(t) - 1),
       |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |        ELSE unnest([array_to_string(t, ' ')]) END AS sh
       |    FROM toks)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |pairs AS (
       |  SELECT id1, id2, CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) AS jac
       |  FROM inter JOIN sizes s1 ON s1.doc_id = id1
       |  JOIN sizes s2 ON s2.doc_id = id2
       |  WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.6),
       |hmod AS (
       |  SELECT doc_id, ($hexVal) % $p AS h
       |  FROM (SELECT doc_id, substring(md5(sh), 1, 15) AS h15 FROM sh)),
       |coef AS (SELECT unnest([${ca.mkString(", ")}]) AS ca,
       |                unnest([${cb.mkString(", ")}]) AS cb,
       |                unnest(range(0, 64)) AS i),
       |mins AS MATERIALIZED (
       |  SELECT doc_id, i, min((ca * h + cb) % $p) AS m
       |  FROM hmod CROSS JOIN coef GROUP BY doc_id, i),
       |agree AS (
       |  SELECT p.id1 AS id1, p.id2 AS id2, p.jac AS jac,
       |    sum(CASE WHEN m1.m = m2.m THEN 1 ELSE 0 END) AS agr
       |  FROM pairs p JOIN mins m1 ON m1.doc_id = p.id1
       |  JOIN mins m2 ON m2.doc_id = p.id2 AND m2.i = m1.i
       |  GROUP BY p.id1, p.id2, p.jac)
       |SELECT id1, id2, round(jac, 4) AS jaccard,
       |  round(CAST(agr AS DOUBLE) / 64, 4) AS est,
       |  round(abs(CAST(agr AS DOUBLE) / 64 - jac), 4) AS err
       |FROM agree ORDER BY id1, id2""".stripMargin
  }

  /** Incremental SIMHASH near-dup probe
    * ([[graft.ops.Dedup.writeSimhashIndex]] +
    * [[graft.ops.Dedup.newVsCorpusSimhash]], Manku WWW'07): the corpus
    * (doc_id % 5 ≠ 0) persists its blocked 60-bit signature store once;
    * the "day's batch" (doc_id % 5 = 0) is signed and probed by block
    * equality — LOSSLESS at Hamming ≤ 3 with 4 blocks (pigeonhole), so
    * the oracle is the brute-force cross-split Hamming join over
    * independently recomputed signatures. */
  val dedupSimhashInc: Q = (s, dir) => {
    val idxDir = graft.Staging.dirFor("simhash-index")
    graft.ops.Dedup.writeSimhashIndex(
      Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", idxDir)
    graft.ops.Dedup.newVsCorpusSimhash(s, idxDir,
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "doc_id", "text")
      .orderBy(col("dist"), col("id1"), col("id2"))
  }

  val dedupSimhashIncSql: String =
    s"""WITH ${QueryCatalog.simhashSigsCtes("b", " WHERE doc_id % 5 = 0")},
       |${QueryCatalog.simhashSigsCtes("c", " WHERE doc_id % 5 <> 0")}
       |SELECT b.doc_id AS id1, c.doc_id AS id2,
       |  CAST(bit_count(xor(b.sig, c.sig)) AS BIGINT) AS dist
       |FROM bsigs b JOIN csigs c ON bit_count(xor(b.sig, c.sig)) <= 3
       |ORDER BY dist, id1, id2""".stripMargin

  /** CROSS-MODAL retrieval eval (VERDICT r19 Missing #4) — caption →
    * image ANN through the EXISTING IVF path, every input a committed
    * artifact: the (caption-vec, image-vec) pair manifest derives the
    * image side from the perceptual-dedup fixtures' committed
    * signature bits and the caption side from a deterministic aligned
    * perturbation ([[graft.tools.GenMmEvalFixtures]], write-time
    * cross-modal-structure assertions), and the IVF index is the
    * committed raw Lloyd-mean matrix `mm_centroids.parquet` — an
    * index-as-data fixture, so the oracle replays only assignment +
    * ranking + metrics, with the centroid normalization repeated
    * element-order-exact in SQL. The audit relation is the standard
    * [[qRetrievalEvalIvf]] metric fold: recall@10 / RR / nDCG of the
    * cell-restricted caption→image ranking against the exact
    * cross-modal brute force. */
  val qRetrievalEvalMm: Q = (s, dir) => {
    val pairs = s.read.parquet(s"${graft.Tables.fixturesDir}/mm_pairs.parquet")
    val corpus = pairs.select(
      graft.ops.Dedup.md5TokenHash60(col("file")).as("id"),
      col("img_vec").as("vec"))
    val queries = pairs.select(
      graft.ops.Dedup.md5TokenHash60(col("file")).as("qid"),
      col("cap_vec").as("qvec"))
    // committed index: k = 4 centroid rows — driver-bounded by construction
    val cents = s.read
      .parquet(s"${graft.Tables.fixturesDir}/mm_centroids.parquet")
      .orderBy(col("cid")).select("cvec").collect()
      .map(_.getSeq[Double](0).toArray)
    AnnHarness.audit(queries, corpus, AnnHarness.fixedCell(queries, corpus, cents))
  }

  /** Path-portable; the centroid unit-normalization is replayed with
    * the same element-order arithmetic [[graft.ops.IvfIndex.unitRows]]
    * runs. */
  def qRetrievalEvalMmSql: String = {
    val hexVal = Md5Sql.hexVal
    s"""WITH mm AS (
       |  SELECT file, img_vec, cap_vec, CAST($hexVal AS BIGINT) AS mid
       |  FROM (SELECT file, img_vec, cap_vec, substring(md5(file), 1, 15) AS h15
       |        FROM '${graft.Tables.fixturesDir}/mm_pairs.parquet')),
       |c AS (SELECT mid AS id, img_vec AS vec FROM mm),
       |q AS (SELECT mid AS qid, cap_vec AS qvec FROM mm),
       |cents0 AS (SELECT list(cvec ORDER BY cid) AS cs0
       |           FROM '${graft.Tables.fixturesDir}/mm_centroids.parquet'),
       |cents AS (SELECT list_transform(cs0,
       |    c2 -> list_transform(c2, x -> x / sqrt(list_dot_product(c2, c2)))) AS cs
       |  FROM cents0),
       |${AnnHarness.gtScoredCte},
       |cc AS (
       |  SELECT id, vec,
       |    len(s) - list_position(list_reverse(s), list_max(s)) AS cell
       |  FROM (SELECT id, vec, list_transform(cs, x -> list_dot_product(vec, x)) AS s
       |        FROM c CROSS JOIN cents)),
       |qc AS (
       |  SELECT qid, qvec,
       |    len(s) - list_position(list_reverse(s), list_max(s)) AS cell
       |  FROM (SELECT qid, qvec, list_transform(cs, x -> list_dot_product(qvec, x)) AS s
       |        FROM q CROSS JOIN cents)),
       |ivfscored AS (
       |  SELECT qc.qid AS qid, cc.id AS id,
       |    row_number() OVER (PARTITION BY qc.qid ORDER BY
       |      list_dot_product(qc.qvec, cc.vec) /
       |        (sqrt(list_dot_product(qc.qvec, qc.qvec)) *
       |         sqrt(list_dot_product(cc.vec, cc.vec))) DESC, cc.id) AS rank
       |  FROM cc JOIN qc ON cc.cell = qc.cell),
       |sysk AS (SELECT qid, id, rank FROM ivfscored WHERE rank <= $EvalK),
       |$metricsTailSql""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "q_retrieval_eval_mm" -> qRetrievalEvalMm,
    "q_retrieval_eval" -> qRetrievalEval,
    "q_retrieval_eval_graph" -> qRetrievalEvalGraph,
    "q_retrieval_eval_ivf" -> qRetrievalEvalIvf,
    "q_retrieval_eval_sq" -> qRetrievalEvalSq,
    "q_retrieval_eval_trunc" -> qRetrievalEvalTrunc,
    "q_retrieval_eval_lsh_mp" -> qRetrievalEvalLshMp,
    "q_retrieval_eval_pq" -> qRetrievalEvalPqQ,
    "q_retrieval_eval_ivfpq" -> qRetrievalEvalIvfPqQ,
    "q_retrieval_eval_graph_seeded" -> qRetrievalEvalGraphSeeded,
    "q_retrieval_eval_res" -> qRetrievalEvalResQ,
    "q_retrieval_eval_opq" -> qRetrievalEvalOpqQ,
    "q_retrieval_eval_hybrid" -> qRetrievalEvalHybridQ,
    "q_retrieval_mmr" -> qRetrievalMmr,
    "q_retrieval_pipeline" -> qRetrievalPipeline,
    "q_retrieval_pipeline_indexed" -> qRetrievalPipelineIndexed,
    "dedup_est_error" -> dedupEstError,
    "dedup_simhash_inc" -> dedupSimhashInc)

  val oracles: Map[String, String] = Map(
    "q_retrieval_eval_mm" -> qRetrievalEvalMmSql,
    "q_retrieval_eval" -> qRetrievalEvalSql,
    "q_retrieval_eval_graph" -> qRetrievalEvalGraphSql,
    "q_retrieval_eval_ivf" -> qRetrievalEvalIvfSql,
    "q_retrieval_eval_sq" -> qRetrievalEvalSqSql,
    "q_retrieval_eval_trunc" -> qRetrievalEvalTruncSql,
    "q_retrieval_eval_lsh_mp" -> qRetrievalEvalLshMpSql,
    "q_retrieval_eval_pq" -> qRetrievalEvalPqSql,
    "q_retrieval_eval_ivfpq" -> qRetrievalEvalIvfPqSql,
    "q_retrieval_eval_graph_seeded" -> qRetrievalEvalGraphSeededSql,
    "q_retrieval_eval_res" -> qRetrievalEvalResSql,
    "q_retrieval_eval_opq" -> qRetrievalEvalOpqSql,
    "q_retrieval_eval_hybrid" -> qRetrievalEvalHybridSql,
    // the multi-probe QUERY's oracle lives here next to the chain it
    // shares with its eval audit (the query itself is declared in
    // PipelineQueries)
    "ann_lsh_multiprobe" -> annLshMultiprobeSql,
    "q_retrieval_mmr" -> qRetrievalMmrSql,
    "q_retrieval_pipeline" -> qRetrievalPipelineSql,
    // serving the flagship from stores must change nothing: the
    // indexed variant shares the inline oracle byte for byte
    "q_retrieval_pipeline_indexed" -> qRetrievalPipelineSql,
    "dedup_est_error" -> dedupEstErrorSql,
    "dedup_simhash_inc" -> dedupSimhashIncSql)
}
