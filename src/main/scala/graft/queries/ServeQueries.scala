package graft.queries

import graft.{Materialize, Tables}
import org.apache.spark.sql.functions._

/** Sixth wave of the query surface (round 16): the SERVING half of two
  * families that previously stopped at construction — graph-ANN
  * query-time beam search over the NN-Descent index
  * ([[graft.ops.NnDescent.searchGraph]]), and classifier calibration
  * FITTING (temperature scaling, Guo et al. ICML 2017) with its
  * re-audited reliability table. Same oracle conventions as
  * [[QueryCatalog]]: identical aliases both sides, total ORDER BY,
  * integer outputs CAST to BIGINT in DuckDB, scores rounded 4 dp before
  * every ranking, NLL/ECE folds rounded 6 dp.
  */
object ServeQueries {
  import QueryCatalog.Q
  import AnnHarness.{K, SearchBeam, SearchEntries, SearchHops,
    SeededCells, SeededK, SeededPerCell}

  /** Graph-ANN SEARCH ([[graft.ops.NnDescent.searchGraph]]): build the
    * k-NN graph over the corpus slice, then answer the 5 standing query
    * vectors by beam-walking the graph — entries=3 md5-rank entry
    * points, beam 5, 3 hops, top-10 of everything visited. This is the
    * PRUNED production walk, hash-gated end to end: the oracle replays
    * the whole pipeline — init, both graph sweeps, AND every hop of the
    * search (frontier → unvisited neighbor expansion → scoring → beam
    * cut) — as unrolled materialized CTEs (the `ann_knn_graph`
    * discipline), so a one-node divergence in any hop fails the hash.
    * The exhaustive-expansion ≡ brute-force gate and the recall floor
    * vs the flat scan live in GraphSearchSpec. */
  val annGraphSearch: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.walk(AnnHarness.graph(corpus), corpus, queries)
      .orderBy(col("qid"), col("rank"))
  }

  /** The search replay: undirected adjacency of the replayed graph,
    * md5-rank entry points, then per hop — frontier-neighbor expansion
    * (DISTINCT), visited anti-join, scoring, beam cut — exactly the
    * Spark walk. */
  private def walkCosQ: String =
    "round(list_dot_product(qv.qvec, nv.vec) / " +
      "(sqrt(list_dot_product(qv.qvec, qv.qvec)) * " +
      "sqrt(list_dot_product(nv.vec, nv.vec))), 4)"

  /** The hop CTEs shared by the uniform and the cell-seeded walk
    * replays (only the entry construction differs): frontier-neighbor
    * expansion (DISTINCT), visited anti-join, scoring, beam cut. */
  private def walkHopCtes: String = {
    val cosQ = walkCosQ
    (1 to SearchHops).map { i =>
      s"""cnd$i AS MATERIALIZED (
         |  SELECT DISTINCT f${i - 1}.qid AS qid, und.v AS id
         |  FROM f${i - 1} JOIN und ON und.c = f${i - 1}.id),
         |new$i AS MATERIALIZED (
         |  SELECT c.qid AS qid, c.id AS id FROM cnd$i c
         |  LEFT JOIN v${i - 1} p ON p.qid = c.qid AND p.id = c.id
         |  WHERE p.id IS NULL),
         |s$i AS MATERIALIZED (
         |  SELECT n.qid AS qid, n.id AS id, $cosQ AS score
         |  FROM new$i n JOIN nodes nv ON nv.id = n.id JOIN qv ON qv.qid = n.qid),
         |v$i AS MATERIALIZED (
         |  SELECT qid, id, score FROM v${i - 1}
         |  UNION ALL SELECT qid, id, score FROM s$i),
         |f$i AS MATERIALIZED (
         |  SELECT qid, id FROM (
         |    SELECT qid, id,
         |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
         |    FROM s$i) WHERE rn <= $SearchBeam)""".stripMargin
    }.mkString(",\n")
  }

  private def walkPrefixCtes: String =
    s"""und AS MATERIALIZED (
       |  SELECT id AS c, nbr AS v FROM g2
       |  UNION
       |  SELECT nbr AS c, id AS v FROM g2),
       |qv AS MATERIALIZED (
       |  SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
       |  FROM embeddings WHERE ${AnnHarness.QueriesWhere})""".stripMargin

  private def walkTailCtes(v0: String): String =
    s"""$v0,
       |f0 AS MATERIALIZED (
       |  SELECT qid, id FROM (
       |    SELECT qid, id,
       |      row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rn
       |    FROM v0) WHERE rn <= $SearchBeam),
       |$walkHopCtes""".stripMargin

  private[queries] def graphSearchCtes: String =
    s"""$walkPrefixCtes,
       |ent AS (SELECT id FROM rk WHERE r <= $SearchEntries),
       |${walkTailCtes(
        s"""v0 AS MATERIALIZED (
           |  SELECT qv.qid AS qid, nv.id AS id, $walkCosQ AS score
           |  FROM qv CROSS JOIN ent JOIN nodes nv ON nv.id = ent.id)""".stripMargin)}""".stripMargin

  /** The CELL-SEEDED walk replay ([[graft.ops.NnDescent
    * .searchGraphCellSeeded]] at a TRAINED [[SeededK]]-cell coarse
    * quantizer — the A/B in SCALING measured trained Voronoi cells
    * matching uniform recall a hop earlier while the random-projection
    * literal quantizer LOST to uniform, so the committed configuration
    * trains): the full Lloyd replay ([[QuantizerReplay.ivfTrainCtes]]
    * at the IVF family's selected seed), node cell assignment
    * ([[QuantizerReplay.ivfCcCte]]), per-cell md5-60("gw" ‖ id) rank
    * cut, the query's top [[SeededCells]] cells by the probe rule
    * ([[QuantizerReplay.ivfQcellCte]]), per-QUERY entry pairs, then
    * the SAME hop CTEs as the uniform walk. */
  private[queries] def graphSearchSeededCtes: String = {
    val hexVal = Md5Sql.hexVal
    s"""$walkPrefixCtes,
       |${QuantizerReplay.ivfTrainCtes("nodes", pfx = "gq", k = SeededK,
          iters = 2, dim = 64, seed = graft.ops.SelectedSeeds.ivf)},
       |${QuantizerReplay.ivfCcCte("nodes", "gq")},
       |gh AS (
       |  SELECT id, CAST($hexVal AS BIGINT) AS h
       |  FROM (SELECT id, substring(md5('gw' || CAST(id AS VARCHAR)), 1, 15) AS h15
       |        FROM nodes)),
       |gtop AS (
       |  SELECT cell, id FROM (
       |    SELECT c.cell, c.id,
       |      row_number() OVER (PARTITION BY c.cell ORDER BY gh.h, c.id) AS r
       |    FROM gqcc c JOIN gh ON gh.id = c.id) WHERE r <= $SeededPerCell),
       |${QuantizerReplay.ivfQcellCte("qv", "gq", iters = 2,
          nProbe = SeededCells)},
       |entp AS (
       |  SELECT DISTINCT q.qid, t.id FROM gqqcell q JOIN gtop t USING (cell)),
       |${walkTailCtes(
        s"""v0 AS MATERIALIZED (
           |  SELECT e.qid AS qid, nv.id AS id, $walkCosQ AS score
           |  FROM entp e JOIN nodes nv ON nv.id = e.id JOIN qv ON qv.qid = e.qid)""".stripMargin)}""".stripMargin
  }

  val annGraphSearchSql: String =
    s"""WITH ${AnnHarness.corpusGraphCtes},
       |$graphSearchCtes
       |SELECT qid, id, score, rank FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM v$SearchHops) WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  /** CELL-SEEDED graph-ANN search
    * ([[graft.ops.NnDescent.searchGraphCellSeeded]]) — the
    * scale-adaptive entry selection (round-18 missing #5): instead of
    * [[SearchEntries]] md5-rank-uniform shared entries, each query
    * starts from the top-ranked node of each of its [[SeededCells]]
    * nearest coarse cells of a TRAINED [[SeededK]]-cell k-means at the
    * IVF family's selected seed (the A/B in SCALING: random-projection
    * literal cells LOSE to uniform entries — only real Voronoi
    * structure pays), at the SAME per-query entry budget. Same graph,
    * same beam, same hops —
    * entry placement is the only variable, which is exactly what the
    * family-table A/B in SCALING measures. Hash-gated end to end: the
    * oracle replays cell assignment, per-cell rank, the probe rule,
    * and every hop. */
  val annGraphSearchSeeded: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.seededWalk(AnnHarness.graph(corpus), corpus, queries)
      .orderBy(col("qid"), col("rank"))
  }

  val annGraphSearchSeededSql: String =
    s"""WITH ${AnnHarness.corpusGraphCtes},
       |$graphSearchSeededCtes
       |SELECT qid, id, score, rank FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM v$SearchHops) WHERE rank <= $K
       |ORDER BY qid, rank""".stripMargin

  /** Shared calibration-fit CTE chain: score the committed labeled
    * fixture against the committed weights (the
    * `text_classifier_calibration` scoring replay), quantize scores to
    * the 4-dp histogram, evaluate the NLL over the temperature grid
    * T = i/40 (i ∈ [10, 128] — T = 1 included so fitted NLL ≤ raw NLL
    * by construction), argmin with ties toward smaller T. */
  private[queries] def calibrationFitCtes: String = {
    val hexVal = Md5Sql.hexVal
    // σ clamped to [ε, 1−ε] before ln on BOTH engines — a saturated
    // sigmoid (|z/t| ≳ 37, reachable on larger-score corpora) would
    // otherwise NULL-drop the term in Spark and error ln(0) here
    val p = "greatest(least(1.0/(1.0+exp(-(z/t))), 1.0 - 1e-15), 1e-15)"
    s"""docs AS (
       |  SELECT * FROM '${graft.Tables.fixturesDir}/labeled_quality.parquet'),
       |toks AS (
       |  SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\\s+')) AS tok
       |  FROM docs),
       |hashed AS (
       |  SELECT doc_id, ($hexVal) AS h
       |  FROM (SELECT doc_id, substring(md5(tok), 1, 15) AS h15 FROM toks)),
       |sraw AS (
       |  SELECT doc_id, CAST(sum(w.iw) AS BIGINT) AS raw
       |  FROM hashed
       |  JOIN '${graft.Tables.fixturesDir}/classifier_weights.parquet' w
       |    ON (h % 1024) = w.bucket
       |  GROUP BY doc_id),
       |sc AS (
       |  SELECT d.doc_id AS doc_id, d.label AS label,
       |    s.raw / (len(string_split_regex(coalesce(d.text, ''), '\\s+')) * 1000.0) AS score
       |  FROM docs d JOIN sraw s USING (doc_id)),
       |-- floor(10⁴·z + ½)/10⁴, NOT round(): round() is half-up on the
       |-- engine's decimal rendering and diverges from Spark at exact
       |-- 4th-decimal ties (which raw/(n·1000) scores hit); the floor
       |-- chain is one IEEE expression on identical operands
       |hist AS (
       |  SELECT floor(score * 10000.0 + 0.5) / 10000.0 AS z,
       |    CAST(label AS DOUBLE) AS y, count(*) AS cnt
       |  FROM sc GROUP BY z, y),
       |grid AS (
       |  SELECT CAST(i AS DOUBLE) / 40.0 AS t
       |  FROM (SELECT unnest(range(10, 129)) AS i)),
       |nll AS (
       |  SELECT t, round(sum(cnt * -(y * ln($p) + (1.0 - y) * ln(1.0 - $p))), 6) AS nll
       |  FROM hist CROSS JOIN grid GROUP BY t),
       |fit AS (SELECT t, nll FROM nll ORDER BY nll, t LIMIT 1)""".stripMargin
  }

  /** The Platt (A, B) grid NLL + argmin over the same `hist` CTE. */
  private[queries] def plattFitCtes: String = {
    val p = "greatest(least(1.0/(1.0+exp(-(a*z+b))), 1.0 - 1e-15), 1e-15)"
    s"""agrid AS (
       |  SELECT CAST(i AS DOUBLE) / 40.0 AS a
       |  FROM (SELECT unnest(range(10, 161)) AS i)),
       |bgrid AS (
       |  SELECT CAST(j AS DOUBLE) / 10.0 AS b
       |  FROM (SELECT unnest(range(-20, 21)) AS j)),
       |pnll AS (
       |  SELECT a, b, round(sum(cnt * -(y * ln($p) + (1.0 - y) * ln(1.0 - $p))), 6) AS nll
       |  FROM hist CROSS JOIN agrid CROSS JOIN bgrid GROUP BY a, b),
       |pfit AS (SELECT a, b, nll FROM pnll ORDER BY nll, a, b LIMIT 1)""".stripMargin
  }

  /** Reliability-table CTE over `sc` at temperature `tExpr` (a scalar
    * SQL expression): the `text_classifier_calibration` binning. */
  private def calibTableSql(tExpr: String): String =
    s"""SELECT CAST(least(floor(conf * 10.0), 9.0) AS INT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(conf), 4) AS avg_conf,
       |  round(avg(CAST(label AS DOUBLE)), 4) AS frac_pos
       |FROM (SELECT label, 1.0 / (1.0 + exp(-(score / ($tExpr)))) AS conf FROM sc)
       |GROUP BY 1""".stripMargin

  private def eceSql(table: String): String =
    s"""SELECT round(sum(CAST(n_docs AS DOUBLE) * abs(frac_pos - avg_conf)) /
       |  CAST(sum(n_docs) AS DOUBLE), 6) AS ece FROM $table""".stripMargin

  /** TEMPERATURE-SCALING fit of the trained quality classifier
    * ([[graft.ops.TextAnalysis.fitTemperature]]) + the before/after
    * audit scalars: fitted T, NLL at T and at 1, and the expected
    * calibration error of the raw vs the re-fitted reliability table.
    * The oracle replays the whole loop — scoring, the 4-dp score
    * histogram, all 119 grid NLLs, the argmin, both tables, both ECE
    * folds. */
  val textCalibrationFit: Q = (s, dir) => {
    val docs = s.read.parquet(
      s"${graft.Tables.fixturesDir}/labeled_quality.parquet")
    val w = graft.ops.TextAnalysis.trainedWeightArray(s)
    val scored = graft.ops.TextAnalysis
      .classifierScoreInline(docs, "doc_id", "text", w)
      .join(docs.select(col("doc_id").as("id"), col("label")), Seq("id"))
    val nll = graft.ops.TextAnalysis.temperatureNll(scored)
    val fit = graft.ops.TextAnalysis.fitTemperature(scored)
    val nllRaw = nll.filter(col("t") === 1.0).select(col("nll").as("nll_raw"))
    val eceRaw = graft.ops.TextAnalysis.calibrationEce(
        graft.ops.TextAnalysis.classifierCalibration(
          docs, "doc_id", "text", "label", w))
      .select(col("ece").as("ece_raw"))
    val eceFit = graft.ops.TextAnalysis.calibrationEce(
        graft.ops.TextAnalysis.classifierCalibrationFitted(
          docs, "doc_id", "text", "label", w))
      .select(col("ece").as("ece_fit"))
    fit.select(col("t"), col("nll").as("nll_fit"))
      .crossJoin(nllRaw).crossJoin(eceRaw).crossJoin(eceFit)
  }

  val textCalibrationFitSql: String =
    s"""WITH $calibrationFitCtes,
       |raw_tab AS (${calibTableSql("1.0")}),
       |fit_tab AS (${calibTableSql("SELECT t FROM fit")})
       |SELECT fit.t AS t, fit.nll AS nll_fit,
       |  (SELECT nll FROM nll WHERE t = 1.0) AS nll_raw,
       |  (${eceSql("raw_tab")}) AS ece_raw,
       |  (${eceSql("fit_tab")}) AS ece_fit
       |FROM fit""".stripMargin

  /** The re-audited reliability table under the FITTED temperature
    * ([[graft.ops.TextAnalysis.classifierCalibrationFitted]]) — the
    * second calibration table a pipeline publishes after correcting the
    * miscalibration the raw table exposed. */
  val textCalibrationFitted: Q = (s, dir) => {
    val docs = s.read.parquet(
      s"${graft.Tables.fixturesDir}/labeled_quality.parquet")
    graft.ops.TextAnalysis.classifierCalibrationFitted(docs, "doc_id",
      "text", "label", graft.ops.TextAnalysis.trainedWeightArray(s), bins = 10)
  }

  val textCalibrationFittedSql: String =
    s"""WITH $calibrationFitCtes
       |${calibTableSql("SELECT t FROM fit")}
       |ORDER BY bin""".stripMargin

  /** CCNet perplexity bucketing
    * ([[graft.ops.LanguageModel.perplexityBuckets]], Wenzek LREC'20):
    * the head/middle/tail equal-population split by Kneser–Ney
    * perplexity against the English reference slice — the partition a
    * CCNet-style pipeline publishes and downstream mixes sample from.
    * The oracle replays the WHOLE chain: the KN model (`text_lm_kn`'s
    * CTE body), the per-doc nll, the bounded (nll, count) histogram,
    * the cumulative cut values, and the by-value band assignment. */
  val textPplBuckets: Q = (s, dir) => {
    val ppl = graft.ops.LanguageModel.perplexityKnVsSlice(
      Tables.documents(s, dir), "doc_id", "text", col("lang") === "en")
    graft.ops.LanguageModel.perplexityBuckets(ppl, bands = 3)
      .withColumnRenamed("id", "doc_id")
      .select(col("doc_id"), col("nll"), col("band"), col("tier"))
      .orderBy(col("doc_id"))
  }

  val textPplBucketsSql: String =
    s"""WITH ${CorpusMlQueries.knPplCtesBody},
       |w AS (SELECT doc_id, round(avg(nll_term), 3) AS nll
       |      FROM terms GROUP BY doc_id),
       |hist AS (SELECT nll, count(*) AS c FROM w GROUP BY nll),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
       |cum AS (SELECT nll, sum(c) OVER (ORDER BY nll) AS cum FROM hist),
       |cuts AS (SELECT
       |  (SELECT min(nll) FROM cum CROSS JOIN tot
       |   WHERE cum >= CAST(ceil(1.0 * n / 3) AS BIGINT)) AS c1,
       |  (SELECT min(nll) FROM cum CROSS JOIN tot
       |   WHERE cum >= CAST(ceil(2.0 * n / 3) AS BIGINT)) AS c2)
       |SELECT doc_id, nll,
       |  CAST((CASE WHEN nll > c1 THEN 1 ELSE 0 END) +
       |       (CASE WHEN nll > c2 THEN 1 ELSE 0 END) AS INT) AS band,
       |  CASE WHEN nll <= c1 THEN 'head'
       |       WHEN nll <= c2 THEN 'middle' ELSE 'tail' END AS tier
       |FROM w CROSS JOIN cuts ORDER BY doc_id""".stripMargin

  /** Exact containment join
    * ([[graft.ops.Dedup.prefixContainmentJoin]]): every ordered pair
    * with |A∩B|/|A| ≥ 0.8 over 3-gram shingle sets — near-SUPERSET /
    * quote detection, the asymmetric relation Jaccard cannot express.
    * Value-equal oracle: all-pairs string-shingle containment (the
    * `dedup_jaccard_join` convention — hash sets ≡ string sets modulo
    * 64-bit collisions). */
  val dedupContainmentJoin: Q = (s, dir) =>
    graft.ops.Dedup.prefixContainmentJoin(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.8)
      .select(col("id1"), col("id2"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("id1"), col("id2"))

  val dedupContainmentJoinSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
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
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id1, id2,
      |  round(CAST(i AS DOUBLE) / s1.sz, 4) AS containment
      |FROM inter JOIN sizes s1 ON s1.doc_id = id1
      |WHERE CAST(i AS DOUBLE) / s1.sz >= 0.8
      |ORDER BY id1, id2""".stripMargin

  /** The ACTIONABLE collapse over the containment relation
    * ([[graft.ops.Dedup.containmentCollapse]]): drop every document
    * ≥80%-contained in a larger one (equal sizes keep the smaller id),
    * so quotes collapse into their containing pages and exact-dup sets
    * keep one exemplar. Unshingled (null-text) documents always
    * survive. */
  val dedupContainmentCollapse: Q = (s, dir) =>
    graft.ops.Dedup.containmentCollapse(Tables.documents(s, dir),
        "doc_id", "text", threshold = 0.8)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val dedupContainmentCollapseSql: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS t FROM documents),
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
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
      |  GROUP BY a.doc_id, b.doc_id),
      |dominated AS (
      |  SELECT DISTINCT id1 FROM inter
      |  JOIN sizes s1 ON s1.doc_id = id1
      |  JOIN sizes s2 ON s2.doc_id = id2
      |  WHERE CAST(i AS DOUBLE) / s1.sz >= 0.8
      |    AND (s2.sz > s1.sz OR (s2.sz = s1.sz AND id2 < id1)))
      |SELECT doc_id, lang FROM documents
      |WHERE doc_id NOT IN (SELECT id1 FROM dominated)
      |ORDER BY doc_id""".stripMargin

  /** The SELECTION-side composed flagship — corpus_pipeline v1–v3 are
    * the CLEANING family (gates → near-dup collapse → decontaminate →
    * pack); v4 is the stage a training build runs next, composed from
    * this round's operators: exact keep-first dedup → containment
    * collapse (quotes fold into their pages) → Kneser–Ney perplexity
    * TIERING against the English reference (CCNet's head/middle/tail)
    * → keep head+middle → token-budget shard packing (the global
    * two-phase prefix sum). Documents with no bigram evidence drop at
    * the tiering stage (the gate family's conservative direction).
    * Output: the shard census. The oracle replays every stage —
    * exact-dedup groups, the containment dominance rule, the whole KN
    * model, the by-value cuts, the prefix-sum packing. */
  val corpusPipelineV4: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val keepIds = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
    // `uniq` feeds the containment collapse's prefix join AND its final
    // anti-join — checkpoint so the exact-dedup semi-join runs once.
    val uniq = Materialize(docs.join(keepIds.select("doc_id"), Seq("doc_id"), "left_semi"))
    val unquoted = graft.ops.Dedup.containmentCollapse(uniq, "doc_id",
      "text", threshold = 0.8)
    val lm = graft.ops.LanguageModel.trainKnBigramLm(
      docs.filter(col("lang") === "en"), "text")
    val ppl = graft.ops.LanguageModel.perplexityKn(unquoted, "doc_id",
      "text", lm)
    val kept = graft.ops.LanguageModel.perplexityBuckets(ppl, bands = 3)
      .filter(col("band") <= 1)
      .select(col("id").as("doc_id"), (col("n_bigrams") + 1).as("n_tokens"))
    graft.ops.Sampling.packShardsGlobal(kept, "doc_id", "n_tokens",
        budgetTokens = 500)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
      .orderBy(col("shard"))
  }

  val corpusPipelineV4Sql: String =
    s"""WITH keep0 AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)),
       |u AS (SELECT d.* FROM documents d JOIN keep0 USING (doc_id)),
       |toks AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS t FROM u),
       |sh AS (
       |  SELECT DISTINCT doc_id, sh FROM (
       |    SELECT doc_id,
       |      CASE WHEN len(t) >= 3
       |        THEN unnest(list_transform(range(1, len(t) - 1),
       |               i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
       |        ELSE unnest([array_to_string(t, ' ')]) END AS sh
       |    FROM toks)),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
       |cinter AS (
       |  SELECT a.doc_id AS id1, b.doc_id AS id2, count(*) AS i
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
       |  GROUP BY a.doc_id, b.doc_id),
       |dominated AS (
       |  SELECT DISTINCT id1 FROM cinter
       |  JOIN sizes s1 ON s1.doc_id = id1
       |  JOIN sizes s2 ON s2.doc_id = id2
       |  WHERE CAST(i AS DOUBLE) / s1.sz >= 0.8
       |    AND (s2.sz > s1.sz OR (s2.sz = s1.sz AND id2 < id1))),
       |surv AS (
       |  SELECT * FROM u WHERE doc_id NOT IN (SELECT id1 FROM dominated)),
       |${CorpusMlQueries.knPplCtes("surv")},
       |w AS (
       |  SELECT doc_id, count(*) AS n_bigrams, round(avg(nll_term), 3) AS nll
       |  FROM terms GROUP BY doc_id),
       |hist AS (SELECT nll, count(*) AS c FROM w GROUP BY nll),
       |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM hist),
       |cum AS (SELECT nll, sum(c) OVER (ORDER BY nll) AS cum FROM hist),
       |cuts AS (SELECT
       |  (SELECT min(nll) FROM cum CROSS JOIN tot
       |   WHERE cum >= CAST(ceil(2.0 * n / 3) AS BIGINT)) AS c2),
       |kept AS (
       |  SELECT doc_id, n_bigrams + 1 AS n_tokens
       |  FROM w CROSS JOIN cuts WHERE nll <= c2),
       |p AS (
       |  SELECT n_tokens,
       |    coalesce(sum(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM kept)
       |SELECT CAST(floor(prior / 500.0) AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS n_tokens
       |FROM p GROUP BY shard
       |ORDER BY shard""".stripMargin

  /** Dolma-style paragraph dedup
    * ([[graft.ops.Chunking.dedupParagraphs]]): keep the FIRST corpus-
    * wide occurrence of every 20-token block, drop later copies,
    * reassemble — the middle dedup granularity between whole-document
    * collapse and the Lee-style all-copies substring scrub. The oracle
    * replays blocks, the keep-first rank (keyed on the block STRING —
    * value-equal to the md5-60 key groups), and the ordered
    * reassembly. */
  val textParagraphDedup: Q = (s, dir) =>
    graft.ops.Chunking.dedupParagraphs(Tables.documents(s, dir),
        "doc_id", "text", window = 20)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  val textParagraphDedupSql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS ts
      |  FROM documents WHERE text IS NOT NULL),
      |chunks AS (
      |  SELECT doc_id, CAST(st / 20 AS BIGINT) AS idx,
      |    array_to_string(ts[st + 1 : st + 20], ' ') AS chunk
      |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts), 20)) AS st
      |        FROM base WHERE len(ts) > 0)),
      |kept AS (
      |  SELECT doc_id, idx, chunk FROM (
      |    SELECT doc_id, idx, chunk,
      |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rk
      |    FROM chunks) WHERE rk = 1),
      |census AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM chunks
      |  GROUP BY doc_id),
      |rebuilt AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
      |    string_agg(chunk, ' ' ORDER BY idx) AS kept_text
      |  FROM kept GROUP BY doc_id)
      |SELECT c.doc_id AS doc_id, c.n_chunks AS n_chunks,
      |  coalesce(r.n_kept, 0) AS n_kept,
      |  coalesce(r.kept_text, '') AS kept_text
      |FROM census c LEFT JOIN rebuilt r USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** PLATT-SCALING fit ([[graft.ops.TextAnalysis.fitPlatt]], Platt
    * 1999): the two-parameter recalibration σ(A·z + B) next to the
    * temperature fit — B also fixes a calibration OFFSET. One row:
    * the fitted (a, b), its NLL, and the raw (a=1, b=0) NLL — on the
    * grid by construction, so nll_platt ≤ nll_raw always. The oracle
    * replays the scoring, the histogram, all 6 191 grid NLLs and the
    * argmin. */
  val textCalibrationPlatt: Q = (s, dir) => {
    val docs = s.read.parquet(
      s"${graft.Tables.fixturesDir}/labeled_quality.parquet")
    val w = graft.ops.TextAnalysis.trainedWeightArray(s)
    val scored = graft.ops.TextAnalysis
      .classifierScoreInline(docs, "doc_id", "text", w)
      .join(docs.select(col("doc_id").as("id"), col("label")), Seq("id"))
    val nll = graft.ops.TextAnalysis.plattNll(scored)
    val fit = graft.ops.TextAnalysis.fitPlatt(scored)
    val raw = nll.filter(col("a") === 1.0 && col("b") === 0.0)
      .select(col("nll").as("nll_raw"))
    fit.select(col("a"), col("b"), col("nll").as("nll_platt"))
      .crossJoin(raw)
  }

  val textCalibrationPlattSql: String =
    s"""WITH $calibrationFitCtes,
       |$plattFitCtes
       |SELECT pfit.a AS a, pfit.b AS b, pfit.nll AS nll_platt,
       |  (SELECT nll FROM pnll WHERE a = 1.0 AND b = 0.0) AS nll_raw
       |FROM pfit""".stripMargin

  /** Tokenizer-aware shard packing: pack by the TRAINED BPE tokenizer's
    * per-document subword budget ([[graft.ops.Bpe.encodeStats]] →
    * [[graft.ops.Sampling.packShardsGlobal]]) instead of whitespace
    * token counts — the budget a trainer actually consumes, so shards
    * land on the sequence-length target instead of drifting with the
    * corpus's chars-per-token ratio. Output: the shard census. The
    * oracle re-trains all 10 merges, re-encodes, and replays the
    * prefix-sum packing. */
  val qPackBpe: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = graft.ops.Bpe.train(docs, "text", CorpusMlQueries.BpeMerges)
    val enc = graft.ops.Bpe.encodeStats(docs, "doc_id", "text", model)
      .select(col("id").as("doc_id"), col("n_bpe_tokens"))
    graft.ops.Sampling.packShardsGlobal(enc, "doc_id", "n_bpe_tokens",
        budgetTokens = 800)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum("n_bpe_tokens").as("n_bpe_tokens"))
      .orderBy(col("shard"))
  }

  val qPackBpeSql: String =
    s"""${CorpusMlQueries.bpeCtes(CorpusMlQueries.BpeMerges)},
       |nt AS (
       |  SELECT word, len(string_split(trim(seg), '  ')) AS ntok
       |  FROM s${CorpusMlQueries.BpeMerges}),
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL),
       |enc AS (
       |  SELECT doc_id, CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens
       |  FROM dw JOIN nt USING (word) GROUP BY doc_id),
       |p AS (
       |  SELECT n_bpe_tokens,
       |    coalesce(sum(n_bpe_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
       |  FROM enc)
       |SELECT CAST(floor(prior / 800.0) AS BIGINT) AS shard,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(n_bpe_tokens) AS BIGINT) AS n_bpe_tokens
       |FROM p GROUP BY shard
       |ORDER BY shard""".stripMargin

  val all: Map[String, Q] = Map(
    "corpus_pipeline_v4" -> corpusPipelineV4,
    "text_paragraph_dedup" -> textParagraphDedup,
    "text_calibration_platt" -> textCalibrationPlatt,
    "q_pack_bpe" -> qPackBpe,
    "ann_graph_search" -> annGraphSearch,
    "ann_graph_search_seeded" -> annGraphSearchSeeded,
    "text_calibration_fit" -> textCalibrationFit,
    "text_calibration_fitted" -> textCalibrationFitted,
    "text_ppl_buckets" -> textPplBuckets,
    "dedup_containment_join" -> dedupContainmentJoin,
    "dedup_containment_collapse" -> dedupContainmentCollapse)

  val oracles: Map[String, String] = Map(
    "corpus_pipeline_v4" -> corpusPipelineV4Sql,
    "text_paragraph_dedup" -> textParagraphDedupSql,
    "text_calibration_platt" -> textCalibrationPlattSql,
    "q_pack_bpe" -> qPackBpeSql,
    "ann_graph_search" -> annGraphSearchSql,
    "ann_graph_search_seeded" -> annGraphSearchSeededSql,
    "text_calibration_fit" -> textCalibrationFitSql,
    "text_calibration_fitted" -> textCalibrationFittedSql,
    "text_ppl_buckets" -> textPplBucketsSql,
    "dedup_containment_join" -> dedupContainmentJoinSql,
    "dedup_containment_collapse" -> dedupContainmentCollapseSql)
}
