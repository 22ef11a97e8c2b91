package graft.queries

import graft.{EpochStore, Materialize, Tables}
import org.apache.spark.sql.functions._

/** Seventh wave of the query surface (round 17): the LIFECYCLE /
  * serving closures — the graph-ANN on-disk index probe, the Platt
  * re-audited reliability table, incremental containment, and the
  * DSIR-selection flagship. Same oracle conventions as
  * [[QueryCatalog]]: identical aliases both sides, total ORDER BY,
  * integer outputs CAST to BIGINT in DuckDB, scores rounded 4 dp
  * before every ranking, NLL/ECE folds rounded 6 dp.
  */
object LifecycleQueries {
  import QueryCatalog.Q

  /** [[ServeQueries.annGraphSearch]] served from the PERSISTED
    * adjacency ([[graft.ops.NnDescent.writeGraphIndex]] →
    * [[graft.ops.NnDescent.searchGraphIndexed]]): build the same k-NN
    * graph, write the node-id-bucketed undirected layout, then answer
    * the 5 standing query vectors from the store — each hop's scan
    * pruned to the frontier's buckets. Indexed ≡ inline is the family
    * contract (cf. `text_bm25_indexed`), so the oracle is byte-for-byte
    * [[ServeQueries.annGraphSearchSql]] — the same hop-by-hop replay. */
  val annGraphSearchIndexed: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    val g = AnnHarness.graph(corpus)
    val path = graft.Staging.dirFor("graph-serving-index")
    graft.ops.NnDescent.writeGraphIndex(g, path)
    graft.ops.NnDescent.searchGraphIndexed(s, path, corpus, queries,
        k = AnnHarness.K, entries = AnnHarness.SearchEntries,
        beam = AnnHarness.SearchBeam, hops = AnnHarness.SearchHops,
        seed = AnnHarness.GraphSeed)
      .orderBy(col("qid"), col("rank"))
  }

  val annGraphSearchIndexedSql: String = ServeQueries.annGraphSearchSql

  /** Metadata-filtered serving from the INDEXED graph
    * ([[graft.ops.NnDescent.searchGraphIndexedFilteredFrom]]):
    * `ann_graph_search_filtered`'s predicate (id % 3 = 0, answer-side
    * only) composed with the on-disk bucket-pruned walk. Indexed ≡
    * inline is the family contract — the store holds the same
    * undirected relation the inline walk checkpoints — so the oracle
    * is [[annGraphSearchFilteredSql]] byte for byte; GraphSearchSpec
    * additionally pins both prunings in the probe plan. */
  val annGraphSearchFilteredIndexed: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    val g = AnnHarness.graph(corpus)
    val path = graft.Staging.dirFor("graph-filtered-index")
    graft.ops.NnDescent.writeGraphIndex(g, path)
    graft.ops.NnDescent.searchGraphIndexedFiltered(s, path, corpus,
        queries, k = AnnHarness.K, entries = AnnHarness.SearchEntries,
        beam = AnnHarness.SearchBeam, hops = AnnHarness.SearchHops,
        predicate = col("id") % 3 === 0, seed = AnnHarness.GraphSeed)
      .orderBy(col("qid"), col("rank"))
  }

  /** The re-audited reliability table under the fitted PLATT (A, B)
    * ([[graft.ops.TextAnalysis.classifierCalibrationPlattFitted]]) —
    * `text_calibration_fitted`'s two-parameter twin, closing the
    * calibration family's fit→audit symmetry. The oracle replays the
    * scoring, the 4-dp histogram, all 6 191 grid NLLs, the argmin, and
    * the table binned under the fitted sigmoid. */
  val textCalibrationPlattFitted: Q = (s, dir) => {
    val docs = s.read.parquet(
      s"${graft.Tables.fixturesDir}/labeled_quality.parquet")
    graft.ops.TextAnalysis.classifierCalibrationPlattFitted(docs, "doc_id",
      "text", "label", graft.ops.TextAnalysis.trainedWeightArray(s), bins = 10)
  }

  val textCalibrationPlattFittedSql: String =
    s"""WITH ${ServeQueries.calibrationFitCtes},
       |${ServeQueries.plattFitCtes}
       |SELECT CAST(least(floor(conf * 10.0), 9.0) AS INT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(conf), 4) AS avg_conf,
       |  round(avg(CAST(label AS DOUBLE)), 4) AS frac_pos
       |FROM (SELECT label, 1.0 / (1.0 + exp(-(
       |    (SELECT a FROM pfit) * score + (SELECT b FROM pfit)))) AS conf
       |  FROM sc)
       |GROUP BY 1
       |ORDER BY bin""".stripMargin

  /** Incremental containment ([[graft.ops.Dedup.writeContainmentIndex]]
    * + [[graft.ops.Dedup.newVsCorpusContainment]]): the corpus
    * (doc_id % 5 ≠ 0) is shingle-indexed ONCE to staging parquet; the
    * "day's batch" (doc_id % 5 = 0) is then shingled, prefix-probed
    * against the index, and verified from index rows — the corpus is
    * never re-shingled (the `dedup_incremental` split convention, the
    * containment family's probe-new-vs-corpus twin). Oracle: the full
    * all-pairs string-shingle containment replay restricted to
    * (id1 ∈ batch, id2 ∈ corpus). */
  val dedupContainmentInc: Q = (s, dir) => {
    val idxDir = graft.Staging.dirFor("containment-index")
    graft.ops.Dedup.writeContainmentIndex(
      Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", idxDir)
    graft.ops.Dedup.newVsCorpusContainment(s.read.parquet(idxDir),
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.8)
      .select(col("id1"), col("id2"),
        round(col("containment"), 4).as("containment"))
      .orderBy(col("id1"), col("id2"))
  }

  val dedupContainmentIncSql: String =
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
      |  FROM sh a JOIN sh b ON a.sh = b.sh
      |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id1, id2,
      |  round(CAST(i AS DOUBLE) / s1.sz, 4) AS containment
      |FROM inter JOIN sizes s1 ON s1.doc_id = id1
      |WHERE CAST(i AS DOUBLE) / s1.sz >= 0.8
      |ORDER BY id1, id2""".stripMargin

  /** Documents the v5 DSIR stage selects (Gumbel top-N without
    * replacement ∝ exp(logw)). Below the gate corpus size, so the
    * selection stage binds at every verify scale ≥ sf0.01; smaller
    * fixtures keep every weighted doc (rk ≤ N over fewer rows) — the
    * oracle replays either way. */
  private val V5SelectN = 100

  /** The DSIR-SELECTION flagship — `corpus_pipeline_v4` with the
    * round-16 judge's missing stage inserted: exact keep-first dedup →
    * containment collapse → DSIR importance weighting toward the `en`
    * target slice (hashed-bigram model over the SURVIVORS, the
    * [[graft.ops.Dsir.writeFeatures]] on-disk store) → Gumbel top-N
    * selection without replacement → Kneser–Ney perplexity tiering
    * (reference LM trained on the full `en` slice, v4's convention;
    * keep head+middle of the SELECTED population) → token-budget shard
    * packing. v4's oracle stays byte-unchanged; this one replays every
    * stage — dedup groups, the dominance rule, the full DSIR model,
    * the Gumbel race, the KN model, the by-value cuts, the prefix-sum
    * packing — in ONE DuckDB query. */
  val corpusPipelineV5: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val keepIds = docs.groupBy(md5(col("text")).as("fp"))
      .agg(min("doc_id").as("doc_id"))
    // `uniq` feeds the collapse twice and `unquoted` is referenced by
    // THREE stages (feature store, target ids, the selection semi-join)
    // — checkpoint both chokepoints so each stage computes once.
    val uniq = Materialize(docs.join(keepIds.select("doc_id"), Seq("doc_id"), "left_semi"))
    val unquoted = Materialize(graft.ops.Dedup.containmentCollapse(uniq, "doc_id",
      "text", threshold = 0.8))
    val featPath = graft.Staging.dirFor("dsir-feats-v5")
    graft.ops.Dsir.writeFeatures(unquoted, "doc_id", "text", 512, featPath)
    val feats = graft.ops.Dsir.readFeatures(s, featPath)
    val tIds = unquoted.filter(col("lang") === "en")
      .select(col("doc_id").as("id")).distinct()
    val model = graft.ops.Dsir.trainFeatures(feats, tIds, buckets = 512)
    val w = graft.ops.Dsir.logWeightsFeatures(feats, model)
    val selIds = graft.ops.Dsir.resample(w, n = V5SelectN, seed = "dsir5")
      .select(col("id").as("doc_id"))
    val selected = unquoted.join(selIds, Seq("doc_id"), "left_semi")
    val lm = graft.ops.LanguageModel.trainKnBigramLm(
      docs.filter(col("lang") === "en"), "text")
    val ppl = graft.ops.LanguageModel.perplexityKn(selected, "doc_id",
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

  val corpusPipelineV5Sql: String =
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
       |dt5 AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS tk
       |  FROM surv WHERE text IS NOT NULL),
       |dbg5 AS (
       |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
       |    FROM dt5 WHERE len(tk) > 1)),
       |hb5 AS (
       |  SELECT doc_id, CAST(${Md5Sql.hexVal} AS BIGINT) % 512 AS bucket
       |  FROM (SELECT doc_id, substring(md5(w1 || ' ' || w2), 1, 15) AS h15
       |        FROM dbg5)),
       |feats5 AS (
       |  SELECT doc_id, bucket, count(*) AS cnt FROM hb5
       |  GROUP BY doc_id, bucket),
       |raw5 AS (
       |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM feats5
       |  GROUP BY bucket),
       |tgt5 AS (
       |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
       |  FROM feats5 JOIN surv USING (doc_id) WHERE lang = 'en'
       |  GROUP BY bucket),
       |tot5 AS (SELECT (SELECT sum(rc) FROM raw5) AS rn,
       |                (SELECT sum(tc) FROM tgt5) AS tn),
       |model5 AS (
       |  SELECT bucket,
       |    ln((coalesce(tc, 0) + 1) / CAST(tn + 512 AS DOUBLE)) -
       |    ln((rc + 1) / CAST(rn + 512 AS DOUBLE)) AS llr
       |  FROM raw5 LEFT JOIN tgt5 USING (bucket) CROSS JOIN tot5),
       |w5 AS (
       |  SELECT doc_id, round(sum(cnt * llr), 3) AS logw
       |  FROM feats5 JOIN model5 USING (bucket) GROUP BY doc_id),
       |keyed5 AS (
       |  SELECT doc_id,
       |    round(logw + -ln(-ln((CAST(${Md5Sql.hexVal} AS DOUBLE) + 0.5)
       |      / 1152921504606846976.0)), 4) AS skey
       |  FROM (SELECT doc_id, logw,
       |      substring(md5('dsir5' || CAST(doc_id AS VARCHAR)), 1, 15) AS h15
       |    FROM w5)),
       |sel AS (
       |  SELECT doc_id FROM (
       |    SELECT doc_id,
       |      row_number() OVER (ORDER BY skey DESC, doc_id) AS rk
       |    FROM keyed5) WHERE rk <= $V5SelectN),
       |selected AS (SELECT s.* FROM surv s JOIN sel USING (doc_id)),
       |${CorpusMlQueries.knPplCtes("selected")},
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

  /** The paragraph-dedup GATE's epoch computation in batch form
    * ([[graft.streaming.ParagraphGate.gateBatch]] — the hash-gated
    * stream twin, the PplGate precedent): the corpus (doc_id % 5 ≠ 0)
    * is gated as epoch 0 (its kept-block keys become the store), the
    * "day's batch" (doc_id % 5 = 0) as epoch 1 — the query returns the
    * batch epoch's accepted rebuilt documents, so the oracle hash
    * covers the in-batch collapse, the store probe, AND the
    * reassembly. Oracle: the whole composition replayed on chunk
    * STRINGS (value-equal to the md5-60 key groups). */
  val textParagraphDedupInc: Q = (s, dir) => {
    val keyDir = graft.Staging.dirFor("paragraph-keys")
    val accDir = graft.Staging.dirFor("paragraph-accepted")
    val docs = Tables.documents(s, dir)
    graft.streaming.ParagraphGate.gateBatch(
      docs.filter(col("doc_id") % 5 =!= 0), 0L, keyDir, accDir,
      "doc_id", "text", window = 20)
    graft.streaming.ParagraphGate.gateBatch(
      docs.filter(col("doc_id") % 5 === 0), 1L, keyDir, accDir,
      "doc_id", "text", window = 20)
    s.read.parquet(EpochStore.path(accDir, 1))
      .select(col("doc_id"), col("n_chunks"), col("n_kept"), col("kept_text"))
      .orderBy(col("doc_id"))
  }

  val textParagraphDedupIncSql: String =
    """WITH base AS (
      |  SELECT doc_id, string_split_regex(text, '\s+') AS ts
      |  FROM documents WHERE text IS NOT NULL),
      |chunks AS (
      |  SELECT doc_id, CAST(st / 20 AS BIGINT) AS idx,
      |    array_to_string(ts[st + 1 : st + 20], ' ') AS chunk
      |  FROM (SELECT doc_id, ts, unnest(range(0, len(ts), 20)) AS st
      |        FROM base WHERE len(ts) > 0)),
      |storekeys AS (
      |  SELECT DISTINCT chunk FROM chunks WHERE doc_id % 5 <> 0),
      |bchunks AS (SELECT * FROM chunks WHERE doc_id % 5 = 0),
      |kept AS (
      |  SELECT doc_id, idx, chunk FROM (
      |    SELECT doc_id, idx, chunk,
      |      row_number() OVER (PARTITION BY chunk ORDER BY doc_id, idx) AS rk
      |    FROM bchunks) WHERE rk = 1
      |    AND chunk NOT IN (SELECT chunk FROM storekeys)),
      |census AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_chunks FROM bchunks
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

  /** ISOTONIC-REGRESSION calibration
    * ([[graft.ops.TextAnalysis.fitIsotonic]], Zadrozny & Elkan KDD'02):
    * the reliability table under the fitted monotone step map — the
    * NON-parametric third member of the calibration family next to
    * temperature and Platt. Spark fits by pool-adjacent-violators over
    * the collected bounded histogram (exact BigInt pooling, one IEEE
    * division per block); the oracle replays the fit through the
    * MINIMAX closed form ŷ_i = max_{j≤i} min_{k≥i} avg(y[j..k]) over
    * the same histogram — equal in IEEE because every candidate
    * average is a correctly-rounded division of exact integer sums and
    * division is monotone. */
  val textCalibrationIsotonic: Q = (s, dir) => {
    val docs = s.read.parquet(
      s"${graft.Tables.fixturesDir}/labeled_quality.parquet")
    graft.ops.TextAnalysis.classifierCalibrationIsotonic(docs, "doc_id",
      "text", "label", graft.ops.TextAnalysis.trainedWeightArray(s), bins = 10)
  }

  val textCalibrationIsotonicSql: String =
    s"""WITH ${ServeQueries.calibrationFitCtes},
       |ihist AS (
       |  SELECT z, CAST(sum(y * cnt) AS BIGINT) AS sy,
       |    CAST(sum(cnt) AS BIGINT) AS w
       |  FROM hist GROUP BY z),
       |idx AS (
       |  SELECT z, row_number() OVER (ORDER BY z) AS i,
       |    sum(sy) OVER (ORDER BY z) AS cs,
       |    sum(w) OVER (ORDER BY z) AS cw
       |  FROM ihist),
       |-- avg(y[j..k]) via prefix-sum differences of EXACT integer sums
       |pairs AS (
       |  SELECT j.i AS j, k.i AS k,
       |    CAST(k.cs - coalesce(jp.cs, 0) AS DOUBLE) /
       |      CAST(k.cw - coalesce(jp.cw, 0) AS DOUBLE) AS a
       |  FROM idx j JOIN idx k ON k.i >= j.i
       |  LEFT JOIN idx jp ON jp.i = j.i - 1),
       |-- m(j, i) = min over k ≥ i of a(j, k): a suffix min per j
       |sufmin AS (
       |  SELECT j, k AS i, min(a) OVER (PARTITION BY j ORDER BY k DESC) AS m
       |  FROM pairs),
       |zfit AS (
       |  SELECT idx.z AS z, f.conf AS conf FROM (
       |    SELECT i, floor(max(m) * 1000000.0 + 0.5) / 1000000.0 AS conf
       |    FROM sufmin WHERE j <= i GROUP BY i) f
       |  JOIN idx ON idx.i = f.i),
       |iso AS (
       |  SELECT q.label AS label, zf.conf AS conf
       |  FROM (SELECT label,
       |          floor(score * 10000.0 + 0.5) / 10000.0 AS z FROM sc) q
       |  JOIN zfit zf USING (z))
       |SELECT CAST(least(floor(conf * 10.0), 9.0) AS INT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(conf), 4) AS avg_conf,
       |  round(avg(CAST(label AS DOUBLE)), 4) AS frac_pos
       |FROM iso
       |GROUP BY 1
       |ORDER BY bin""".stripMargin

  /** METADATA-FILTERED graph serving
    * ([[graft.ops.NnDescent.searchGraphFiltered]]): the standing walk
    * with only `vec_id % 3 = 0` nodes admissible to the ANSWER — the
    * walk still routes through the full adjacency (filtering the graph
    * would fragment it, the Filtered-DiskANN lesson). The oracle is
    * the same hop-by-hop replay with the predicate applied to the
    * final ranking only. */
  val annGraphSearchFiltered: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    val g = AnnHarness.graph(corpus)
    graft.ops.NnDescent.searchGraphFiltered(g, corpus, queries,
        k = AnnHarness.K, entries = AnnHarness.SearchEntries,
        beam = AnnHarness.SearchBeam, hops = AnnHarness.SearchHops,
        predicate = col("id") % 3 === 0, seed = AnnHarness.GraphSeed)
      .orderBy(col("qid"), col("rank"))
  }

  val annGraphSearchFilteredSql: String =
    s"""WITH ${AnnHarness.corpusGraphCtes},
       |${ServeQueries.graphSearchCtes}
       |SELECT qid, id, score, rank FROM (
       |  SELECT qid, id, score,
       |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, id) AS rank
       |  FROM v${AnnHarness.SearchHops} WHERE id % 3 = 0)
       |WHERE rank <= ${AnnHarness.K}
       |ORDER BY qid, rank""".stripMargin

  /** HYBRID retrieval ([[graft.ops.Hybrid.hybridTopK]], RRF — Cormack
    * SIGIR'09): BM25 over the standing 3-term query fused with cosine
    * against standing query vector 3, over the corpus slice carrying
    * BOTH text and an embedding (doc_id = vec_id, ids ≥ 5 — the
    * standing-query exclusion). Each ranker cut at m = 20, fused to
    * the top 10 by Σ 1/(60 + rank). The oracle replays both rankers —
    * the full BM25 formula over the restricted corpus and the 4-dp
    * cosine ranking — and the fusion sum in the same term order. */
  val qHybridRrf: Q = (s, dir) => {
    val (corpus, qv) = AnnHarness.hybrid(s, dir)
    graft.ops.Hybrid.hybridTopK(corpus, "doc_id", "text", "embedding",
        Seq("spark", "window", "merge"), qv, k = 10, m = 20)
      .orderBy(col("rk"))
  }

  /** The hybrid-fusion oracle chain, parameterized on (answer k, fusion
    * depth m) and ending in `hyb(id, rrf, rk)` — shared by
    * [[qHybridRrfSql]] and the retrieval-pipeline oracle, which feeds
    * the fused list into the MMR stage replay. Defines `corpus` and
    * `qv` CTEs downstream consumers may reuse. Split as
    * [[hybridRankersCtes]] (through `lexranked`/`vecranked`) plus the
    * two-way fusion tail, so the three-ranker oracle can reuse the
    * ranker replays without re-deriving them. */
  private[queries] def hybridFusedCtes(k: Int, m: Int): String =
    s"""${hybridRankersCtes(m)},
       |fused AS (
       |  SELECT coalesce(l.id, v.id) AS id,
       |    round(coalesce(1.0 / (60 + l.rk), 0.0) +
       |          coalesce(1.0 / (60 + v.rk), 0.0), 6) AS rrf
       |  FROM lexranked l FULL OUTER JOIN vecranked v ON l.id = v.id),
       |hyb AS (
       |  SELECT id, rrf, rk FROM (
       |    SELECT id, rrf, row_number() OVER (ORDER BY rrf DESC, id) AS rk
       |    FROM fused) WHERE rk <= $k)""".stripMargin

  /** The two ranker replays alone — `corpus`, the BM25 chain ending in
    * `lexranked(id, rk)`, `qv`, and the 4-dp cosine chain ending in
    * `vecranked(id, rk)`, each cut at `m`. */
  private[queries] def hybridRankersCtes(m: Int): String =
    s"""corpus AS (
       |  SELECT d.doc_id AS doc_id, d.text AS text,
       |    list_transform(e.embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
       |  WHERE d.doc_id >= ${AnnHarness.NQueries}),
       |toks AS (
       |  SELECT doc_id, unnest(list_filter(string_split_regex(text, '\\s+'), t -> t <> '')) AS token
       |  FROM corpus WHERE text IS NOT NULL),
       |dl_t AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl_t),
       |post AS (
       |  SELECT token, doc_id, count(*) AS tf FROM toks
       |  WHERE token IN ('spark', 'window', 'merge') GROUP BY token, doc_id),
       |df_t AS (SELECT token, count(*) AS df FROM post GROUP BY token),
       |lexscored AS (
       |  SELECT doc_id AS id,
       |    round(sum(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 4) AS score
       |  FROM post JOIN df_t USING (token) JOIN dl_t USING (doc_id) CROSS JOIN stats
       |  GROUP BY doc_id),
       |lexranked AS (
       |  SELECT id, rk FROM (
       |    SELECT id, row_number() OVER (ORDER BY score DESC, id) AS rk
       |    FROM lexscored) WHERE rk <= $m),
       |qv AS (
       |  SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qvec
       |  FROM embeddings WHERE vec_id = ${AnnHarness.HybridQuery}),
       |vecranked AS (
       |  SELECT id, rk FROM (
       |    SELECT doc_id AS id,
       |      row_number() OVER (ORDER BY
       |        round(list_dot_product(qvec, vec) /
       |          (sqrt(list_dot_product(qvec, qvec)) *
       |           sqrt(list_dot_product(vec, vec))), 4) DESC, doc_id) AS rk
       |    FROM corpus CROSS JOIN qv) WHERE rk <= $m)""".stripMargin

  val qHybridRrfSql: String =
    s"""WITH ${hybridFusedCtes(10, 20)}
       |SELECT id, rrf, rk FROM hyb
       |ORDER BY rk""".stripMargin

  /** [[qHybridRrf]] served from the two ON-DISK indexes
    * ([[graft.ops.Hybrid.hybridTopKIndexed]]): BM25 through the
    * token-bucket postings, the vector side through an IVF cell layout
    * with an exhaustive probe (nProbe ≥ cells ⇒ ≡ the inline fusion
    * row for row — indexed ≡ inline is the family contract, so the
    * oracle is [[qHybridRrfSql]] byte-for-byte; HybridSpec floors the
    * recall of the pruned production probe). */
  val qHybridRrfIndexed: Q = (s, dir) => {
    val (corpus, qv) = AnnHarness.hybrid(s, dir)
    val bm25Path = graft.Staging.dirFor("hybrid-bm25")
    graft.ops.TextIndex.writePostings(corpus, "doc_id", "text", bm25Path)
    val vecCorpus = corpus.select(col("doc_id").as("id"),
      col("embedding").as("vec"))
    val cents = graft.ops.IvfIndex.train(vecCorpus, "id", "vec", k = 8)
    val annPath = graft.Staging.dirFor("hybrid-ann")
    graft.ops.IvfIndex.writeIndexed(vecCorpus, cents, annPath)
    graft.ops.Hybrid.hybridTopKIndexed(s, bm25Path, annPath, cents,
        Seq("spark", "window", "merge"), qv, k = 10, m = 20, nProbe = 8)
      .orderBy(col("rk"))
  }

  /** THREE-ranker hybrid ([[graft.ops.Hybrid.rrfTopKN]]) — the
    * production fusion stack: [[qHybridRrf]]'s BM25 and dense-cosine
    * rankers plus the SQ8 symmetric code-domain ranking
    * ([[graft.ops.Sq.topKSym]], the cheap third opinion — integer-exact
    * and corpus-scannable at 1 byte/dim) as a third list, each cut at
    * m = 20 and fused by Σ 1/(60 + rank) in (lexical, vector, sq8)
    * term order. The oracle replays all three rankers — the two
    * [[hybridRankersCtes]] chains plus the SQ8 estimator (per-dim
    * bounds, floor/clamp encode, integer distance — the `ann_sq8`
    * replay over the hybrid corpus slice) — and the three-term fusion
    * sum left to right. */
  val qHybridRrf3: Q = (s, dir) => {
    val (corpus, qv) = AnnHarness.hybrid(s, dir)
    val m = 20
    val lex = graft.ops.TextIndex.bm25TopK(corpus, "doc_id", "text",
        Seq("spark", "window", "merge"), m)
      .select(col("id"), col("rk"))
    val scored = corpus.crossJoin(broadcast(qv))
      .select(lit(0).as("qid"), col("doc_id").as("id"),
        round(graft.ops.Similarity.cosine(col("embedding"), col("qvec")), 4)
          .as("score"))
    val vec = graft.ops.Skew.saltedTopK(scored, Seq("qid"),
        Seq(col("score").desc, col("id").asc), m, saltBy = col("id"))
      .select(col("id"), col("rank").as("rk"))
    val vecCorpus = corpus.select(col("doc_id").as("id"),
      col("embedding").as("vec"))
    val b = graft.ops.Sq.train(vecCorpus, "vec")
    val sq = graft.ops.Sq.topKSym(
        qv.select(lit(0).as("qid"), col("qvec")), vecCorpus, b, k = m)
      .select(col("id"), col("rank").as("rk"))
    graft.ops.Hybrid.rrfTopKN(
        Seq("lex" -> lex, "vec" -> vec, "sq8" -> sq), k = 10)
      .orderBy(col("rk"))
  }

  val qHybridRrf3Sql: String =
    s"""WITH ${hybridRankersCtes(20)},
       |sqdims AS (SELECT unnest(range(1, (SELECT min(len(vec)) FROM corpus) + 1)) AS dim),
       |sqcx AS (SELECT doc_id AS id, dim, vec[dim] AS x FROM corpus CROSS JOIN sqdims),
       |sqstats AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM sqcx GROUP BY dim),
       |sqscodes AS (
       |  SELECT id, dim,
       |    CASE WHEN hi <= lo THEN 0
       |         ELSE CAST(least(greatest(floor((x - lo) * 255.0 / (hi - lo)), 0.0), 255.0) AS BIGINT)
       |    END AS code
       |  FROM sqcx JOIN sqstats USING (dim)),
       |sqqx AS (SELECT dim, qvec[dim] AS x FROM qv CROSS JOIN sqdims),
       |sqqcodes AS (
       |  SELECT dim,
       |    CASE WHEN hi <= lo THEN 0
       |         ELSE CAST(least(greatest(floor((x - lo) * 255.0 / (hi - lo)), 0.0), 255.0) AS BIGINT)
       |    END AS code
       |  FROM sqqx JOIN sqstats USING (dim)),
       |sqd AS (
       |  SELECT id, CAST(sum((q.code - s.code) * (q.code - s.code)) AS BIGINT) AS d_code
       |  FROM sqqcodes q JOIN sqscodes s USING (dim) GROUP BY id),
       |sqranked3 AS (
       |  SELECT id, rk FROM (
       |    SELECT id, row_number() OVER (ORDER BY d_code, id) AS rk FROM sqd)
       |  WHERE rk <= 20),
       |fused3 AS (
       |  SELECT coalesce(l.id, v.id, s.id) AS id,
       |    round(coalesce(1.0 / (60 + l.rk), 0.0) +
       |          coalesce(1.0 / (60 + v.rk), 0.0) +
       |          coalesce(1.0 / (60 + s.rk), 0.0), 6) AS rrf
       |  FROM lexranked l FULL OUTER JOIN vecranked v ON l.id = v.id
       |  FULL OUTER JOIN sqranked3 s ON coalesce(l.id, v.id) = s.id)
       |SELECT id, rrf, rk FROM (
       |  SELECT id, rrf, row_number() OVER (ORDER BY rrf DESC, id) AS rk
       |  FROM fused3) WHERE rk <= 10
       |ORDER BY rk""".stripMargin

  /** The lexical index's EPOCH lifecycle
    * ([[graft.ops.TextIndex.appendPostingsEpoch]] +
    * [[graft.ops.TextIndex.bm25TopKEpochs]]): the corpus arrives as two
    * epoch appends (doc_id parity split — "base build" plus "nightly
    * delta"), and the probe over the epoch store must reproduce the
    * `text_bm25` ranking byte for byte. The stats make that exact, not
    * approximate: each epoch stores additive sufficient statistics
    * (n_docs, sum_dl — exact longs), summed at probe time into exactly
    * the rebuilt corpus's avgdl; df was always derived from the pruned
    * postings. Oracle: `text_bm25`'s SQL UNCHANGED — append ≡ rebuild
    * is the whole claim. */
  val textBm25Epochs: Q = (s, dir) => {
    val idx = graft.Staging.dirFor("bm25-epochs")
    val docs = Tables.documents(s, dir)
    graft.ops.TextIndex.appendPostingsEpoch(
      docs.filter(col("doc_id") % 2 === 0), "doc_id", "text", idx,
      epoch = 0L)
    graft.ops.TextIndex.appendPostingsEpoch(
      docs.filter(col("doc_id") % 2 =!= 0), "doc_id", "text", idx,
      epoch = 1L)
    graft.ops.TextIndex.bm25TopKEpochs(s, idx,
        Seq("spark", "window", "merge"), k = 50)
      .orderBy(col("rk"))
  }

  /** EXACT incremental Jaccard ([[graft.ops.Dedup.writeJaccardIndex]] +
    * [[graft.ops.Dedup.newVsCorpusJaccard]]): the corpus (doc_id % 5 ≠
    * 0) persists its prefix index once; the "day's batch" (doc_id % 5
    * = 0) probes it with LOSSLESS prefix-filtered candidates under the
    * store's frozen rarity order — the exact twin of
    * `dedup_incremental`'s banded probe, so the oracle is that query's
    * SQL verbatim: two different candidate engines, one exact
    * cross-split answer. */
  val dedupJaccardInc: Q = (s, dir) => {
    val idxDir = graft.Staging.dirFor("jaccard-index")
    graft.ops.Dedup.writeJaccardIndex(
      Tables.documents(s, dir).filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text", idxDir)
    graft.ops.Dedup.newVsCorpusJaccard(s, idxDir,
        Tables.documents(s, dir).filter(col("doc_id") % 5 === 0),
        "doc_id", "text", threshold = 0.5)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("id1"), col("id2"))
  }

  val dedupJaccardIncSql: String = QueryCatalog.dedupIncrementalSql

  val all: Map[String, Q] = Map(
    "ann_graph_search_indexed" -> annGraphSearchIndexed,
    "text_calibration_platt_fitted" -> textCalibrationPlattFitted,
    "dedup_containment_inc" -> dedupContainmentInc,
    "corpus_pipeline_v5" -> corpusPipelineV5,
    "text_paragraph_dedup_inc" -> textParagraphDedupInc,
    "text_calibration_isotonic" -> textCalibrationIsotonic,
    "dedup_jaccard_inc" -> dedupJaccardInc,
    "ann_graph_search_filtered" -> annGraphSearchFiltered,
    "ann_graph_search_filtered_indexed" -> annGraphSearchFilteredIndexed,
    "q_hybrid_rrf" -> qHybridRrf,
    "q_hybrid_rrf_indexed" -> qHybridRrfIndexed,
    "q_hybrid_rrf3" -> qHybridRrf3,
    "text_bm25_epochs" -> textBm25Epochs)

  val oracles: Map[String, String] = Map(
    "ann_graph_search_indexed" -> annGraphSearchIndexedSql,
    "text_calibration_platt_fitted" -> textCalibrationPlattFittedSql,
    "dedup_containment_inc" -> dedupContainmentIncSql,
    "corpus_pipeline_v5" -> corpusPipelineV5Sql,
    "text_paragraph_dedup_inc" -> textParagraphDedupIncSql,
    "text_calibration_isotonic" -> textCalibrationIsotonicSql,
    "dedup_jaccard_inc" -> dedupJaccardIncSql,
    "ann_graph_search_filtered" -> annGraphSearchFilteredSql,
    "ann_graph_search_filtered_indexed" -> annGraphSearchFilteredSql,
    "q_hybrid_rrf" -> qHybridRrfSql,
    "q_hybrid_rrf_indexed" -> qHybridRrfSql,
    "q_hybrid_rrf3" -> qHybridRrf3Sql,
    "text_bm25_epochs" -> CorpusOpsQueries.textBm25Sql)
}
