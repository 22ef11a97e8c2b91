package graft.queries

import graft.{Materialize, Tables}
import graft.operators.RangeJoin
import graft.ops.{Curation, Dedup, Rank, Sampling, TextAnalysis}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Third wave of the query surface (round 7): the no-equi-key range
  * and interval-overlap joins, the composed corpus-curation pipeline,
  * deterministic stratified mix sampling, and product-quantized ANN
  * (standalone + composed IVF-PQ). Same oracle conventions as
  * [[QueryCatalog]].
  */
object PipelineQueries {
  import QueryCatalog.Q

  /** Band join with NO equi-key: for every error event, how many
    * click/view events (any user) landed in the preceding 5 minutes —
    * burst/incident attribution over the event stream. The binned
    * rewrite ([[graft.operators.RangeJoin]]) keeps it an equi-join on
    * time bins; the naive inequality join Spark would otherwise plan is
    * a nested loop (RangeJoinSpec gates both parity and the plan). */
  val qRangeJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        Tables.tsSeconds(col("ts")).as("t_sec"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("t_sec"))
    val probes = ev.filter(col("event_type").isin("click", "view"))
      .select(col("t_sec").as("p_sec"))
    val counts = RangeJoin.bandJoin(errors, "t_sec", probes, "p_sec",
        low = -300L, high = 0L)
      .groupBy(col("event_id")).agg(count(lit(1)).as("n_preceding"))
    errors.join(counts, Seq("event_id"), "left")
      .select(col("event_id"),
        coalesce(col("n_preceding"), lit(0L)).as("n_preceding"))
      .orderBy(col("event_id"))
  }
  val qRangeJoinSql: String =
    """WITH e AS (SELECT event_id, event_type,
      |             CAST(floor(epoch(ts)) AS BIGINT) AS t_sec FROM events)
      |SELECT err.event_id, count(p.t_sec) AS n_preceding
      |FROM (SELECT event_id, t_sec FROM e WHERE event_type = 'error') err
      |LEFT JOIN (SELECT t_sec FROM e WHERE event_type IN ('click', 'view')) p
      |  ON p.t_sec >= err.t_sec - 300 AND p.t_sec < err.t_sec
      |GROUP BY err.event_id
      |ORDER BY err.event_id""".stripMargin

  /** Interval×interval OVERLAP join ([[RangeJoin.overlapJoin]]): user
    * sessions (30-min gap sessionization) × incident windows (error
    * event ± 2 min, any user) — which sessions were exposed to which
    * incidents. Both interval sets derive from the events table, so
    * DuckDB replays the whole composition: sessionize → windows →
    * overlap predicate. The binned rewrite emits each pair exactly once
    * (no distinct), gated in RangeJoinSpec. */
  val qOverlapJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        Tables.tsSeconds(col("ts")).as("t_sec"))
    val sessions = graft.operators.Sessionize.sessionStats(
        ev.select(col("user_id"), col("event_id"), col("t_sec")),
        "user_id", "t_sec", gapSeconds = 1800)
      .select(col("user_id"), col("session_id"),
        col("session_start").as("s_start"), (col("session_end") + 1).as("s_end"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"),
        (col("t_sec") - 120).as("i_start"), (col("t_sec") + 120).as("i_end"))
    RangeJoin.overlapJoin(sessions, "s_start", "s_end",
        incidents, "i_start", "i_end", binWidth = 600)
      .select(col("user_id"), col("session_id"), col("incident_id"))
      .orderBy(col("user_id"), col("session_id"), col("incident_id"))
  }
  val qOverlapJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS t_sec FROM events),
      |marked AS (
      |  SELECT user_id, t_sec,
      |    CASE WHEN t_sec - lag(t_sec) OVER (PARTITION BY user_id ORDER BY t_sec) > 1800
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |sess AS (
      |  SELECT user_id, t_sec,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY t_sec
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked),
      |sessions AS (
      |  SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |    min(t_sec) AS s_start, max(t_sec) + 1 AS s_end
      |  FROM sess GROUP BY user_id, session_id),
      |incidents AS (
      |  SELECT event_id AS incident_id, t_sec - 120 AS i_start, t_sec + 120 AS i_end
      |  FROM e WHERE event_type = 'error')
      |SELECT user_id, session_id, incident_id
      |FROM sessions JOIN incidents ON s_start < i_end AND i_start < s_end
      |ORDER BY user_id, session_id, incident_id""".stripMargin

  /** The composed curation pipeline ([[graft.ops.Curation]]): language
    * ID + quality scoring → filter → exact dedup keep-first →
    * per-(lang, source) stats, hash-gated end-to-end. Threshold 0.55
    * sits near the corpus quality median, so the filter removes a
    * material fraction (load-bearing, not decorative). */
  val corpusCuration: Q = (s, dir) =>
    Curation.report(Tables.documents(s, dir), "doc_id", "text",
      minQuality = 0.55)

  val corpusCurationSql: String = {
    val stops = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")
    s"""WITH lt AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(text, '\\s+'), x -> lower(x)) AS t
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id,
       |    len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS h_de,
       |    len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','with'], x))) AS h_en,
       |    len(list_filter(t, x -> list_contains(['el','la','los','las','es','y','que','de'], x))) AS h_es,
       |    len(list_filter(t, x -> list_contains(['le','la','les','est','et','que','dans','une'], x))) AS h_fr,
       |    len(list_filter(t, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS h_zh
       |  FROM lt),
       |lang AS (
       |  SELECT doc_id,
       |    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
       |         WHEN h_zh >= h_fr AND h_zh >= h_es AND h_zh >= h_en AND h_zh >= h_de THEN 'zh'
       |         WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
       |         WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
       |         WHEN h_en >= h_de THEN 'en'
       |         ELSE 'de' END AS lang_pred
       |  FROM hits),
       |scored AS (
       |  SELECT d.doc_id, d.source, d.text, lang.lang_pred,
       |    len(string_split_regex(d.text, '\\s+')) AS n_tokens,
       |    round(
       |      least(length(d.text) / 500.0, 1.0) * 0.4
       |      + greatest(0.0, 1.0 - (CASE WHEN length(d.text) > 0
       |          THEN CAST(length(regexp_replace(d.text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(d.text)
       |          ELSE 0.0 END) * 5.0) * 0.3
       |      + least((CASE WHEN len(string_split_regex(d.text, '\\s+')) > 0
       |          THEN CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
       |                 t -> list_contains([$stops], t))) AS DOUBLE)
       |               / len(string_split_regex(d.text, '\\s+'))
       |          ELSE 0.0 END) * 4.0, 1.0) * 0.3, 4) AS quality
       |  FROM documents d JOIN lang ON lang.doc_id = d.doc_id),
       |kept AS (
       |  SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |  FROM scored WHERE lang_pred <> 'und' AND quality >= 0.55)
       |SELECT lang_pred, source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  round(avg(quality), 2) AS avg_quality,
       |  min(quality) AS min_quality, max(quality) AS max_quality
       |FROM kept WHERE rn = 1
       |GROUP BY lang_pred, source
       |ORDER BY lang_pred, source""".stripMargin
  }

  /** The [[TextAnalysis.qualityScore]] formula as DuckDB SQL over a
    * text column — identical arithmetic shape to the Spark expression
    * (same operand order, round 4), shared by the quota-sampling
    * oracle; corpus_curation carries its own inline copy. */
  private def qualitySqlExpr(t: String): String = {
    val stops = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")
    s"""round(
       |      least(length($t) / 500.0, 1.0) * 0.4
       |      + greatest(0.0, 1.0 - (CASE WHEN length($t) > 0
       |          THEN CAST(length(regexp_replace($t, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length($t)
       |          ELSE 0.0 END) * 5.0) * 0.3
       |      + least((CASE WHEN len(string_split_regex($t, '\\s+')) > 0
       |          THEN CAST(len(list_filter(string_split_regex($t, '\\s+'),
       |                 tk -> list_contains([$stops], tk))) AS DOUBLE)
       |               / len(string_split_regex($t, '\\s+'))
       |          ELSE 0.0 END) * 4.0, 1.0) * 0.3, 4)""".stripMargin
  }

  /** Quota sampling — the other half of mix construction next to
    * rate-based [[qSampleMix]]: keep the top-`k` HIGHEST-QUALITY docs
    * per source (window top-k; at scale the per-key window is the
    * [[graft.ops.Skew.saltedTopK]] shape if a source is hot). Rank
    * ties break on doc_id in both engines, and quality is the round-4
    * score both engines compute identically (text_stats precedent). */
  val qSampleQuota: Q = (s, dir) => {
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality").desc, col("doc_id"))
    Curation.score(Tables.documents(s, dir))
      .select(col("doc_id"), col("source"), col("quality"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("source"), col("doc_id"), col("quality"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }
  val qSampleQuotaSql: String =
    s"""WITH scored AS (
       |  SELECT doc_id, source, ${qualitySqlExpr("text")} AS quality FROM documents),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY quality DESC, doc_id) AS rk
       |  FROM scored)
       |SELECT source, doc_id, quality, rk FROM ranked WHERE rk <= 5
       |ORDER BY source, rk""".stripMargin

  /** PQ ANN, oracle-gated in exhaustive-shortlist mode: with
    * `shortlist >= |corpus|` the exact re-rank sees every row, so the
    * full train→encode→ADC→shortlist→re-rank pipeline must reproduce
    * brute-force top-k exactly (same DuckDB oracle as `ann_topk`,
    * the same pattern that gates IVF's exhaustive-probe mode). The
    * pruned configuration is approximate by design; its recall and the
    * codes-only-scan property are asserted in PqIndexSpec. */
  val annPq: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.pq(queries, corpus, shortlist = Int.MaxValue, seed = "km"))
  }

  /** The COMPOSED IVF-PQ index, oracle-gated the same way: the query
    * builds the on-disk index (cell-partitioned, PQ-encoded — write
    * time at scale, inline here like the other index queries), then
    * probes it with every cell and an uncapped shortlist, which must
    * reproduce brute force exactly. The pruned two-lever configuration
    * is recall- and plan-gated in IvfPqSpec. */
  val annIvfPq: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.ivfpq(s, queries, corpus,
      nProbe = 8, shortlist = Int.MaxValue, seed = "km", staging = "ivfpq-q"))
  }

  /** PRODUCTION-pruned ANN configurations in the timed surface — and,
    * since round 18, HASH-GATED like everything else: the portable
    * quantizer seeding + 6-dp Lloyd means
    * ([[graft.ops.Lloyd.seedHash]]) make the full
    * train→assign→probe chain a pure function DuckDB recomputes
    * ([[QuantizerReplay]]), so the pruned modes' approximation is now
    * oracle-CHECKED rather than merely rows-counted. The exhaustive
    * `ann_ivf`/`ann_pq`/`ann_ivfpq` gates keep their brute-force
    * oracles (they prove the shortlist plumbing); these rows carry the
    * operator's real probe cost in the timing artifact. */
  val annIvfPruned: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.ivf(queries, corpus,
      nProbe = AnnHarness.PrunedProbe, seed = graft.ops.SelectedSeeds.ivf))
  }

  val annIvfPqPruned: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.ivfpqPruned(s, queries, corpus, "ivfpq-pruned-q"))
  }

  /** [[annIvfPruned]]'s replay: coarse k-means + nProbe=2 cell probe +
    * exact cosine within the probed cells. */
  val annIvfPrunedSql: String =
    s"""WITH ${AnnHarness.qcCtes()},
       |${QuantizerReplay.ivfTrainCtes("c", seed = graft.ops.SelectedSeeds.ivf)},
       |${QuantizerReplay.ivfCcCte("c")},
       |${QuantizerReplay.ivfQcellCte("q", nProbe = AnnHarness.PrunedProbe)}
       |SELECT qid, id, score, rank FROM (
       |  SELECT s.qid, s.id, round(s.raw, 4) AS score,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY s.raw DESC, s.id) AS rank
       |  FROM (
       |    SELECT qc.qid, cc.id,
       |      list_dot_product(q.qvec, c.vec) /
       |        (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.vec, c.vec))) AS raw
       |    FROM ivcc cc JOIN ivqcell qc ON qc.cell = cc.cell
       |    JOIN q ON q.qid = qc.qid JOIN c ON c.id = cc.id) s)
       |WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** [[annIvfPqPruned]]'s replay: the coarse chain, the PQ Lloyd
    * chain, the probed-cells candidate join, ADC shortlist=50, exact
    * re-rank. Shared (as CTE builders) with `q_retrieval_eval_ivfpq`. */
  private[queries] def ivfPqPrunedChain: String =
    s"""${QuantizerReplay.ivfTrainCtes("c", seed = graft.ops.SelectedSeeds.ivfpq)},
       |${QuantizerReplay.ivfCcCte("c")},
       |${QuantizerReplay.ivfQcellCte("q", nProbe = AnnHarness.PrunedProbe)},
       |${QuantizerReplay.pqTrainCtes("c", seed = graft.ops.SelectedSeeds.ivfpq)},
       |ivcand AS (
       |  SELECT qc.qid, cc.id FROM ivcc cc JOIN ivqcell qc ON qc.cell = cc.cell),
       |${QuantizerReplay.pqProbeCtes("pqcent2", shortlist = AnnHarness.PrunedShortlist,
            cand = Some("ivcand"))}""".stripMargin

  val annIvfPqPrunedSql: String = AnnHarness.answerSql(ivfPqPrunedChain, "pqrank")

  /** [[annIvfPqResPruned]]'s replay: coarse chain, float-quantized
    * residuals, the L2 Lloyd chain, qc-term ADC probe. */
  private[queries] def resPrunedChain: String =
    s"""${QuantizerReplay.ivfTrainCtes("c", seed = graft.ops.SelectedSeeds.res)},
       |${QuantizerReplay.ivfCcCte("c")},
       |${QuantizerReplay.residCte("c")},
       |${QuantizerReplay.lloydL2Ctes(seed = graft.ops.SelectedSeeds.res)},
       |${QuantizerReplay.resProbeCtes("q", "rqcent2")}""".stripMargin

  val annIvfPqResPrunedSql: String = AnnHarness.answerSql(resPrunedChain, "rqrank")

  /** [[annIvfPqOpqPruned]]'s replay: the residual chain in the
    * fixture-rotated space (coarse cells, residuals and LUT read the
    * rotated relations; the re-rank reads originals). */
  private[queries] def opqPrunedChain: String =
    s"""${QuantizerReplay.rotationCtes()},
       |${QuantizerReplay.ivfTrainCtes("rc", seed = graft.ops.SelectedSeeds.opq)},
       |${QuantizerReplay.ivfCcCte("rc")},
       |${QuantizerReplay.residCte("rc")},
       |${QuantizerReplay.lloydL2Ctes(seed = graft.ops.SelectedSeeds.opq)},
       |${QuantizerReplay.resProbeCtes("rqv", "rqcent2")}""".stripMargin

  val annIvfPqOpqPrunedSql: String = AnnHarness.answerSql(opqPrunedChain, "rqrank")

  /** Deterministic stratified mix sampling ([[graft.ops.Sampling]]):
    * per-language keep rates over the documents table, membership a
    * pure function of (seed, doc_id) via the portable md5-60 hash —
    * DuckDB recomputes the exact uniform per row, so the sample is
    * hash-checked row-for-row, not statistically. */
  val qSampleMix: Q = (s, dir) => {
    Sampling.stratifiedSample(Tables.documents(s, dir), "doc_id", "lang",
        rates = Map("en" -> 0.25, "de" -> 1.0, "es" -> 0.5, "fr" -> 0.75),
        defaultRate = 0.1, seed = "mix1")
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }
  val qSampleMixSql: String = {
    // value of the first 15 hex digits of md5('mix1' || doc_id) — the
    // same engine-portable md5-60 construction the simhash oracle uses
    val hexVal = Md5Sql.hexVal
    s"""WITH hashed AS (
       |  SELECT doc_id, lang,
       |    substring(md5('mix1' || CAST(doc_id AS VARCHAR)), 1, 15) AS h15
       |  FROM documents),
       |u AS (SELECT doc_id, lang, CAST($hexVal AS DOUBLE) / 1152921504606846976.0 AS unif
       |      FROM hashed)
       |SELECT doc_id, lang FROM u
       |WHERE unif < CASE lang WHEN 'en' THEN 0.25 WHEN 'de' THEN 1.0
       |                       WHEN 'es' THEN 0.5 WHEN 'fr' THEN 0.75 ELSE 0.1 END
       |ORDER BY doc_id""".stripMargin
  }

  /** TF-IDF top terms per source ([[TextAnalysis.tfIdfTopTerms]]):
    * the "what characterizes this slice" report next to text_stats.
    * Spark `log` is natural log; DuckDB's `log` is base-10, so the
    * oracle uses `ln` — scores rounded to 4 dp before ranking in BOTH
    * engines so the rank tie-break (score desc, token) is identical. */
  val textTfidf: Q = (s, dir) => {
    TextAnalysis.tfIdfTopTerms(Tables.documents(s, dir), "doc_id", "text",
        groupCol = "source", k = 5)
      .select(col("group").as("source"), col("token"), col("score"), col("rk"))
      .orderBy(col("source"), col("rk"))
  }
  val textTfidfSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, unnest(string_split_regex(text, '\s+')) AS token
      |  FROM documents),
      |df_t AS (
      |  SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM toks)
      |  GROUP BY token),
      |tf_t AS (SELECT source, token, count(*) AS tf FROM toks GROUP BY source, token),
      |scored AS (
      |  SELECT source, token,
      |    round(tf * (ln(((SELECT count(*) FROM documents) + 1.0) / (df + 1.0)) + 1.0), 4) AS score
      |  FROM tf_t JOIN df_t USING (token)),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY score DESC, token) AS rk
      |  FROM scored)
      |SELECT source, token, score, rk FROM ranked WHERE rk <= 5
      |ORDER BY source, rk""".stripMargin

  /** Per-source KL divergence of token distributions vs the corpus
    * ([[TextAnalysis.tokenKlDivergence]]): the drift number a mix
    * report pairs with TF-IDF. Sum rounded to 3 dp — summation order
    * differs between engines, the round absorbs the ULP drift. */
  val qMixDivergence: Q = (s, dir) => {
    TextAnalysis.tokenKlDivergence(Tables.documents(s, dir), "doc_id", "text",
        groupCol = "source")
      .select(col("group").as("source"), col("kl"), col("n_distinct_tokens"))
      .orderBy(col("source"))
  }
  val qMixDivergenceSql: String =
    """WITH toks AS (
      |  SELECT source, unnest(string_split_regex(text, '\s+')) AS token FROM documents),
      |ctf AS (SELECT token, count(*) AS ctf FROM toks GROUP BY token),
      |cn AS (SELECT count(*) AS n FROM toks),
      |gtf AS (SELECT source, token, count(*) AS gtf FROM toks GROUP BY source, token),
      |gn AS (SELECT source, count(*) AS gn FROM toks GROUP BY source)
      |SELECT source,
      |  round(sum((gtf / gn) * ln((gtf / gn) / (ctf / (SELECT CAST(n AS DOUBLE) FROM cn)))), 3) AS kl,
      |  count(*) AS n_distinct_tokens
      |FROM gtf JOIN ctf USING (token) JOIN gn USING (source)
      |GROUP BY source
      |ORDER BY source""".stripMargin

  /** CLUSTER-level near-dup dedup, oracle-gated end-to-end — the last
    * major component family that was spec-only. The simhash variant is
    * fully deterministic in any engine: portable md5-60 signatures
    * (the `dedup_simhash` construction), 15-bit sub-band buckets, star
    * edges to bucket minima, exact-Hamming verification, and connected
    * components — which DuckDB resolves with a recursive CTE
    * (min-label over the undirected star graph) while Spark runs the
    * iterated min-label propagation in
    * [[graft.ops.Dedup.componentsFromStar]]. Two completely different
    * fixpoint algorithms must land on the identical (id, component)
    * labeling. Load-bearing on the harness corpus: at sf0.01, 117 of
    * 500 docs merge into 383 components (largest 76) — real near-dup
    * structure, not singleton plumbing. */
  val dedupCluster: Q = (s, dir) =>
    Dedup.simhashComponents(Tables.documents(s, dir), "doc_id", "text",
        maxDist = 3, tokenHash = Dedup.md5TokenHash60, bits = 60, bands = 4)
      .orderBy(col("id"))

  val dedupClusterSql: String = {
    // portable md5-60 signature construction — same fragments as the
    // dedup_simhash oracle
    val hexVal = Md5Sql.hexVal
    val sums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS c$j").mkString(", ")
    val recomb = (0 until 60).map(j =>
      s"(CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val bandExprs = (0 until 4).map(b => s"(sig >> ${b * 15}) & 32767").mkString(", ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)),
       |hashed AS (
       |  SELECT doc_id, ($hexVal) AS h
       |  FROM (SELECT doc_id, substring(md5(tok), 1, 15) AS h15 FROM toks)),
       |counts AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id AS id, CAST($recomb AS BIGINT) AS sig FROM counts),
       |banded AS (
       |  SELECT id, band, bucket FROM (
       |    SELECT id, unnest([$bandExprs]) AS bucket, unnest([0, 1, 2, 3]) AS band
       |    FROM sigs)),
       |mins AS (SELECT band, bucket, min(id) AS root FROM banded GROUP BY band, bucket),
       |star AS (
       |  SELECT DISTINCT b.id, m.root FROM banded b JOIN mins m USING (band, bucket)
       |  WHERE b.id <> m.root),
       |verified AS (
       |  SELECT s.id, s.root FROM star s
       |  JOIN sigs a ON a.id = s.id JOIN sigs r ON r.id = s.root
       |  WHERE bit_count(xor(a.sig, r.sig)) <= 3),
       |edges AS (
       |  SELECT id AS src, root AS dst FROM verified
       |  UNION SELECT root, id FROM verified),
       |reach(id, label) AS (
       |  SELECT id, id FROM sigs
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id)
       |SELECT id, min(label) AS component FROM reach GROUP BY id
       |ORDER BY id""".stripMargin
  }

  /** The PRODUCTION curation composition ([[Curation.curateNearDupSimhash]]),
    * oracle-gated end-to-end: scan-speed score+filter → exact dedup →
    * cluster-level near-dup collapse (one representative per SimHash
    * component) → per-(lang, source) rollup. `corpus_curation` gates
    * the exact-stage composition; this gates the full chain including
    * the near-dup stage, using the portable md5-60 signatures so DuckDB
    * replays score→filter→dedup→signatures→star→components→rollup in
    * one recursive query. Load-bearing at sf0.01: the near-dup stage
    * removes docs the exact stage kept. */
  val corpusCurationNearDup: Q = (s, dir) =>
    Curation.curateNearDupSimhash(Tables.documents(s, dir), "doc_id", "text",
        minQuality = 0.55)
      .groupBy(col("lang_pred"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        round(avg(col("quality")), 2).as("avg_quality"))
      .orderBy(col("lang_pred"), col("source"))

  val corpusCurationNearDupSql: String = {
    val stops = TextAnalysis.defaultStopwords.map(w => s"'$w'").mkString(", ")
    val hexVal = Md5Sql.hexVal
    val sums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS c$j").mkString(", ")
    val recomb = (0 until 60).map(j =>
      s"(CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val bandExprs = (0 until 4).map(b => s"(sig >> ${b * 15}) & 32767").mkString(", ")
    s"""WITH RECURSIVE lt AS (
       |  SELECT doc_id,
       |    list_transform(string_split_regex(text, '\\s+'), x -> lower(x)) AS t
       |  FROM documents),
       |hits AS (
       |  SELECT doc_id,
       |    len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein'], x))) AS h_de,
       |    len(list_filter(t, x -> list_contains(['the','and','of','to','is','in','that','with'], x))) AS h_en,
       |    len(list_filter(t, x -> list_contains(['el','la','los','las','es','y','que','de'], x))) AS h_es,
       |    len(list_filter(t, x -> list_contains(['le','la','les','est','et','que','dans','une'], x))) AS h_fr,
       |    len(list_filter(t, x -> list_contains(['的','是','了','在','我','有','和','不'], x))) AS h_zh
       |  FROM lt),
       |lang AS (
       |  SELECT doc_id,
       |    CASE WHEN greatest(h_de, h_en, h_es, h_fr, h_zh) = 0 THEN 'und'
       |         WHEN h_zh >= h_fr AND h_zh >= h_es AND h_zh >= h_en AND h_zh >= h_de THEN 'zh'
       |         WHEN h_fr >= h_es AND h_fr >= h_en AND h_fr >= h_de THEN 'fr'
       |         WHEN h_es >= h_en AND h_es >= h_de THEN 'es'
       |         WHEN h_en >= h_de THEN 'en'
       |         ELSE 'de' END AS lang_pred
       |  FROM hits),
       |scored AS (
       |  SELECT d.doc_id, d.source, d.text, lang.lang_pred,
       |    len(string_split_regex(d.text, '\\s+')) AS n_tokens,
       |    round(
       |      least(length(d.text) / 500.0, 1.0) * 0.4
       |      + greatest(0.0, 1.0 - (CASE WHEN length(d.text) > 0
       |          THEN CAST(length(regexp_replace(d.text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(d.text)
       |          ELSE 0.0 END) * 5.0) * 0.3
       |      + least((CASE WHEN len(string_split_regex(d.text, '\\s+')) > 0
       |          THEN CAST(len(list_filter(string_split_regex(d.text, '\\s+'),
       |                 t -> list_contains([$stops], t))) AS DOUBLE)
       |               / len(string_split_regex(d.text, '\\s+'))
       |          ELSE 0.0 END) * 4.0, 1.0) * 0.3, 4) AS quality
       |  FROM documents d JOIN lang ON lang.doc_id = d.doc_id),
       |kept AS (
       |  SELECT * FROM (
       |    SELECT *, row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
       |    FROM scored WHERE lang_pred <> 'und' AND quality >= 0.55)
       |  WHERE rn = 1),
       |toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM kept)),
       |hashed AS (
       |  SELECT doc_id, ($hexVal) AS h
       |  FROM (SELECT doc_id, substring(md5(tok), 1, 15) AS h15 FROM toks)),
       |counts AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id AS id, CAST($recomb AS BIGINT) AS sig FROM counts),
       |banded AS (
       |  SELECT id, band, bucket FROM (
       |    SELECT id, unnest([$bandExprs]) AS bucket, unnest([0, 1, 2, 3]) AS band
       |    FROM sigs)),
       |mins AS (SELECT band, bucket, min(id) AS root FROM banded GROUP BY band, bucket),
       |star AS (
       |  SELECT DISTINCT b.id, m.root FROM banded b JOIN mins m USING (band, bucket)
       |  WHERE b.id <> m.root),
       |verified AS (
       |  SELECT s.id, s.root FROM star s
       |  JOIN sigs a ON a.id = s.id JOIN sigs r ON r.id = s.root
       |  WHERE bit_count(xor(a.sig, r.sig)) <= 3),
       |edges AS (
       |  SELECT id AS src, root AS dst FROM verified
       |  UNION SELECT root, id FROM verified),
       |reach(id, label) AS (
       |  SELECT id, id FROM sigs
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |reps AS (SELECT id FROM comp WHERE id = component)
       |SELECT lang_pred, source, count(*) AS n_docs,
       |  CAST(sum(n_tokens) AS BIGINT) AS sum_tokens,
       |  round(avg(quality), 2) AS avg_quality
       |FROM kept JOIN reps ON kept.doc_id = reps.id
       |GROUP BY lang_pred, source
       |ORDER BY lang_pred, source""".stripMargin
  }

  /** PCA-projected exact scan ([[graft.ops.Pca]]): the committed
    * eigenbasis fixture (`fixtures/pca_basis.parquet`,
    * [[graft.tools.TrainPca]]) projects every embedding to its top-16
    * centered principal coordinates — r codegen'd dot products against
    * literal eigenvectors, shuffle-free — and the per-query top-10 runs
    * by squared L2 in the PROJECTED space: 4× fewer multiply-adds per
    * candidate than the flat 64-dim scan, the FAISS `PCAMatrix`
    * preprocessor stage. The oracle replays projection AND ranking from
    * the exact committed relation (classifier-weights pattern); d² is
    * expanded q·q + v·v − 2q·v on both sides so the association order
    * is identical. This is the reduced-space ground truth (exact within
    * the projection), not an approximation mode — recall floors vs the
    * full space live in PcaSpec on planted low-rank data. */
  val annPca: Q = (s, dir) => {
    val basis = graft.ops.Pca.loadBasis(s,
      s"${graft.Tables.fixturesDir}/pca_basis.parquet")
    val (queries, corpus) = AnnHarness.split(s, dir)
    graft.ops.Pca.topKProjected(queries, corpus, basis, r = 16, k = AnnHarness.K)
      .select(col("qid"), col("id"), round(col("d2"), 4).as("d2"), col("rank"))
      .orderBy(col("qid"), col("rank"))
  }

  def annPcaSql: String =
    s"""WITH b AS (
       |  SELECT component, evec, "offset" AS off
       |  FROM '${graft.Tables.fixturesDir}/pca_basis.parquet'
       |  WHERE component < 16),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |p AS (
       |  SELECT vec_id,
       |    list(list_dot_product(vec, evec) - off ORDER BY component) AS pv
       |  FROM e CROSS JOIN b GROUP BY vec_id),
       |q AS (SELECT vec_id AS qid, pv AS qp FROM p WHERE ${AnnHarness.QueriesWhere}),
       |c AS (SELECT vec_id AS id, pv AS vp FROM p WHERE ${AnnHarness.CorpusWhere}),
       |scored AS (
       |  SELECT qid, id,
       |    list_dot_product(qp, qp) + list_dot_product(vp, vp)
       |      - 2.0 * list_dot_product(qp, vp) AS d2
       |  FROM c CROSS JOIN q),
       |ranked AS (
       |  SELECT qid, id, d2,
       |    row_number() OVER (PARTITION BY qid ORDER BY d2, id) AS rank
       |  FROM scored)
       |SELECT qid, id, round(d2, 4) AS d2, rank
       |FROM ranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** OPQ ([[graft.ops.Opq]]): parametric optimized product quantization
    * — the committed PCA eigenbasis supplies the rotation, eigenvalue
    * allocation balances variance across subspaces, codes assign by
    * true L2 (augmented-coordinate argmax-dot), ADC scan + shortlist +
    * exact re-rank are [[graft.ops.PqIndex]]'s pipeline unchanged. With
    * `shortlist >= |corpus|` the re-rank is exactly brute force, so the
    * oracle is the exact top-k SQL — the `ann_pq` gate; the pruned-
    * shortlist recall IMPROVEMENT over unrotated PQ is OpqSpec's
    * planted-anisotropy property. */
  val annOpq: Q = (s, dir) => {
    val basis = graft.ops.Pca.loadBasis(s,
      s"${graft.Tables.fixturesDir}/pca_basis.parquet")
    val (queries, corpus) = AnnHarness.split(s, dir)
    val model = graft.ops.Opq.train(corpus, basis, m = 8, k = 16, iters = 2)
    AnnHarness.answer(graft.ops.Opq.topK(queries, corpus, basis, model, k = AnnHarness.K,
      shortlist = Int.MaxValue))
  }

  /** NON-PARAMETRIC (iterative) OPQ ([[graft.ops.Opq.trainIterative]],
    * Ge et al. §4.1 / the FAISS `OPQMatrix` default): alternating
    * Procrustes rotation updates and codebook retrains from the
    * parametric init. The exact re-rank still runs on ORIGINAL
    * vectors, so exhaustive shortlist ≡ brute force regardless of the
    * learned rotation — the same oracle as `ann_opq`. The recall
    * comparison against the parametric form (clustered data where
    * iterating wins; planted anisotropy where parametric is already
    * optimal) is OpqSpec's measured table. */
  val annOpqIter: Q = (s, dir) => {
    val basis = graft.ops.Pca.loadBasis(s,
      s"${graft.Tables.fixturesDir}/pca_basis.parquet")
    val (queries, corpus) = AnnHarness.split(s, dir)
    val model = graft.ops.Opq.trainIterative(corpus, basis,
      m = 8, k = 16, pqIters = 2, optIters = 2)
    AnnHarness.answer(graft.ops.Opq.topKIterative(queries, corpus, model, k = AnnHarness.K,
      shortlist = Int.MaxValue))
  }

  /** Per-component variance of the projected coordinates over the whole
    * embeddings table, next to the fixture's eigenvalue — the variance-
    * concentration report that justifies the rank cut (top components
    * carry multiples of the bottom's variance). Variance is written as
    * Σx²/n − (Σx/n)² IDENTICALLY on both sides; the float sums round
    * to 6 dp to absorb summation order. */
  val qPcaVariance: Q = (s, dir) => {
    val basis = graft.ops.Pca.loadBasis(s,
      s"${graft.Tables.fixturesDir}/pca_basis.parquet")
    val eig = basis.take(16).map(c => (c.component, c.eigenvalue))
      .toSeq
    val eigDf = s.createDataFrame(eig).toDF("component", "eigenvalue")
    Tables.embeddings(s, dir)
      .select(posexplode(graft.ops.Pca.projectCol(col("embedding"), basis, 16))
        .as(Seq("component", "x")))
      .groupBy(col("component"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("x") * col("x")) / count(lit(1)) -
          (sum(col("x")) / count(lit(1))) * (sum(col("x")) / count(lit(1))), 6)
          .as("var_proj"))
      .join(broadcast(eigDf), Seq("component"))
      .select(col("component"), col("n"),
        col("var_proj"), round(col("eigenvalue"), 6).as("eigenvalue"))
      .orderBy(col("component"))
  }

  def qPcaVarianceSql: String =
    s"""WITH b AS (
       |  SELECT component, evec, "offset" AS off, eigenvalue
       |  FROM '${graft.Tables.fixturesDir}/pca_basis.parquet'
       |  WHERE component < 16),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |coords AS (
       |  SELECT component, eigenvalue,
       |    list_dot_product(vec, evec) - off AS x
       |  FROM e CROSS JOIN b)
       |SELECT component, count(*) AS n,
       |  round(sum(x * x) / count(*) -
       |    (sum(x) / count(*)) * (sum(x) / count(*)), 6) AS var_proj,
       |  round(any_value(eigenvalue), 6) AS eigenvalue
       |FROM coords GROUP BY component
       |ORDER BY component""".stripMargin

  /** Reconstruction-error outliers ([[graft.ops.Pca.residual2Col]]):
    * the 20 embeddings the rank-16 PCA model explains WORST — tail
    * energy Σ_{j≥16} pⱼ² over the committed basis, the off-manifold
    * score for corrupt/OOD rows. Shuffle shape: a shuffle-free scan
    * computes the residual, the global top-20 is a [[Rank.head]]
    * (partial per-partition top-k, no full sort). The oracle replays the
    * identical tail sum from the same fixture; ranking ties break on
    * vec_id on both sides. */
  val qPcaOutlier: Q = (s, dir) => {
    val basis = graft.ops.Pca.loadBasis(s,
      s"${graft.Tables.fixturesDir}/pca_basis.parquet")
    val scored = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        graft.ops.Pca.residual2Col(col("embedding"), basis, 16).as("resid2"))
    Rank.head(scored, 20, col("resid2").desc, col("vec_id"))
      .select(col("vec_id"), round(col("resid2"), 6).as("resid2"),
        col(Rank.Col).as("rank"))
      .orderBy(col("rank"))
  }

  def qPcaOutlierSql: String =
    s"""WITH b AS (
       |  SELECT component, evec, "offset" AS off
       |  FROM '${graft.Tables.fixturesDir}/pca_basis.parquet'
       |  WHERE component >= 16),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |resid AS (
       |  SELECT vec_id,
       |    sum(pow(list_dot_product(vec, evec) - off, 2)) AS resid2
       |  FROM e CROSS JOIN b GROUP BY vec_id),
       |ranked AS (
       |  SELECT vec_id, resid2,
       |    row_number() OVER (ORDER BY resid2 DESC, vec_id) AS rank
       |  FROM resid)
       |SELECT vec_id, round(resid2, 6) AS resid2, rank
       |FROM ranked WHERE rank <= 20
       |ORDER BY rank""".stripMargin

  /** Numeric-distribution drift ([[graft.ops.Drift]]): per-source PSI
    * + binned-KS of the document-length distribution vs the full
    * corpus — the per-ingest-batch drift monitor. One count
    * aggregation per side; every statistic is a pure function of exact
    * Long bin counts on a BOUNDED bins-per-group relation, replayed
    * bin-for-bin by the oracle. */
  val qDrift: Q = (s, dir) =>
    graft.ops.Drift.driftByGroup(Tables.documents(s, dir), "source",
      length(col("text")), lo = 0.0, hi = 2000.0, nBins = 40)

  def qDriftSql: String =
    """WITH d AS (
      |  SELECT source,
      |    CAST(least(greatest(floor(length(text) / 50.0), 0.0), 39.0) AS INT) AS bin
      |  FROM documents),
      |gc AS (SELECT source, bin, count(*) AS c FROM d GROUP BY source, bin),
      |rc AS (SELECT bin, count(*) AS rc FROM d GROUP BY bin),
      |grid AS (
      |  SELECT g.source, b.bin, coalesce(gc.c, 0) AS c, coalesce(rc.rc, 0) AS rc
      |  FROM (SELECT DISTINCT source FROM d) g
      |  CROSS JOIN (SELECT unnest(range(40)) AS bin) b
      |  LEFT JOIN gc ON gc.source = g.source AND gc.bin = b.bin
      |  LEFT JOIN rc ON rc.bin = b.bin),
      |tot AS (SELECT source, sum(c) AS n, sum(rc) AS nr FROM grid GROUP BY source),
      |x AS (
      |  SELECT grid.source, grid.bin, c, rc, n, nr,
      |    (c + 0.5) / (n + 20.0) AS p,
      |    (rc + 0.5) / (nr + 20.0) AS q,
      |    sum(c) OVER (PARTITION BY grid.source ORDER BY grid.bin) / CAST(n AS DOUBLE) AS cum_p,
      |    sum(rc) OVER (PARTITION BY grid.source ORDER BY grid.bin) / CAST(nr AS DOUBLE) AS cum_q
      |  FROM grid JOIN tot ON tot.source = grid.source)
      |SELECT source AS "group", CAST(max(n) AS BIGINT) AS n,
      |  round(sum((p - q) * ln(p / q)), 6) AS psi,
      |  round(max(abs(cum_p - cum_q)), 6) AS ks
      |FROM x GROUP BY source ORDER BY source""".stripMargin

  /** Prefix-filtered EXACT Jaccard similarity join
    * ([[graft.ops.Dedup.prefixJaccardJoin]]): every document pair with
    * 3-gram Jaccard >= 0.6, found sub-quadratically (global-rarity
    * prefixes -> candidate join -> exact verify) with no lossy
    * frequency cap. The oracle is the BRUTE-FORCE all-pairs join —
    * passing means the prefix filter provably lost nothing on this
    * corpus. The quadratic diagnostic `dedup_jaccard_top` remains the
    * documented contrast. */
  val dedupJaccardJoin: Q = (s, dir) =>
    graft.ops.Dedup.prefixJaccardJoin(Tables.documents(s, dir), "doc_id",
        "text", threshold = 0.6)
      .select(col("id1"), col("id2"), round(col("jaccard"), 4).as("jaccard"))
      .orderBy(col("id1"), col("id2"))

  val dedupJaccardJoinSql: String =
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
      |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id)
      |SELECT id1, id2,
      |  round(CAST(i AS DOUBLE) / (s1.sz + s2.sz - i), 4) AS jaccard
      |FROM inter
      |JOIN sizes s1 ON s1.doc_id = id1
      |JOIN sizes s2 ON s2.doc_id = id2
      |WHERE CAST(i AS DOUBLE) / (s1.sz + s2.sz - i) >= 0.6
      |ORDER BY id1, id2""".stripMargin

  /** Leakage-safe train/val/test split
    * ([[graft.ops.Sampling.leakageSafeSplit]]): the split is a seeded
    * md5-60 uniform of the near-dup COMPONENT, so a cluster can never
    * straddle splits — no eval example has a near-copy in train, by
    * construction. The oracle replays the ENTIRE chain: md5-60 SimHash
    * signatures, banded star edges, Hamming verification, the
    * label-fixpoint components (the `dedup_cluster` recursive replay),
    * the component uniform, the fraction cuts, and the rollup. */
  val qSplitLeakage: Q = (s, dir) =>
    graft.ops.Sampling.leakageSafeSplit(Tables.documents(s, dir), "doc_id",
        "text", trainFrac = 0.8, valFrac = 0.1)
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("component")).as("n_components"))
      .orderBy(col("split"), col("lang"))

  val qSplitLeakageSql: String = {
    val hexVal = Md5Sql.hexVal
    val sums = (0 until 60).map(j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS c$j").mkString(", ")
    val recomb = (0 until 60).map(j =>
      s"(CASE WHEN c$j > 0 THEN ${1L << j} ELSE 0 END)").mkString(" + ")
    val bandExprs = (0 until 4).map(b => s"(sig >> ${b * 15}) & 32767").mkString(", ")
    s"""WITH RECURSIVE toks AS (
       |  SELECT DISTINCT doc_id, tok FROM (
       |    SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS tok FROM documents)),
       |hashed AS (
       |  SELECT doc_id, ($hexVal) AS h
       |  FROM (SELECT doc_id, substring(md5(tok), 1, 15) AS h15 FROM toks)),
       |counts AS (SELECT doc_id, $sums FROM hashed GROUP BY doc_id),
       |sigs AS (SELECT doc_id AS id, CAST($recomb AS BIGINT) AS sig FROM counts),
       |banded AS (
       |  SELECT id, band, bucket FROM (
       |    SELECT id, unnest([$bandExprs]) AS bucket, unnest([0, 1, 2, 3]) AS band
       |    FROM sigs)),
       |mins AS (SELECT band, bucket, min(id) AS root FROM banded GROUP BY band, bucket),
       |star AS (
       |  SELECT DISTINCT b.id, m.root
       |  FROM banded b JOIN mins m ON m.band = b.band AND m.bucket = b.bucket
       |  WHERE b.id <> m.root),
       |verified AS (
       |  SELECT a.id, s.root FROM star s
       |  JOIN sigs a ON a.id = s.id JOIN sigs r ON r.id = s.root
       |  WHERE bit_count(xor(a.sig, r.sig)) <= 3),
       |edges AS (
       |  SELECT id AS src, root AS dst FROM verified
       |  UNION SELECT root, id FROM verified),
       |reach(id, label) AS (
       |  SELECT id, id FROM sigs
       |  UNION
       |  SELECT e.dst, r.label FROM reach r JOIN edges e ON e.src = r.id),
       |comp AS (SELECT id, min(label) AS component FROM reach GROUP BY id),
       |withu AS (
       |  SELECT d.doc_id, d.lang, c.component,
       |    ($hexVal) / 1152921504606846976.0 AS u
       |  FROM documents d JOIN comp c ON c.id = d.doc_id
       |  JOIN (SELECT id, substring(md5('split' || CAST(component AS VARCHAR)), 1, 15) AS h15
       |        FROM comp) hh ON hh.id = d.doc_id),
       |labeled AS (
       |  SELECT lang, component,
       |    CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
       |         ELSE 'test' END AS split
       |  FROM withu)
       |SELECT split, lang, count(*) AS n_docs,
       |  count(DISTINCT component) AS n_components
       |FROM labeled GROUP BY split, lang
       |ORDER BY split, lang""".stripMargin
  }

  /** Residual-encoded IVF-PQ ([[graft.ops.ResidualPq]] — the full
    * FAISS IVFADC): codes quantize the unit-sphere residual from the
    * coarse centroid, the ADC score adds the EXACT per-cell q·c term.
    * All cells probed + uncapped shortlist ≡ brute force — the
    * `ann_ivfpq` gate; the recall advantage over raw encoding at a
    * pruned shortlist is ResidualPqSpec's clustered-data property. */
  val annIvfPqRes: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.residual(s, queries, corpus,
      nProbe = 8, shortlist = Int.MaxValue, seed = "km", staging = "ivfpqres-q"))
  }

  /** The PRODUCTION-pruned residual configuration (nProbe=2,
    * shortlist=50 — the `ann_ivfpq_pruned` convention), timed so the
    * artifact carries the operator's real probe cost rather than the
    * exhaustive oracle tax. Hash-gated since round 18
    * ([[annIvfPqResPrunedSql]]); ResidualPqSpec pins residual ≥ raw
    * recall at this same pruned probe/code budget. */
  val annIvfPqResPruned: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.residualPruned(s, queries, corpus, "ivfpqres-pruned-q"))
  }

  /** The FULL FAISS production recipe "OPQ,IVF,PQ"
    * ([[graft.ops.ResidualPq.topK]] with a rotation): the committed eigenbasis
    * rotation (variance-balanced allocation) applied BEFORE the coarse
    * quantizer, residual codes in rotated space, exact re-rank on
    * ORIGINAL vectors — so exhaustive mode ≡ brute force and the
    * oracle is the shared exact-top-k SQL. The rotated-vs-plain
    * residual recall comparison is ResidualPqSpec's measured table. */
  val annIvfPqOpq: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.opq(s, queries, corpus,
      nProbe = 8, shortlist = Int.MaxValue, seed = "km", staging = "ivfpqopq-q"))
  }

  /** The rotated stack's PRODUCTION configuration (nProbe=2,
    * shortlist=50 — the pruned-mode convention), hash-gated since
    * round 18 ([[annIvfPqOpqPrunedSql]]); the recall advantage over
    * the unrotated residual stack at this budget is ResidualPqSpec's
    * measured table (0.84 vs 0.66 on anisotropic clusters). */
  val annIvfPqOpqPruned: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.opqPruned(s, queries, corpus, "ivfpqopq-pruned-q"))
  }

  /** Multi-probe LSH ([[graft.ops.Similarity.lshTopKMultiProbe]], Lv
    * et al. VLDB'07): each query probes its base bucket plus the
    * flipped-lowest-margin buckets per table — the recall of ~2× the
    * tables at HALF the ingest-time index (SimilaritySpec measures
    * 0.92 at 8 tables × 3 probes vs 0.96 at 16 tables, 0.77 at 8).
    * Hash-gated since round 18: the probe SELECTION is deterministic
    * seed-42 arithmetic, and [[EvalQueries.annLshMultiprobeSql]]
    * replays it relationally (the eval audit's chain, cut at the
    * query's top-10). */
  val annLshMultiprobe: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.lshMultiprobe(queries, corpus))
  }

  val all: Map[String, Q] = Map(
    "q_range_join" -> qRangeJoin,
    "q_overlap_join" -> qOverlapJoin,
    "q_sample_mix" -> qSampleMix,
    "corpus_curation" -> corpusCuration,
    "corpus_curation_neardup" -> corpusCurationNearDup,
    "dedup_cluster" -> dedupCluster,
    "text_tfidf" -> textTfidf,
    "q_mix_divergence" -> qMixDivergence,
    "q_sample_quota" -> qSampleQuota,
    "ann_pq" -> annPq,
    "ann_ivfpq" -> annIvfPq,
    "ann_ivf_pruned" -> annIvfPruned,
    "ann_ivfpq_pruned" -> annIvfPqPruned,
    "ann_pca" -> annPca,
    "ann_opq" -> annOpq,
    "ann_opq_iter" -> annOpqIter,
    "q_pca_variance" -> qPcaVariance,
    "q_pca_outlier" -> qPcaOutlier,
    "q_drift" -> qDrift,
    "dedup_jaccard_join" -> dedupJaccardJoin,
    "q_split_leakage" -> qSplitLeakage,
    "ann_ivfpq_res" -> annIvfPqRes,
    "ann_ivfpq_res_pruned" -> annIvfPqResPruned,
    "ann_ivfpq_opq" -> annIvfPqOpq,
    "ann_ivfpq_opq_pruned" -> annIvfPqOpqPruned,
    "ann_lsh_multiprobe" -> annLshMultiprobe)

  val oracles: Map[String, String] = Map(
    "q_range_join" -> qRangeJoinSql,
    "q_overlap_join" -> qOverlapJoinSql,
    "q_sample_mix" -> qSampleMixSql,
    "corpus_curation" -> corpusCurationSql,
    "corpus_curation_neardup" -> corpusCurationNearDupSql,
    "dedup_cluster" -> dedupClusterSql,
    "text_tfidf" -> textTfidfSql,
    "q_mix_divergence" -> qMixDivergenceSql,
    "q_sample_quota" -> qSampleQuotaSql,
    "ann_pq" -> AnnHarness.exactSql(),
    "ann_ivfpq" -> AnnHarness.exactSql(),
    "ann_ivf_pruned" -> annIvfPrunedSql,
    "ann_ivfpq_pruned" -> annIvfPqPrunedSql,
    "ann_ivfpq_res_pruned" -> annIvfPqResPrunedSql,
    "ann_ivfpq_opq_pruned" -> annIvfPqOpqPrunedSql,
    "ann_pca" -> annPcaSql,
    "ann_opq" -> AnnHarness.exactSql(),
    "ann_opq_iter" -> AnnHarness.exactSql(),
    "q_pca_variance" -> qPcaVarianceSql,
    "q_pca_outlier" -> qPcaOutlierSql,
    "q_drift" -> qDriftSql,
    "dedup_jaccard_join" -> dedupJaccardJoinSql,
    "q_split_leakage" -> qSplitLeakageSql,
    "ann_ivfpq_res" -> AnnHarness.exactSql(),
    "ann_ivfpq_opq" -> AnnHarness.exactSql())
}
