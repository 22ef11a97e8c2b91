package graft.queries

import graft.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fifth wave of the query surface (round 15): the corpus-ML family —
  * scalar-quantized similarity search (SQ8, the third FAISS index
  * family next to IVF and PQ), DSIR importance resampling (Xie et al.
  * NeurIPS'23 — target-domain data selection), BPE tokenizer training
  * and encoding over the corpus, and a Zipf-law fit of the token
  * distribution. Same oracle conventions as [[QueryCatalog]]: identical
  * column aliases both sides, total ORDER BY, integer outputs CAST to
  * BIGINT in DuckDB; where a query's arithmetic is all-integer (the SQ8
  * code domain) the output carries NO rounding at all.
  */
object CorpusMlQueries {
  import QueryCatalog.Q

  /** SQ8 ANN in the symmetric code domain ([[graft.ops.Sq]]): train
    * per-dimension byte bounds, encode BOTH sides, rank by the exact
    * integer code-domain distance. Unlike the `ann_pq`/`ann_ivfpq`
    * exhaustive gates (which collapse to brute force and so test only
    * the shortlist plumbing), this oracle replays the ESTIMATOR itself
    * — per-dim min/max, the floor/clamp encode, the integer distance —
    * so a one-code divergence anywhere fails the hash. Every value is
    * integer-exact; no rounding (the round-14 ADVICE note on 4-dp ties,
    * applied). */
  val annSq8: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.sq8(queries, corpus).orderBy(col("qid"), col("rank"))
  }

  /** The SQ8 symmetric-estimator replay chain, ending in
    * `sqranked(qid, id, d_code, rank)` — shared by [[annSq8Sql]] and
    * the quantization-audit oracle (`q_retrieval_eval_sq`). CTE names
    * are sq-prefixed so the chain composes next to the DOUBLE-vec
    * `q`/`c` ground-truth chain without collision. */
  private[queries] val sq8RankedCtes: String =
    s"""sqq AS (SELECT vec_id AS qid, embedding AS vec FROM embeddings WHERE ${AnnHarness.QueriesWhere}),
      |sqc AS (SELECT vec_id AS id, embedding AS vec FROM embeddings WHERE ${AnnHarness.CorpusWhere}),
      |dims AS (SELECT unnest(range(1, (SELECT min(len(vec)) FROM sqc) + 1)) AS dim),
      |cx AS (SELECT id, dim, CAST(vec[dim] AS DOUBLE) AS x FROM sqc CROSS JOIN dims),
      |stats AS (SELECT dim, min(x) AS lo, max(x) AS hi FROM cx GROUP BY dim),
      |scodes AS (
      |  SELECT id, dim,
      |    CASE WHEN hi <= lo THEN 0
      |         ELSE CAST(least(greatest(floor((x - lo) * 255.0 / (hi - lo)), 0.0), 255.0) AS BIGINT)
      |    END AS code
      |  FROM cx JOIN stats USING (dim)),
      |qx AS (SELECT qid, dim, CAST(vec[dim] AS DOUBLE) AS x FROM sqq CROSS JOIN dims),
      |qcodes AS (
      |  SELECT qid, dim,
      |    CASE WHEN hi <= lo THEN 0
      |         ELSE CAST(least(greatest(floor((x - lo) * 255.0 / (hi - lo)), 0.0), 255.0) AS BIGINT)
      |    END AS code
      |  FROM qx JOIN stats USING (dim)),
      |d AS (
      |  SELECT qid, id, CAST(sum((qcodes.code - scodes.code) * (qcodes.code - scodes.code)) AS BIGINT) AS d_code
      |  FROM qcodes JOIN scodes USING (dim) GROUP BY qid, id),
      |sqranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d_code, id) AS rank FROM d)""".stripMargin

  val annSq8Sql: String =
    s"""WITH $sq8RankedCtes
       |SELECT qid, id, d_code, rank FROM sqranked WHERE rank <= 10
       |ORDER BY qid, rank""".stripMargin

  /** The COMPOSED IVF-SQ8 index ([[graft.ops.IvfSq]] — FAISS "IVF,SQ8"),
    * oracle-gated the exhaustive way: build the cell-partitioned
    * residual-SQ store, probe every cell with an uncapped shortlist —
    * the exact re-rank sees every row, so the full train→encode→ADC→
    * re-rank pipeline must reproduce brute force exactly (the
    * `ann_ivfpq`/`ann_ivfpq_res` argument). The pruned two-lever
    * configuration is recall- and plan-gated in IvfSqSpec. */
  val annIvfSq: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.ivfsq(s, queries, corpus,
      nProbe = 8, shortlist = Int.MaxValue, seed = "km", staging = "ivfsq-q"))
  }

  /** PRODUCTION-pruned IVF-SQ8 in the timed surface — hash-gated
    * since round 18 ([[annIvfSqPrunedSql]] replays the whole chain;
    * the recall floor stays asserted in IvfSqSpec). */
  val annIvfSqPruned: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.ivfsq(s, queries, corpus,
      nProbe = AnnHarness.PrunedProbe, shortlist = AnnHarness.PrunedShortlist, seed = "km",
      staging = "ivfsq-pruned-q"))
  }

  /** Value of the first 15 hex digits of `h15` as a BIGINT — the
    * engine-portable md5-60 construction every seeded oracle uses. */
  // the portable md5-60 recombination lives on the LEAF object
  // [[Md5Sql]] (cross-wave val-initializer safety); this forwarder
  // keeps the wave's own SQL builders short
  private def hexVal: String = Md5Sql.hexVal

  /** Shared DSIR CTE chain ([[graft.ops.Dsir]]): hashed-bigram bucket
    * counts, the add-one-smoothed target (lang='en') and raw bucket
    * multinomials, per-bucket log importance ratios, per-doc weights. */
  private val dsirCtes: String =
    s"""WITH dt AS (
       |  SELECT doc_id, string_split_regex(text, '\\s+') AS tk
       |  FROM documents WHERE text IS NOT NULL),
       |dbg AS (
       |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
       |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
       |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
       |    FROM dt WHERE len(tk) > 1)),
       |hb AS (
       |  SELECT doc_id, CAST($hexVal AS BIGINT) % 512 AS bucket
       |  FROM (SELECT doc_id, substring(md5(w1 || ' ' || w2), 1, 15) AS h15 FROM dbg)),
       |feats AS (SELECT doc_id, bucket, count(*) AS cnt FROM hb GROUP BY doc_id, bucket),
       |raw AS (SELECT bucket, CAST(sum(cnt) AS BIGINT) AS rc FROM feats GROUP BY bucket),
       |tgt AS (
       |  SELECT bucket, CAST(sum(cnt) AS BIGINT) AS tc
       |  FROM feats JOIN documents USING (doc_id) WHERE lang = 'en' GROUP BY bucket),
       |tot AS (SELECT (SELECT sum(rc) FROM raw) AS rn, (SELECT sum(tc) FROM tgt) AS tn),
       |model AS (
       |  SELECT bucket,
       |    ln((coalesce(tc, 0) + 1) / CAST(tn + 512 AS DOUBLE)) -
       |    ln((rc + 1) / CAST(rn + 512 AS DOUBLE)) AS llr
       |  FROM raw LEFT JOIN tgt USING (bucket) CROSS JOIN tot),
       |w AS (
       |  SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_feats,
       |    round(sum(cnt * llr), 3) AS logw
       |  FROM feats JOIN model USING (bucket) GROUP BY doc_id)""".stripMargin

  /** DSIR importance weights ([[graft.ops.Dsir]], Xie et al. NeurIPS'23):
    * every document's log importance under hashed-bigram target (lang
    * 'en') vs raw multinomials. The oracle replays the WHOLE model —
    * md5 buckets, smoothing, llr, the weighted sum. Documents with < 2
    * tokens have no features and are absent by definition. */
  val qDsirWeights: Q = (s, dir) => {
    // the production shape: ONE corpus explode into the on-disk feature
    // store, then training and scoring scan the tiny store (3 probes of
    // a bucket-bounded parquet, zero re-explodes)
    val docs = Tables.documents(s, dir)
    val path = graft.Staging.dirFor("dsir-feats")
    graft.ops.Dsir.writeFeatures(docs, "doc_id", "text", 512, path)
    val feats = graft.ops.Dsir.readFeatures(s, path)
    val tIds = docs.filter(col("lang") === "en")
      .select(col("doc_id").as("id")).distinct()
    val model = graft.ops.Dsir.trainFeatures(feats, tIds, buckets = 512)
    graft.ops.Dsir.logWeightsFeatures(feats, model)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  val qDsirWeightsSql: String =
    s"""$dsirCtes
       |SELECT doc_id, n_feats, logw FROM w ORDER BY doc_id""".stripMargin

  /** DSIR selection: Gumbel-top-50 without replacement ∝ exp(logw) —
    * the stateless ranking form of importance resampling. Key = logw +
    * Gumbel(md5-uniform(seed, doc_id)), rounded 4 dp on BOTH engines
    * before ranking (the tf-idf discipline). */
  val qSampleDsir: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val path = graft.Staging.dirFor("dsir-feats-sample")
    graft.ops.Dsir.writeFeatures(docs, "doc_id", "text", 512, path)
    val feats = graft.ops.Dsir.readFeatures(s, path)
    val tIds = docs.filter(col("lang") === "en")
      .select(col("doc_id").as("id")).distinct()
    val model = graft.ops.Dsir.trainFeatures(feats, tIds, buckets = 512)
    val w = graft.ops.Dsir.logWeightsFeatures(feats, model)
    graft.ops.Dsir.resample(w, n = 50, seed = "dsir1")
      .withColumnRenamed("id", "doc_id")
      .join(docs.select("doc_id", "lang"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("key").as("skey"), col("rk"))
      .orderBy(col("rk"))
  }

  val qSampleDsirSql: String =
    s"""$dsirCtes,
       |keyed AS (
       |  SELECT doc_id, lang,
       |    round(logw + -ln(-ln((CAST($hexVal AS DOUBLE) + 0.5) / 1152921504606846976.0)), 4) AS skey
       |  FROM (
       |    SELECT w.doc_id AS doc_id, d.lang AS lang, w.logw AS logw,
       |      substring(md5('dsir1' || CAST(w.doc_id AS VARCHAR)), 1, 15) AS h15
       |    FROM w JOIN documents d USING (doc_id))),
       |ranked AS (
       |  SELECT *, row_number() OVER (ORDER BY skey DESC, doc_id) AS rk FROM keyed)
       |SELECT doc_id, lang, skey, rk FROM ranked WHERE rk <= 50
       |ORDER BY rk""".stripMargin

  /** Number of BPE merges the gate queries train. Far below exhaustion
    * on every fixture corpus (the 31-word vocab supports ~130 merges),
    * so the oracle's unrolled stages never see an empty argmax. */
  private[queries] val BpeMerges = 10

  /** The unrolled BPE training CTE chain: `w0` (one corpus pass of word
    * counts), `s0` (flanked char segmentation), then per merge step i —
    * `p{i}` adjacent-pair counts weighted by word count, `b{i}` the
    * 1-row argmax (count DESC, then pair byte order), `s{i}` the
    * segmentation rewritten through the flanked `replace`. The oracle
    * re-DISCOVERS every merge itself; nothing from the Spark run is
    * embedded. */
  private[queries] def bpeCtes(n: Int): String = {
    val stages = (1 to n).map { i =>
      s"""p$i AS MATERIALIZED (
         |  SELECT bg.w1 AS w1, bg.w2 AS w2, CAST(sum(cnt) AS BIGINT) AS c FROM (
         |    SELECT cnt, unnest(list_transform(range(1, len(tk)),
         |      j -> struct_pack(w1 := tk[j], w2 := tk[j+1]))) AS bg
         |    FROM (SELECT cnt, string_split(trim(seg), '  ') AS tk FROM s${i - 1})
         |    WHERE len(tk) > 1)
         |  GROUP BY w1, w2),
         |b$i AS MATERIALIZED (
         |  SELECT $i AS step, w1, w2, w1 || w2 AS merged, c AS pair_count
         |  FROM p$i ORDER BY c DESC, w1, w2 LIMIT 1),
         |s$i AS MATERIALIZED (
         |  SELECT word, cnt,
         |    replace(seg,
         |      ' ' || (SELECT w1 FROM b$i) || '  ' || (SELECT w2 FROM b$i) || ' ',
         |      ' ' || (SELECT merged FROM b$i) || ' ') AS seg
         |  FROM s${i - 1})""".stripMargin
    }.mkString(",\n")
    s"""WITH w0 AS MATERIALIZED (
       |  SELECT word, count(*) AS cnt FROM (
       |    SELECT unnest(string_split_regex(text, '\\s+')) AS word
       |    FROM documents WHERE text IS NOT NULL)
       |  GROUP BY word),
       |s0 AS MATERIALIZED (
       |  SELECT word, cnt,
       |    ' ' || trim(regexp_replace(word, '(.)', '\\1  ', 'g')) || ' ' AS seg
       |  FROM w0),
       |$stages""".stripMargin
  }

  /** BPE tokenizer training ([[graft.ops.Bpe]], Sennrich ACL'16): the
    * learned merge table — 10 frequency-argmax merges over the
    * vocabulary relation, corpus touched once. Every value integer or
    * string; the DuckDB oracle re-runs the whole training loop as 10
    * unrolled CTE stages and must land on the identical merges. */
  val textBpeTrain: Q = (s, dir) => {
    val model = graft.ops.Bpe.train(Tables.documents(s, dir), "text", BpeMerges)
    graft.ops.Bpe.mergesDf(s, model.merges)
      .select(col("step"), col("w1"), col("w2"), col("merged"),
        col("pair_count"))
      .orderBy(col("step"))
  }

  val textBpeTrainSql: String = {
    val union = (1 to BpeMerges).map(i => s"SELECT * FROM b$i").mkString(" UNION ALL ")
    s"""${bpeCtes(BpeMerges)}
       |SELECT step, w1, w2, merged, CAST(pair_count AS BIGINT) AS pair_count
       |FROM ($union) ORDER BY step""".stripMargin
  }

  /** Per-document token budget under the trained tokenizer: encode via
    * the VOCABULARY (each distinct word segments once, the corpus joins
    * the word→subword-count map) — the number that drives shard packing
    * and mix planning. bpe_ratio = chars per subword token. */
  val textBpeEncode: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = graft.ops.Bpe.train(docs, "text", BpeMerges)
    graft.ops.Bpe.encodeStats(docs, "doc_id", "text", model)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Tokenizer FERTILITY by language ([[graft.ops.Bpe.fertilityByGroup]]):
    * tokens-per-word and chars-per-token of the trained merges per
    * `lang` — the audit that shows an en-trained tokenizer fragmenting
    * other scripts (higher fertility = higher effective token cost in
    * a mixed corpus). The oracle re-trains the tokenizer (the 10
    * unrolled merge stages) and replays the lang-level aggregation. */
  val textBpeFertility: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val model = graft.ops.Bpe.train(docs, "text", BpeMerges)
    graft.ops.Bpe.fertilityByGroup(docs, "lang", "text", model)
      .withColumnRenamed("grp", "lang")
      .orderBy(col("lang"))
  }

  val textBpeFertilitySql: String =
    s"""${bpeCtes(BpeMerges)},
       |nt AS (
       |  SELECT word, len(string_split(trim(seg), '  ')) AS ntok,
       |    length(word) AS nch
       |  FROM s$BpeMerges),
       |dw AS (
       |  SELECT lang, unnest(string_split_regex(text, '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT lang, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(ntok) AS DOUBLE) / count(*), 4) AS fertility,
       |  round(CAST(sum(nch) AS DOUBLE) / sum(ntok), 4) AS chars_per_token
       |FROM dw JOIN nt USING (word) GROUP BY lang
       |ORDER BY lang""".stripMargin

  val textBpeEncodeSql: String =
    s"""${bpeCtes(BpeMerges)},
       |nt AS (
       |  SELECT word, len(string_split(trim(seg), '  ')) AS ntok,
       |    length(word) AS nch
       |  FROM s$BpeMerges),
       |dw AS (
       |  SELECT doc_id, unnest(string_split_regex(text, '\\s+')) AS word
       |  FROM documents WHERE text IS NOT NULL)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(ntok) AS BIGINT) AS n_bpe_tokens,
       |  round(CAST(sum(nch) AS DOUBLE) / sum(ntok), 4) AS bpe_ratio
       |FROM dw JOIN nt USING (word) GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  /** Zipf-law fit of the token frequency distribution: OLS of ln(freq)
    * on ln(rank) over the vocabulary relation — the corpus-health
    * diagnostic next to the drift monitor (natural text sits near slope
    * −1; a synthetic or template-heavy corpus shows up as a flat or
    * kinked line, r² far from 1). The token counts are the only
    * data-sized pass; the regression runs on the Heaps-law-bounded
    * vocabulary (the rank window is vocabulary-sized by construction).
    * Closed-form OLS from five sums of identical ln operands; outputs
    * rounded 4 dp (summation-order discipline). */
  val qZipfFit: Q = (s, dir) => {
    import org.apache.spark.sql.expressions.Window
    val freq = Tables.documents(s, dir)
      .filter(col("text").isNotNull)
      .select(explode(graft.ops.TextAnalysis.tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("f"))
    val ranked = freq.withColumn("r",
      row_number().over(Window.orderBy(col("f").desc, col("token"))))
      .select(log(col("r").cast("double")).as("x"),
        log(col("f").cast("double")).as("y"))
    ranked.agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("n").as("n_types"),
        round((col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")), 4).as("slope"),
        round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
          (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) / col("n"), 4)
          .as("intercept"),
        round(((col("n") * col("sxy") - col("sx") * col("sy")) *
            (col("n") * col("sxy") - col("sx") * col("sy"))) /
          ((col("n") * col("sxx") - col("sx") * col("sx")) *
            (col("n") * col("syy") - col("sy") * col("sy"))), 4).as("r2"))
  }

  val qZipfFitSql: String =
    """WITH freq AS (
      |  SELECT token, count(*) AS f FROM (
      |    SELECT unnest(string_split_regex(text, '\s+')) AS token
      |    FROM documents WHERE text IS NOT NULL)
      |  GROUP BY token),
      |ranked AS (
      |  SELECT ln(CAST(row_number() OVER (ORDER BY f DESC, token) AS DOUBLE)) AS x,
      |    ln(CAST(f AS DOUBLE)) AS y
      |  FROM freq),
      |sums AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n, sum(x) AS sx, sum(y) AS sy,
      |    sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
      |  FROM ranked)
      |SELECT n AS n_types,
      |  round((n * sxy - sx * sy) / (n * sxx - sx * sx), 4) AS slope,
      |  round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 4) AS intercept,
      |  round(((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
      |    ((n * sxx - sx * sx) * (n * syy - sy * sy)), 4) AS r2
      |FROM sums""".stripMargin

  /** Classifier calibration table
    * ([[graft.ops.TextAnalysis.classifierCalibration]]): the trained
    * quality model's reliability diagram over the committed labeled
    * fixture — 10 equal-width confidence bins, observed positive rate
    * vs mean stated confidence. The oracle replays scoring (md5 buckets
    * against the committed weights), the logistic link, the binning and
    * both bin means. */
  val textClassifierCalibration: Q = (s, dir) => {
    val docs = s.read.parquet(
      s"${graft.Tables.fixturesDir}/labeled_quality.parquet")
    graft.ops.TextAnalysis.classifierCalibration(docs, "doc_id", "text",
      "label", graft.ops.TextAnalysis.trainedWeightArray(s), bins = 10)
  }

  def textClassifierCalibrationSql: String =
    s"""WITH docs AS (
       |  SELECT * FROM '${graft.Tables.fixturesDir}/labeled_quality.parquet'),
       |-- coalesce mirrors classifierScoreInline: a NULL text scores as
       |-- one empty token on BOTH sides (unnest of NULL would silently
       |-- drop the doc here while Spark keeps it)
       |toks AS (
       |  SELECT doc_id, unnest(string_split_regex(coalesce(text, ''), '\\s+')) AS tok
       |  FROM docs),
       |hashed AS (
       |  SELECT doc_id, ($hexVal) AS h
       |  FROM (SELECT doc_id, substring(md5(tok), 1, 15) AS h15 FROM toks)),
       |scored AS (
       |  SELECT doc_id, CAST(sum(w.iw) AS BIGINT) AS raw
       |  FROM hashed
       |  JOIN '${graft.Tables.fixturesDir}/classifier_weights.parquet' w
       |    ON (h % 1024) = w.bucket
       |  GROUP BY doc_id),
       |conf AS (
       |  SELECT d.doc_id AS doc_id, d.label AS label,
       |    1.0 / (1.0 + exp(-(s.raw /
       |      (len(string_split_regex(coalesce(d.text, ''), '\\s+')) * 1000.0)))) AS conf
       |  FROM docs d JOIN scored s USING (doc_id))
       |SELECT CAST(least(floor(conf * 10.0), 9.0) AS INT) AS bin,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  round(avg(conf), 4) AS avg_conf,
       |  round(avg(CAST(label AS DOUBLE)), 4) AS frac_pos
       |FROM conf GROUP BY 1 ORDER BY bin""".stripMargin

  /** Interpolated Kneser–Ney perplexity
    * ([[graft.ops.LanguageModel.perplexityKnVsSlice]]) — the smoothing
    * KenLM (and therefore CCNet's production quality model) uses, next
    * to the add-one `text_lm_perplexity`: unseen bigrams back off to
    * how many distinct contexts a word FOLLOWS, with the Ney
    * count-of-counts discount. The oracle replays the whole model —
    * counts, continuation counts, the discount estimate, the
    * interpolation — and the per-doc mean rounds 3 dp (the established
    * ln-sum discipline). */
  val textLmKn: Q = (s, dir) =>
    graft.ops.LanguageModel.perplexityKnVsSlice(
        Tables.documents(s, dir), "doc_id", "text", col("lang") === "en")
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"))

  /** The KN model + per-bigram term CTE chain (no leading WITH, ends at
    * `terms`) — shared by `text_lm_kn` and the perplexity-bucketing
    * replay ([[ServeQueries]]). */
  private[queries] val knPplCtesBody: String = knPplCtes()

  /** Same chain with the SCORED side parameterized (`scoredRel` — any
    * earlier CTE carrying (doc_id, text)); the reference slice (rt,
    * voc) always trains on the full `documents` en slice. Used by the
    * v4 pipeline replay ([[ServeQueries]]). */
  private[queries] def knPplCtes(scoredRel: String = "documents"): String =
    s"""rt AS (
      |  SELECT string_split_regex(text, '\\s+') AS tk FROM documents
      |  WHERE lang = 'en' AND text IS NOT NULL),
      |rbg AS (
      |  SELECT bg.w1 AS w1, bg.w2 AS w2 FROM (
      |    SELECT unnest(list_transform(range(1, len(tk)),
      |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
      |    FROM rt WHERE len(tk) > 1)),
      |big AS (SELECT w1, w2, count(*) AS c12 FROM rbg GROUP BY w1, w2),
      |ctx AS (
      |  SELECT w1, CAST(sum(c12) AS BIGINT) AS c1,
      |    CAST(count(*) AS BIGINT) AS n1fwd
      |  FROM big GROUP BY w1),
      |rgt AS (SELECT w2, CAST(count(*) AS BIGINT) AS n1bwd FROM big GROUP BY w2),
      |cc AS (
      |  SELECT CAST(sum(CASE WHEN c12 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
      |    CAST(sum(CASE WHEN c12 = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
      |    CAST(count(*) AS BIGINT) AS n1all
      |  FROM big),
      |voc AS (
      |  SELECT count(DISTINCT t) AS v FROM (
      |    SELECT unnest(string_split_regex(text, '\\s+')) AS t FROM documents
      |    WHERE lang = 'en' AND text IS NOT NULL)),
      |dd AS (
      |  SELECT CASE WHEN n1 + 2 * n2 > 0
      |           THEN CAST(n1 AS DOUBLE) / (n1 + 2 * n2) ELSE 0.5 END AS d,
      |    n1all, (SELECT v FROM voc) AS v
      |  FROM cc),
      |dbg AS (
      |  SELECT doc_id, bg.w1 AS w1, bg.w2 AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(tk)),
      |      i -> struct_pack(w1 := tk[i], w2 := tk[i+1]))) AS bg
      |    FROM (SELECT doc_id, string_split_regex(text, '\\s+') AS tk
      |          FROM $scoredRel WHERE text IS NOT NULL)
      |    WHERE len(tk) > 1)),
      |terms AS (
      |  SELECT doc_id,
      |    -ln(CASE WHEN c1 IS NULL THEN pcont
      |         ELSE greatest(coalesce(c12, 0) - d, 0.0) / c1 +
      |              (d * n1fwd / c1) * pcont END) AS nll_term
      |  FROM (
      |    SELECT doc_id, c12, c1, n1fwd, d,
      |      (coalesce(n1bwd, 0) + 1) / CAST(n1all + v AS DOUBLE) AS pcont
      |    FROM dbg LEFT JOIN big USING (w1, w2) LEFT JOIN ctx USING (w1)
      |    LEFT JOIN rgt USING (w2) CROSS JOIN dd))""".stripMargin

  val textLmKnSql: String =
    s"""WITH $knPplCtesBody
       |SELECT doc_id, count(*) AS n_bigrams, round(avg(nll_term), 3) AS nll
       |FROM terms GROUP BY doc_id ORDER BY doc_id""".stripMargin

  /** NN-Descent k-NN graph construction ([[graft.ops.NnDescent]], Dong
    * et al. WWW'11): the graph-index family. k=5, two local-join
    * sweeps from the deterministic md5-ring init, adjacencies
    * ρ-sampled at 10. The oracle REPLAYS THE WHOLE ALGORITHM — ring,
    * both sweeps' undirect/cap/local-join/top-k — as unrolled
    * materialized CTE stages (the BPE discipline), so a one-edge
    * divergence anywhere in the iteration fails the hash. */
  val annKnnGraph: Q = (s, dir) => {
    val nodes = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    AnnHarness.graph(nodes).orderBy(col("id"), col("rank"))
  }

  val annKnnGraphSql: String =
    s"""WITH ${AnnHarness.graphCtes("")}
       |SELECT id, nbr, score, rank FROM g2
       |ORDER BY id, rank""".stripMargin

  /** Mutual-kNN semantic clustering ([[graft.ops.NnDescent]] +
    * [[graft.ops.Dedup.componentsFromStar]]): keep only RECIPROCATED
    * graph edges (the standard noise filter — a hub attracting one-way
    * edges does not chain clusters together), then connected components
    * and the cluster-size census. The SemDeDup-cell alternative built
    * on the graph index; components run the size-dispatched machinery
    * every dedup family shares. The oracle replays the full graph build
    * AND the component fixpoint (WITH RECURSIVE reachability → min
    * label). */
  val qGraphClusters: Q = (s, dir) => {
    val nodes = Tables.embeddings(s, dir)
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
    val g = AnnHarness.graph(nodes)
    val rev = g.select(col("id").as("b_id"), col("nbr").as("b_nbr"))
    val mut = g.join(rev, col("id") === col("b_nbr") && col("nbr") === col("b_id"))
      .filter(col("id") < col("nbr"))
      .select(col("id"), col("nbr"))
    val star = mut.select(col("nbr").as("id"), col("id").as("root"))
    val comps = graft.ops.Dedup.componentsFromStar(nodes.select("id"), star)
    comps.groupBy("component").agg(count(lit(1)).as("csize"))
      .groupBy("csize").agg(count(lit(1)).as("n_components"))
      .orderBy(col("csize"))
  }

  // The recursive component fixpoint nests in a SUBQUERY with its own
  // WITH RECURSIVE: putting RECURSIVE on the OUTER chain changes how
  // DuckDB evaluates the (non-recursive) graph CTEs and lands on a
  // different-but-deterministic g2 than the plain-WITH `ann_knn_graph`
  // oracle computes from the identical text (observed at sf0.001: one
  // gained/lost mutual edge). Scoping RECURSIVE to the subquery keeps
  // the graph stages byte-identical between the two oracles.
  val qGraphClustersSql: String =
    s"""WITH ${AnnHarness.graphCtes("")},
       |mut AS MATERIALIZED (
       |  SELECT a.id AS id, a.nbr AS nbr
       |  FROM g2 a JOIN g2 b ON a.id = b.nbr AND a.nbr = b.id
       |  WHERE a.id < a.nbr),
       |gedges AS MATERIALIZED (
       |  SELECT id AS src, nbr AS dst FROM mut
       |  UNION SELECT nbr AS src, id AS dst FROM mut)
       |SELECT csize, CAST(count(*) AS BIGINT) AS n_components FROM (
       |  WITH RECURSIVE reach(id, label) AS (
       |    SELECT id, id FROM nodes
       |    UNION
       |    SELECT e.dst, r.label FROM reach r JOIN gedges e ON e.src = r.id)
       |  SELECT component, CAST(count(*) AS BIGINT) AS csize FROM (
       |    SELECT id, min(label) AS component FROM reach GROUP BY id)
       |  GROUP BY component)
       |GROUP BY csize ORDER BY csize""".stripMargin

  /** Clustering-evaluation metrics ([[graft.ops.ClusterEval]]): purity
    * and NMI between a cluster assignment and the embedding labels. The
    * cluster source here is the fully deterministic sign-quadrant of
    * the first two committed principal components (the `ann_pca`
    * fixture) — the k-means trainers seed from xxhash64 order, which no
    * oracle can replay, while the metric machinery is what this query
    * gates: ONE contingency aggregation over the data, every metric a
    * finishing aggregation over the ≤ k·L grid. */
  val qClusterEval: Q = (s, dir) => {
    val basis = graft.ops.Pca.loadBasis(s,
      s"${graft.Tables.fixturesDir}/pca_basis.parquet")
    val emb = Tables.embeddings(s, dir)
    val clustered = emb.select(col("label"),
      graft.ops.Pca.projectCol(col("embedding"), basis, 2).as("p"))
      .select(col("label"),
        (when(element_at(col("p"), 1) >= 0, lit(2)).otherwise(lit(0)) +
          when(element_at(col("p"), 2) >= 0, lit(1)).otherwise(lit(0)))
          .as("cluster"))
    graft.ops.ClusterEval.metrics(clustered, "cluster", "label")
  }

  val qClusterEvalSql: String =
    s"""WITH b AS (
       |  SELECT component, evec, "offset" AS off
       |  FROM '${graft.Tables.fixturesDir}/pca_basis.parquet'
       |  WHERE component < 2),
       |e AS (
       |  SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
       |  FROM embeddings),
       |p AS (
       |  SELECT vec_id, any_value(label) AS label,
       |    list(list_dot_product(vec, evec) - off ORDER BY component) AS pv
       |  FROM e CROSS JOIN b GROUP BY vec_id),
       |cl AS (
       |  SELECT label,
       |    (CASE WHEN pv[1] >= 0 THEN 2 ELSE 0 END +
       |     CASE WHEN pv[2] >= 0 THEN 1 ELSE 0 END) AS cluster
       |  FROM p),
       |cont AS (SELECT cluster, label, count(*) AS n_cl FROM cl GROUP BY cluster, label),
       |rowm AS (
       |  SELECT cluster, CAST(sum(n_cl) AS BIGINT) AS n_c,
       |    CAST(max(n_cl) AS BIGINT) AS n_c_max
       |  FROM cont GROUP BY cluster),
       |colm AS (SELECT label, CAST(sum(n_cl) AS BIGINT) AS n_l FROM cont GROUP BY label),
       |tot AS (SELECT CAST(sum(n_cl) AS BIGINT) AS n FROM cont),
       |mi AS (
       |  SELECT sum((CAST(n_cl AS DOUBLE) / n) *
       |    ln((CAST(n_cl AS DOUBLE) * n) / (CAST(n_c AS DOUBLE) * n_l))) AS mi
       |  FROM cont JOIN rowm USING (cluster) JOIN colm USING (label) CROSS JOIN tot),
       |hc AS (
       |  SELECT -sum((CAST(n_c AS DOUBLE) / n) * ln(CAST(n_c AS DOUBLE) / n)) AS hc
       |  FROM rowm CROSS JOIN tot),
       |hl AS (
       |  SELECT -sum((CAST(n_l AS DOUBLE) / n) * ln(CAST(n_l AS DOUBLE) / n)) AS hl
       |  FROM colm CROSS JOIN tot),
       |pur AS (SELECT CAST(sum(n_c_max) AS DOUBLE) / max(n) AS purity FROM rowm CROSS JOIN tot),
       |cnts AS (
       |  SELECT CAST(count(DISTINCT cluster) AS BIGINT) AS n_clusters,
       |    CAST(count(DISTINCT label) AS BIGINT) AS n_labels
       |  FROM cont)
       |SELECT n, n_clusters, n_labels, round(purity, 4) AS purity,
       |  round(CASE WHEN hc > 0 AND hl > 0 THEN mi / sqrt(hc * hl) ELSE 0.0 END, 4) AS nmi
       |FROM tot CROSS JOIN cnts CROSS JOIN pur CROSS JOIN mi
       |CROSS JOIN hc CROSS JOIN hl""".stripMargin

  val all: Map[String, Q] = Map(
    "ann_sq8" -> annSq8,
    "ann_ivfsq" -> annIvfSq,
    "ann_ivfsq_pruned" -> annIvfSqPruned,
    "ann_knn_graph" -> annKnnGraph,
    "q_cluster_eval" -> qClusterEval,
    "q_graph_clusters" -> qGraphClusters,
    "text_lm_kn" -> textLmKn,
    "text_classifier_calibration" -> textClassifierCalibration,
    "q_dsir_weights" -> qDsirWeights,
    "q_sample_dsir" -> qSampleDsir,
    "text_bpe_train" -> textBpeTrain,
    "text_bpe_encode" -> textBpeEncode,
    "text_bpe_fertility" -> textBpeFertility,
    "q_zipf_fit" -> qZipfFit)

  /** [[annIvfSqPruned]]'s replay (round 18 — the pruned modes went
    * hash-green): coarse chain, float-quantized residuals, SQ8 bounds/
    * codes/midpoint-decode, `qc + q·decoded` ADC, shortlist, exact
    * re-rank. */
  val annIvfSqPrunedSql: String = AnnHarness.answerSql(
    s"""${QuantizerReplay.ivfTrainCtes("c")},
       |${QuantizerReplay.ivfCcCte("c")},
       |${QuantizerReplay.residCte("c")},
       |${QuantizerReplay.sqProbeCtes()}""".stripMargin, "sqrank")

  val oracles: Map[String, String] = Map(
    "ann_sq8" -> annSq8Sql,
    // exhaustive mode ≡ brute force — the shared exact-top-k oracle
    "ann_ivfsq" -> AnnHarness.exactSql(),
    "ann_ivfsq_pruned" -> annIvfSqPrunedSql,
    "ann_knn_graph" -> annKnnGraphSql,
    "q_cluster_eval" -> qClusterEvalSql,
    "q_graph_clusters" -> qGraphClustersSql,
    "text_lm_kn" -> textLmKnSql,
    "text_classifier_calibration" -> textClassifierCalibrationSql,
    "q_dsir_weights" -> qDsirWeightsSql,
    "q_sample_dsir" -> qSampleDsirSql,
    "text_bpe_train" -> textBpeTrainSql,
    "text_bpe_encode" -> textBpeEncodeSql,
    "text_bpe_fertility" -> textBpeFertilitySql,
    "q_zipf_fit" -> qZipfFitSql)
}
