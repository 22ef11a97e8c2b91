package graft.queries

/** DuckDB replay of the QUANTIZER TRAININGS — the CTE builders that
  * turn every trained-codebook ANN family's PRUNED production
  * configuration into an oracle-checkable relation (round-18 directive
  * #1, extended to the pruned modes themselves): deterministic k-means
  * (portable md5-60 `"km" ‖ id` seed order + 6-dp Lloyd means — the
  * one Spark trainer, [[graft.ops.Lloyd]]), cell assignment and
  * probe selection with the expressions' larger-index tie rule, PQ
  * codes/LUT/ADC with the fixed-order term sums the codegen'd
  * expressions use, L2 (augmented-coordinate) assignment for the
  * residual families, the FLOAT-quantization points of
  * `cell_residual`/`rotate_project` replayed with explicit casts, and
  * the SQ8 encode/decode midpoint estimator.
  *
  * Float discipline, stated once: every dot product and norm is an
  * element-ORDER sum (`list_dot_product` both engines — bit-identical
  * doubles), the one order-ambiguous aggregation (the Lloyd mean)
  * rounds to 6 dp on both sides, and multi-term score sums are written
  * as explicit fixed-order expressions (the ADC's `m` lookup terms,
  * the residual probe's `qc + (…)`) so the IEEE addition order matches
  * the Scala expressions exactly. Self-consistency was validated the
  * exhaustive way before any oracle shipped: each chain at
  * all-cells/uncapped configuration reproduces the brute-force top-k
  * inside DuckDB itself, mirroring the Spark families' own
  * exhaustive-mode gates.
  */
object QuantizerReplay {
  import Md5Sql.hexVal

  /** Coarse-IVF Lloyd replay ([[graft.ops.IvfIndex.train]], the m = 1
    * [[graft.ops.Lloyd.fit]]): seeds by portable hash order, `iters`
    * rounds of unit-row argmax assignment (tie → larger cell) and
    * 6-dp raw means (empty cells keep their previous coordinates).
    * Ends in `{pfx}cent{iters}(cell, cvec)` and
    * the unit rows `{pfx}u{iters}(cell, ucvec)`. */
  def ivfTrainCtes(corpus: String, pfx: String = "iv", k: Int = 8,
      iters: Int = 2, dim: Int = 64, seed: String = "km"): String = {
    def unitRows(it: Int) =
      s"""${pfx}u$it AS MATERIALIZED (
         |  SELECT cell,
         |    CASE WHEN sqrt(list_dot_product(cvec, cvec)) = 0 THEN cvec
         |         ELSE list_transform(cvec, x -> x / sqrt(list_dot_product(cvec, cvec))) END AS ucvec
         |  FROM ${pfx}cent$it)""".stripMargin
    val head =
      s"""${pfx}seed AS (
         |  SELECT row_number() OVER (ORDER BY ($hexVal), id) - 1 AS cell, vec AS cvec
         |  FROM (SELECT id, vec, substring(md5('$seed' || CAST(id AS VARCHAR)), 1, 15) AS h15
         |        FROM $corpus)
         |  ORDER BY ($hexVal), id LIMIT $k),
         |${pfx}pos AS (SELECT unnest(range(0, $dim)) AS pos),
         |${pfx}cent0 AS MATERIALIZED (SELECT cell, cvec FROM ${pfx}seed)""".stripMargin
    val loops = (1 to iters).map { it =>
      s"""${unitRows(it - 1)},
         |${pfx}a$it AS MATERIALIZED (
         |  SELECT id, cell FROM (
         |    SELECT b.id, u.cell,
         |      row_number() OVER (PARTITION BY b.id
         |        ORDER BY list_dot_product(b.vec, u.ucvec) DESC, u.cell DESC) AS rn
         |    FROM $corpus b CROSS JOIN ${pfx}u${it - 1} u) WHERE rn = 1),
         |${pfx}m$it AS MATERIALIZED (
         |  SELECT a.cell, px.pos, round(avg(px.x), 6) AS mn
         |  FROM (SELECT id, pos, vec[pos+1] AS x FROM $corpus CROSS JOIN ${pfx}pos) px
         |  JOIN ${pfx}a$it a ON a.id = px.id
         |  GROUP BY a.cell, px.pos),
         |${pfx}cent$it AS MATERIALIZED (
         |  SELECT ct.cell,
         |    list(coalesce(m.mn, ct.cvec[pp.pos+1]) ORDER BY pp.pos) AS cvec
         |  FROM ${pfx}cent${it - 1} ct CROSS JOIN ${pfx}pos pp
         |  LEFT JOIN ${pfx}m$it m ON m.cell = ct.cell AND m.pos = pp.pos
         |  GROUP BY ct.cell)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$loops,\n${unitRows(iters)}"
  }

  /** Final corpus cell assignment against the trained unit rows:
    * `{pfx}cc(id, cell)`. */
  def ivfCcCte(corpus: String, pfx: String = "iv", iters: Int = 2): String =
    s"""${pfx}cc AS MATERIALIZED (
       |  SELECT id, cell FROM (
       |    SELECT b.id, u.cell,
       |      row_number() OVER (PARTITION BY b.id
       |        ORDER BY list_dot_product(b.vec, u.ucvec) DESC, u.cell DESC) AS rn
       |    FROM $corpus b CROSS JOIN ${pfx}u$iters u) WHERE rn = 1)""".stripMargin

  /** Probed cells per query ([[graft.ops.IvfIndex.probeCells]]'s
    * lexicographic-(score, index) top-`nProbe`): `{pfx}qcell(qid,
    * cell)`. */
  def ivfQcellCte(qrel: String, pfx: String = "iv", iters: Int = 2,
      nProbe: Int = AnnHarness.PrunedProbe): String =
    s"""${pfx}qcell AS MATERIALIZED (
       |  SELECT qid, cell FROM (
       |    SELECT qq.qid, u.cell,
       |      row_number() OVER (PARTITION BY qq.qid
       |        ORDER BY list_dot_product(qq.qvec, u.ucvec) DESC, u.cell DESC) AS rn
       |    FROM $qrel qq CROSS JOIN ${pfx}u$iters u) WHERE rn <= $nProbe)""".stripMargin

  /** FLOAT-quantized unit-sphere residuals
    * ([[graft.functions.CellResidualExpr]] with `normalize = true`):
    * `resid(id, cell, rv)` with every coordinate passed through
    * float32 exactly where the expression casts. Requires `{pfx}cc`
    * and `{pfx}u{iters}` upstream. */
  def residCte(corpus: String, pfx: String = "iv", iters: Int = 2): String =
    s"""resid AS MATERIALIZED (
       |  SELECT b.id, cc.cell,
       |    list_transform(range(1, len(b.vec) + 1), i ->
       |      CAST(CAST(b.vec[i] / (CASE WHEN sqrt(list_dot_product(b.vec, b.vec)) > 0
       |                                 THEN sqrt(list_dot_product(b.vec, b.vec)) ELSE 1 END)
       |                - u.ucvec[i] AS FLOAT) AS DOUBLE)) AS rv
       |  FROM $corpus b JOIN ${pfx}cc cc ON cc.id = b.id
       |  JOIN ${pfx}u$iters u ON u.cell = cc.cell)""".stripMargin

  /** PQ Lloyd replay ([[graft.ops.PqIndex.train]] through
    * [[graft.ops.Lloyd.fit]] — scale-invariant
    * argmax-dot assignment, means of `x/‖row‖`): unit-normalized
    * portable-hash seeds sliced per subspace, `iters` rounds. Ends in
    * `{pfx}cent{iters}(sub, cell, cvec)` plus `{pfx}base(id, vec,
    * nrm)`. */
  def pqTrainCtes(corpus: String, pfx: String = "pq", m: Int = 8,
      k: Int = 16, dsub: Int = 8, iters: Int = 2,
      seed: String = "km"): String = {
    val head =
      s"""${pfx}base AS MATERIALIZED (
         |  SELECT id, vec, sqrt(list_dot_product(vec, vec)) AS nrm FROM $corpus),
         |${pfx}seed AS (
         |  SELECT row_number() OVER (ORDER BY ($hexVal), id) - 1 AS cell,
         |    CASE WHEN nrm > 0 THEN list_transform(vec, x -> x / nrm) ELSE vec END AS nv
         |  FROM (SELECT id, vec, nrm, substring(md5('$seed' || CAST(id AS VARCHAR)), 1, 15) AS h15
         |        FROM ${pfx}base)
         |  ORDER BY ($hexVal), id LIMIT $k),
         |${pfx}subs AS (SELECT unnest(range(0, $m)) AS sub),
         |${pfx}pos AS (SELECT unnest(range(0, $dsub)) AS j),
         |${pfx}cent0 AS MATERIALIZED (
         |  SELECT sub, cell, nv[sub*$dsub+1 : sub*$dsub+$dsub] AS cvec
         |  FROM ${pfx}seed CROSS JOIN ${pfx}subs)""".stripMargin
    val loops = (1 to iters).map { it =>
      s"""${pfx}a$it AS MATERIALIZED (
         |  SELECT id, sub, cell FROM (
         |    SELECT b.id, ct.sub, ct.cell,
         |      row_number() OVER (PARTITION BY b.id, ct.sub
         |        ORDER BY list_dot_product(b.vec[ct.sub*$dsub+1 : ct.sub*$dsub+$dsub], ct.cvec) DESC,
         |                 ct.cell DESC) AS rn
         |    FROM ${pfx}base b CROSS JOIN ${pfx}cent${it - 1} ct) WHERE rn = 1),
         |${pfx}m$it AS MATERIALIZED (
         |  SELECT a.sub, a.cell, px.j,
         |    round(avg(px.x / CASE WHEN nrm > 0 THEN nrm ELSE 1 END), 6) AS mn
         |  FROM (SELECT id, nrm, sub, j, vec[j + sub*$dsub + 1] AS x
         |        FROM ${pfx}base CROSS JOIN ${pfx}subs CROSS JOIN ${pfx}pos) px
         |  JOIN ${pfx}a$it a ON a.id = px.id AND a.sub = px.sub
         |  GROUP BY a.sub, a.cell, px.j),
         |${pfx}cent$it AS MATERIALIZED (
         |  SELECT ct.sub, ct.cell,
         |    list(coalesce(m.mn, ct.cvec[pp.j+1]) ORDER BY pp.j) AS cvec
         |  FROM ${pfx}cent${it - 1} ct CROSS JOIN ${pfx}pos pp
         |  LEFT JOIN ${pfx}m$it m ON m.sub = ct.sub AND m.cell = ct.cell AND m.j = pp.j
         |  GROUP BY ct.sub, ct.cell)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$loops"
  }

  /** PQ probe replay ([[graft.ops.PqIndex.topK]] /
    * [[graft.ops.IvfPq.topK]]'s ADC stage): codes by argmax-dot, flat
    * LUT, ADC as the fixed-order `m`-term lookup sum, shortlist by
    * (adc desc, id), exact cosine re-rank. `cand` restricts the ADC
    * scan to a (qid, id) candidate relation — the probed-cells join.
    * Ends in `{pfx}rank(qid, id, score, rank)`. Requires
    * `{pfx}base`, `q`, `c` upstream. */
  def pqProbeCtes(cent: String, pfx: String = "pq", m: Int = 8,
      k: Int = 16, dsub: Int = 8, shortlist: Int = 100,
      cand: Option[String] = None): String = {
    val adcTerms = (0 until m)
      .map(mi => s"lut[${mi * k} + codes[${mi + 1}] + 1]").mkString(" + ")
    val adcFrom = cand match {
      case None => s"${pfx}codes CROSS JOIN ${pfx}lut"
      case Some(cd) =>
        s"$cd cd JOIN ${pfx}codes ON ${pfx}codes.id = cd.id " +
          s"JOIN ${pfx}lut ON ${pfx}lut.qid = cd.qid"
    }
    val adcCols = cand match {
      case None => "qid, id"
      case Some(_) => "cd.qid AS qid, cd.id AS id"
    }
    s"""${pfx}codes AS MATERIALIZED (
       |  SELECT id, list(cell ORDER BY sub) AS codes FROM (
       |    SELECT id, sub, cell FROM (
       |      SELECT b.id, ct.sub, ct.cell,
       |        row_number() OVER (PARTITION BY b.id, ct.sub
       |          ORDER BY list_dot_product(b.vec[ct.sub*$dsub+1 : ct.sub*$dsub+$dsub], ct.cvec) DESC,
       |                   ct.cell DESC) AS rn
       |      FROM ${pfx}base b CROSS JOIN $cent ct) WHERE rn = 1)
       |  GROUP BY id),
       |${pfx}lut AS MATERIALIZED (
       |  SELECT qid, list(d ORDER BY sub, cell) AS lut FROM (
       |    SELECT qq.qid, ct.sub, ct.cell,
       |      list_dot_product(qq.qvec[ct.sub*$dsub+1 : ct.sub*$dsub+$dsub], ct.cvec) AS d
       |    FROM q qq CROSS JOIN $cent ct) GROUP BY qid),
       |${pfx}adc AS (
       |  SELECT $adcCols, $adcTerms AS adc
       |  FROM $adcFrom),
       |${pfx}short AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id) AS srn
       |    FROM ${pfx}adc) WHERE srn <= $shortlist),
       |${rerankCte(s"${pfx}short", s"${pfx}rank")}""".stripMargin
  }

  /** The exact-cosine re-rank tail every probe shares: shortlist ids
    * pull raw vectors, rank by (raw cosine desc, id). */
  private def rerankCte(shortRel: String, outRel: String): String =
    s"""$outRel AS (
       |  SELECT s.qid, s.id,
       |    list_dot_product(q.qvec, c.vec) /
       |      (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.vec, c.vec))) AS score,
       |    row_number() OVER (PARTITION BY s.qid ORDER BY
       |      list_dot_product(q.qvec, c.vec) /
       |      (sqrt(list_dot_product(q.qvec, q.qvec)) * sqrt(list_dot_product(c.vec, c.vec))) DESC,
       |      s.id) AS rank
       |  FROM $shortRel s JOIN q ON q.qid = s.qid JOIN c ON c.id = s.id)""".stripMargin

  /** [[graft.ops.Lloyd.fit]] with [[graft.ops.PqIndex.assignL2]]
    * ([[graft.ops.ResidualPq.trainCodebooks]]) replay over a
    * float-quantized residual relation: raw portable-hash seeds, TRUE-L2 assignment
    * via the augmented form `argmax(dot(sub, c) + 1·(−0.5·‖c‖²))`
    * (tie → larger cell — exactly [[graft.functions.PqEncodeExpr]]
    * over the augmented layout), 6-dp plain means. Ends in
    * `{pfx}cent{iters}(sub, cell, cvec)`. */
  def lloydL2Ctes(vecs: String = "resid", vcol: String = "rv",
      pfx: String = "rq", m: Int = 8, k: Int = 16, dsub: Int = 8,
      iters: Int = 2, seed: String = "km"): String = {
    val head =
      s"""${pfx}seed AS (
         |  SELECT row_number() OVER (ORDER BY ($hexVal), id) - 1 AS cell, $vcol AS nv
         |  FROM (SELECT id, $vcol, substring(md5('$seed' || CAST(id AS VARCHAR)), 1, 15) AS h15
         |        FROM $vecs)
         |  ORDER BY ($hexVal), id LIMIT $k),
         |${pfx}subs AS (SELECT unnest(range(0, $m)) AS sub),
         |${pfx}pos AS (SELECT unnest(range(0, $dsub)) AS j),
         |${pfx}cent0 AS MATERIALIZED (
         |  SELECT sub, cell, nv[sub*$dsub+1 : sub*$dsub+$dsub] AS cvec
         |  FROM ${pfx}seed CROSS JOIN ${pfx}subs)""".stripMargin
    val loops = (1 to iters).map { it =>
      s"""${pfx}a$it AS MATERIALIZED (
         |  SELECT id, sub, cell FROM (
         |    SELECT b.id, ct.sub, ct.cell,
         |      row_number() OVER (PARTITION BY b.id, ct.sub
         |        ORDER BY list_dot_product(b.$vcol[ct.sub*$dsub+1 : ct.sub*$dsub+$dsub], ct.cvec)
         |                 + CAST(1 AS FLOAT) * (-0.5 * list_dot_product(ct.cvec, ct.cvec)) DESC,
         |                 ct.cell DESC) AS rn
         |    FROM $vecs b CROSS JOIN ${pfx}cent${it - 1} ct) WHERE rn = 1),
         |${pfx}m$it AS MATERIALIZED (
         |  SELECT a.sub, a.cell, px.j, round(avg(px.x), 6) AS mn
         |  FROM (SELECT id, sub, j, $vcol[j + sub*$dsub + 1] AS x
         |        FROM $vecs CROSS JOIN ${pfx}subs CROSS JOIN ${pfx}pos) px
         |  JOIN ${pfx}a$it a ON a.id = px.id AND a.sub = px.sub
         |  GROUP BY a.sub, a.cell, px.j),
         |${pfx}cent$it AS MATERIALIZED (
         |  SELECT ct.sub, ct.cell,
         |    list(coalesce(m.mn, ct.cvec[pp.j+1]) ORDER BY pp.j) AS cvec
         |  FROM ${pfx}cent${it - 1} ct CROSS JOIN ${pfx}pos pp
         |  LEFT JOIN ${pfx}m$it m ON m.sub = ct.sub AND m.cell = ct.cell AND m.j = pp.j
         |  GROUP BY ct.sub, ct.cell)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$loops"
  }

  /** Residual-IVF-PQ probe replay ([[graft.ops.ResidualPq.topK]], with
    * or without its rotation): codes by augmented-L2 over the residuals, probed
    * cells carrying the FLOAT-quantized exact `qc = q·centroid` term,
    * raw-query LUT against the PLAIN residual codebooks, `adc = qc +
    * (m lookup terms)` in that exact order, shortlist, exact re-rank
    * on ORIGINAL vectors. `qrel` is the (possibly rotated) query
    * relation the cells/LUT read; the re-rank always reads `q`/`c`.
    * Ends in `{pfx}rank(qid, id, score, rank)`. */
  def resProbeCtes(qrel: String, cent: String, pfx: String = "rq",
      ivPfx: String = "iv", m: Int = 8, k: Int = 16, dsub: Int = 8,
      iters: Int = 2, nProbe: Int = AnnHarness.PrunedProbe,
      shortlist: Int = AnnHarness.PrunedShortlist): String = {
    val adcTerms = (0 until m)
      .map(mi => s"lut[${mi * k} + codes[${mi + 1}] + 1]").mkString(" + ")
    s"""${pfx}codes AS MATERIALIZED (
       |  SELECT id, list(cell ORDER BY sub) AS codes FROM (
       |    SELECT id, sub, cell FROM (
       |      SELECT b.id, ct.sub, ct.cell,
       |        row_number() OVER (PARTITION BY b.id, ct.sub
       |          ORDER BY list_dot_product(b.rv[ct.sub*$dsub+1 : ct.sub*$dsub+$dsub], ct.cvec)
       |                   + CAST(1 AS FLOAT) * (-0.5 * list_dot_product(ct.cvec, ct.cvec)) DESC,
       |                   ct.cell DESC) AS rn
       |      FROM resid b CROSS JOIN $cent ct) WHERE rn = 1)
       |  GROUP BY id),
       |${pfx}qcell AS MATERIALIZED (
       |  SELECT qid, cell, qc FROM (
       |    SELECT qq.qid, u.cell,
       |      CAST(CAST(list_dot_product(qq.qvec, u.ucvec) AS FLOAT) AS DOUBLE) AS qc,
       |      row_number() OVER (PARTITION BY qq.qid
       |        ORDER BY list_dot_product(qq.qvec, u.ucvec) DESC, u.cell DESC) AS rn
       |    FROM $qrel qq CROSS JOIN ${ivPfx}u$iters u) WHERE rn <= $nProbe),
       |${pfx}lut AS MATERIALIZED (
       |  SELECT qid, list(d ORDER BY sub, cell) AS lut FROM (
       |    SELECT qq.qid, ct.sub, ct.cell,
       |      list_dot_product(qq.qvec[ct.sub*$dsub+1 : ct.sub*$dsub+$dsub], ct.cvec) AS d
       |    FROM $qrel qq CROSS JOIN $cent ct) GROUP BY qid),
       |${pfx}adc AS (
       |  SELECT qc.qid, cc.id, qc.qc + ($adcTerms) AS adc
       |  FROM ${ivPfx}cc cc JOIN ${pfx}qcell qc ON qc.cell = cc.cell
       |  JOIN ${pfx}codes ON ${pfx}codes.id = cc.id
       |  JOIN ${pfx}lut lu ON lu.qid = qc.qid),
       |${pfx}short AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id) AS srn
       |    FROM ${pfx}adc) WHERE srn <= $shortlist),
       |${rerankCte(s"${pfx}short", s"${pfx}rank")}""".stripMargin
  }

  /** IVF-SQ8 probe replay ([[graft.ops.IvfSq.topK]]): per-dim bounds
    * trained on the residuals, SQ8 floor/clamp codes, the midpoint
    * decode as one ordered vector so `adc = qc +
    * list_dot_product(qvec, decoded)` matches
    * [[graft.functions.SqDotExpr]]'s in-order accumulation. Ends in
    * `{pfx}rank(qid, id, score, rank)`. */
  def sqProbeCtes(qrel: String = "q", pfx: String = "sq",
      ivPfx: String = "iv", iters: Int = 2, nProbe: Int = AnnHarness.PrunedProbe,
      shortlist: Int = AnnHarness.PrunedShortlist, dim: Int = 64): String =
    s"""${pfx}bounds AS MATERIALIZED (
       |  SELECT list(lo ORDER BY dim) AS lo, list(hi ORDER BY dim) AS hi FROM (
       |    SELECT dim, min(x) AS lo, max(x) AS hi FROM (
       |      SELECT unnest(range(1, $dim + 1)) AS dim,
       |             unnest(list_transform(range(1, $dim + 1), i -> rv[i])) AS x
       |      FROM resid) GROUP BY dim)),
       |${pfx}codes AS MATERIALIZED (
       |  SELECT id, list_transform(range(1, $dim + 1), i ->
       |    CASE WHEN hi[i] > lo[i]
       |      THEN CAST(least(greatest(floor((rv[i] - lo[i]) * 255.0 / (hi[i] - lo[i])), 0.0), 255.0) AS BIGINT)
       |      ELSE 0 END) AS codes
       |  FROM resid CROSS JOIN ${pfx}bounds),
       |${pfx}dec AS MATERIALIZED (
       |  SELECT id, list_transform(range(1, $dim + 1), i ->
       |    CASE WHEN hi[i] > lo[i]
       |      THEN lo[i] + (codes[i] + 0.5) * (hi[i] - lo[i]) / 255.0
       |      ELSE lo[i] END) AS dvec
       |  FROM ${pfx}codes CROSS JOIN ${pfx}bounds),
       |${pfx}qcell AS MATERIALIZED (
       |  SELECT qid, cell, qc FROM (
       |    SELECT qq.qid, u.cell,
       |      CAST(CAST(list_dot_product(qq.qvec, u.ucvec) AS FLOAT) AS DOUBLE) AS qc,
       |      row_number() OVER (PARTITION BY qq.qid
       |        ORDER BY list_dot_product(qq.qvec, u.ucvec) DESC, u.cell DESC) AS rn
       |    FROM $qrel qq CROSS JOIN ${ivPfx}u$iters u) WHERE rn <= $nProbe),
       |${pfx}adc AS (
       |  SELECT qc.qid, cc.id,
       |    qc.qc + list_dot_product(qq.qvec, d.dvec) AS adc
       |  FROM ${ivPfx}cc cc JOIN ${pfx}qcell qc ON qc.cell = cc.cell
       |  JOIN ${pfx}dec d ON d.id = cc.id
       |  JOIN $qrel qq ON qq.qid = qc.qid),
       |${pfx}short AS (
       |  SELECT qid, id FROM (
       |    SELECT qid, id, row_number() OVER (PARTITION BY qid ORDER BY adc DESC, id) AS srn
       |    FROM ${pfx}adc) WHERE srn <= $shortlist),
       |${rerankCte(s"${pfx}short", s"${pfx}rank")}""".stripMargin

  /** The committed eigenbasis' variance-balancing allocation order
    * ([[graft.ops.Opq.allocate]] over `fixtures/pca_basis.parquet` —
    * embedded as a literal because the oracle SQL is built without a
    * SparkSession; QuantizerReplaySpec PINS this sequence to a fresh
    * `allocate` run over the fixture, so drift is a test failure). */
  val OpqOrder: Seq[Int] = Seq(
    0, 15, 22, 25, 38, 41, 53, 58, 1, 14, 23, 24, 39, 40, 54, 57,
    2, 13, 21, 26, 35, 46, 49, 63, 3, 12, 17, 29, 34, 45, 51, 60,
    4, 11, 20, 27, 36, 43, 50, 62, 5, 10, 19, 30, 32, 47, 48, 61,
    6, 9, 18, 28, 37, 42, 52, 59, 7, 8, 16, 31, 33, 44, 55, 56)

  /** Rotated corpus/queries ([[graft.ops.Opq.rotation]] +
    * [[graft.functions.RotateProjectExpr]]'s float output): the
    * fixture's eigenvectors in [[OpqOrder]], each rotated coordinate
    * passed through float32. Ends in `rc(id, vec)` and
    * `rqv(qid, qvec)`. */
  def rotationCtes(dim: Int = 64): String = {
    val orderLit = OpqOrder.mkString("[", ", ", "]")
    s"""rotord AS (SELECT unnest($orderLit) AS component,
       |  unnest(range(0, $dim)) AS r),
       |rotmat AS MATERIALIZED (
       |  SELECT ro.r, list_transform(b.evec, x -> CAST(x AS DOUBLE)) AS row
       |  FROM rotord ro
       |  JOIN '${graft.Tables.fixturesDir}/pca_basis.parquet' b
       |    ON b.component = ro.component),
       |rc AS MATERIALIZED (
       |  SELECT id, list(CAST(CAST(d AS FLOAT) AS DOUBLE) ORDER BY r) AS vec FROM (
       |    SELECT c.id, rm.r, list_dot_product(c.vec, rm.row) AS d
       |    FROM c CROSS JOIN rotmat rm) GROUP BY id),
       |rqv AS MATERIALIZED (
       |  SELECT qid, list(CAST(CAST(d AS FLOAT) AS DOUBLE) ORDER BY r) AS qvec FROM (
       |    SELECT qq.qid, rm.r, list_dot_product(qq.qvec, rm.row) AS d
       |    FROM q qq CROSS JOIN rotmat rm) GROUP BY qid)""".stripMargin
  }
}
