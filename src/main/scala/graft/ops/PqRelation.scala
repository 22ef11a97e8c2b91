package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The LARGE-codebook form of product quantization: the m×k′×dsub
  * codebook as a broadcast RELATION scored by a join, instead of a
  * reference object riding the serialized plan inside
  * [[graft.functions.PqEncodeExpr]]/[[graft.functions.PqLutExpr]] —
  * [[QuantizerRelation]]'s treatment applied to the PQ side.
  *
  * Why: the expression form is strictly better while the codebook is
  * small (zero exchanges, fixed triple loop inside whole-stage
  * codegen), but the m·k′·dsub double array serializes into every TASK
  * BINARY once per stage. PQ codebooks are usually small (m=8, k′=256,
  * dsub=8 ≈ 130 KB), which is why this stayed consistent-but-unneeded
  * for a round — but at production shapes for long embeddings
  * (dim 1024, m=128, k′=4096) the codebook is k′·dim ≈ tens-to-hundreds
  * of MB and the same argument that motivated
  * [[QuantizerRelation.CutoverCells]] applies verbatim: ship it ONCE
  * per executor over the torrent-broadcast bus as a `(sub, cell, cvec)`
  * relation. [[PqIndex]] auto-selects the form at the same cutover,
  * measured in TOTAL centroids m·k′ (each centroid a dsub-vector — the
  * same "rows in the broadcast relation" unit as the coarse
  * quantizer's k).
  *
  * Semantics are pinned to the expression form EXACTLY (PqRelationSpec,
  * production-shaped m·k′ ≥ the cutover, every degenerate class):
  *   - encode: per subspace, scores are ascending-index dot products of
  *     the vector window against each centroid; ties prefer the larger
  *     code (`max(struct(score, cell))` ≡ the expression's `>=` sweep);
  *     a window that runs past the vector's end or contains a null
  *     element codes as k′−1 (its "score" is the cell index); a NULL
  *     vector yields NULL codes.
  *   - lut: the flat `[m·k′]` query table, NULL when the query vector
  *     is shorter than m·dsub or has a null element in that prefix —
  *     byte-for-byte the [[PqIndex.adcScore]] input contract, so the
  *     ADC scan itself is UNCHANGED between forms (only how the table
  *     was built differs).
  *
  * Training is [[Lloyd.fit]] for every codebook size; at or above the
  * cutover its assignment step is [[encodeCells]] here (through
  * [[PqIndex.encodeDispatch]]).
  */
object PqRelation {

  /** A [[PqIndex.Codebooks]] as the (sub, cell, cvec) relation. */
  def codebooksDf(spark: SparkSession, cb: PqIndex.Codebooks): DataFrame = {
    import spark.implicits._
    cb.books.toIndexedSeq.zipWithIndex.flatMap { case (book, mi) =>
      book.toIndexedSeq.zipWithIndex.map { case (c, cell) =>
        (mi, cell, c.toSeq) }
    }.toDF("sub", "cell", "cvec")
  }

  private def meta(cbDf: DataFrame): (Int, Int, Int) = {
    val r = cbDf.agg(max(col("sub")).as("m"), max(col("cell")).as("k"),
      max(size(col("cvec"))).as("d")).collect().head
    (r.getInt(0) + 1, r.getInt(1) + 1, r.getInt(2))
  }

  /** All `df` columns plus the PQ `codes` array, computed through the
    * broadcast relation. Column order matches the expression path's
    * `withColumn` shape (the [[QuantizerRelation.assignCells]]
    * contract). Requires `idCol` unique. */
  def encodeCells(df: DataFrame, idCol: String, vecCol: String,
      cbDf: DataFrame, outCol: String = "codes"): DataFrame = {
    val (m, k, dsub) = meta(cbDf)
    val v = col("_v")
    // m subspace rows per doc, then k centroid rows per subspace via
    // the broadcast join — the m·k′ blowup never crosses an exchange;
    // the per-(doc, sub) argmax partially aggregates in-task and ONE
    // narrow id-keyed exchange carries one (id, codes) row per doc.
    // Shape mirrors [[QuantizerRelation.assignCells]] (both measured,
    // SCALING.md "Round 13"): ONLY (id, vec) enter the blowup — the
    // subspace WINDOW and its degeneracy flag are computed per (doc, sub)
    // BEFORE the k′-fold join (the interpreted `exists` lambda runs
    // m·|docs| times, not m·k′·|docs|), the score is the codegen'd
    // DotProductExpr (two column operands, nothing rides the plan,
    // same ascending-index summation as PqEncodeExpr), and carried
    // columns re-join AFTER the argmax instead of riding `first()`
    // aggregates k′-fold. A window past the vector's end or holding a
    // null element scores each cell by its own index → argmax = k′−1,
    // PqEncodeExpr's degenerate rule without a separate branch.
    val window = slice(v, col("sub") * dsub + 1, lit(dsub))
    val degen = v.isNull || (size(v) < (col("sub") + 1) * dsub) ||
      exists(window, _.isNull)
    val score = when(col("_degen"), col("cell").cast("double"))
      .otherwise(graft.functions.functions.dot_product(col("_w"), col("cvec")))
    // per-subspace argmax via the hash-aggregable ArgMaxCell (a struct
    // max would plan a SortAggregate over the m·k′ blowup — its
    // scaladoc has the measurement); the `when` feeds null scores for
    // other subspaces, which the aggregate's null contract ignores
    val aggs = (0 until m).map(mi =>
      graft.functions.functions.argmax_cell(
        when(col("sub") === mi, col("_score")),
        when(col("sub") === mi, col("cell"))).as(s"_c$mi")) :+
      max(col("_nullv")).as("_nv")
    val codes = array((0 until m).map(mi =>
      col(s"_c$mi").cast("int")): _*)
    val codesRel = df.select(col(idCol).as("_id"), col(vecCol).as("_v"))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("_w", window)
      .withColumn("_degen", degen)
      .withColumn("_nullv", v.isNull)
      .join(broadcast(cbDf), Seq("sub"))
      .withColumn("_score", score)
      .groupBy(col("_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("_id").as(idCol),
        when(col("_nv"), lit(null).cast("array<int>"))
          .otherwise(codes).as(outCol))
    // df's original column order, then the codes (the USING join
    // hoists the key first; the select restores the order)
    df.join(codesRel, Seq(idCol))
      .select(df.columns.map(c => col(c)).toSeq :+ col(outCol): _*)
  }

  /** The per-query flat ADC lookup table `(qid, lut[m·k′])`, built
    * through the broadcast relation — `LUT[sub·k′ + cell]` = query
    * window · centroid, NULL for a query vector shorter than m·dsub or
    * holding a null element in that prefix (the [[PqIndex.lut]]
    * contract, so [[PqIndex.adcScore]] consumes either form
    * unchanged). */
  def lutRel(queries: DataFrame, qidCol: String, qvecCol: String,
      cbDf: DataFrame): DataFrame = {
    val (m, k, dsub) = meta(cbDf)
    val qv = col("_qv")
    val ok = qv.isNotNull && (size(qv) >= m * dsub) &&
      !exists(slice(qv, 1, m * dsub), _.isNull)
    // same pre-join window + codegen'd dot as [[encodeCells]]
    val window = slice(qv, col("sub") * dsub + 1, lit(dsub))
    val dot = when(col("_ok"),
      graft.functions.functions.dot_product(col("_w"), col("cvec")))
      .otherwise(lit(0.0))
    queries.select(col(qidCol).as("qid"), col(qvecCol).as("_qv"))
      .withColumn("_ok", coalesce(ok, lit(false)))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("_w", window)
      .join(broadcast(cbDf), Seq("sub"))
      .select(col("qid"), col("_ok"),
        (col("sub") * k + col("cell")).as("idx"), dot.as("d"))
      .groupBy("qid")
      .agg(min(col("_ok")).as("_allok"),
        array_sort(collect_list(struct(col("idx"), col("d")))).as("_pairs"))
      .select(col("qid"),
        when(col("_allok"),
          transform(col("_pairs"), p => p.getField("d"))).as("lut"))
  }
}
