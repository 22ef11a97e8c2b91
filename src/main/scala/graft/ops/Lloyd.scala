package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The one k-means trainer behind every quantizer: coarse IVF
  * ([[IvfIndex.train]]), PQ ([[PqIndex.train]]), L2-assigned OPQ
  * ([[Opq.train]], [[Opq.trainIterative]]) and residual PQ
  * ([[ResidualPq.trainCodebooks]]). A coarse quantizer is the m = 1
  * product quantizer (Jégou et al., TPAMI 2011), so one loop serves
  * them all: the families differ only in how a row is assigned its
  * codes, which each caller passes in.
  *
  * The decision, stated once:
  *   - seeds are the top k ids under [[seedHash]] (id tiebreak), their
  *     vectors sliced into m subspaces (unit-normalized first when
  *     `unit`); `dim` is the seeds' length;
  *   - each iteration assigns every row (`assign`), then takes ONE
  *     distributed mean per (sub, cell, pos) — of x, or of x/‖v‖ when
  *     `unit` — rounded to [[MeanScale]] dp; positions at or beyond
  *     `dim` are ignored;
  *   - the driver writes the means into a copy of the codebooks, so an
  *     empty cell or position keeps its old coordinate.
  *
  * Only the m·k·dsub means reach the driver per iteration — no more
  * than a relational loop would: its centroid relation reaches every
  * executor through a driver-side `BroadcastExchange` collect anyway.
  * Large codebooks still ASSIGN through the broadcast-relation forms
  * ([[QuantizerRelation]], [[PqRelation]]), which the callers' `assign`
  * selects by size.
  */
object Lloyd {

  /** ENGINE-PORTABLE seed ordering for every quantizer train: rows
    * rank by the md5-60 hash of `seed ‖ id` with an id tiebreak — the
    * [[Dedup.md5TokenHash60]] portability stance applied to k-means
    * seeding. The previous `xxhash64(id)` order was equally
    * deterministic but reproducible only inside Spark, which is the
    * one reason the trained-codebook families' PRUNED production
    * configurations could never be replayed by the DuckDB oracle;
    * with this order (plus the 6-dp Lloyd-mean round below) the whole
    * train→encode→probe chain is a pure function any engine can
    * recompute (`q_retrieval_eval_pq` and friends replay it end to
    * end). Seeding quality is unchanged: both are uniform hashes of
    * the id, and seeding cost is a top-k over ids either way.
    *
    * `seed` is the hash PREFIX — the k-means "random seed" made data.
    * Because the whole chain is replayable, a seed is AUDITABLE: the
    * production families sweep a seed set through their own recall
    * audit and commit the argmax ([[graft.ops.SelectedSeeds]], the
    * round-18 "audited number is seed luck" fix) instead of
    * defaulting; "km" remains the diagnostic default every
    * exhaustive-mode gate uses. */
  private[graft] def seedHash(id: Column, seed: String = "km"): Column =
    Dedup.md5TokenHash60(concat(lit(seed), id.cast("string")))

  /** Cross-engine float discipline for the ONE order-ambiguous step in
    * Lloyd training: the per-(cell, position) mean aggregates rows in
    * partition order, so its low bits differ between engines (and
    * runs); rounding each updated coordinate to 6 dp absorbs that ULP
    * drift — the 4-dp-scores-before-ranking convention applied to
    * model parameters. Dot products, norms and seed vectors stay
    * exact: element-order sums are bit-identical everywhere. */
  private[graft] val MeanScale: Int = 6

  /** `iters` Lloyd iterations over `vecs(id, v)` into `m` codebooks of
    * at most `k` centroids each (fewer when the input has fewer rows).
    *
    * @param unit   seed and mean on v/‖v‖ (zero rows unscaled) instead
    *               of v — PQ's direction quantization
    * @param assign the rows plus their `codes` (array of m cells) under
    *               the given codebooks; null codes or cells contribute
    *               nothing
    */
  def fit(vecs: DataFrame, m: Int, k: Int, iters: Int, seed: String = "km",
      unit: Boolean = false)(
      assign: (DataFrame, PqIndex.Codebooks) => DataFrame): PqIndex.Codebooks = {
    val seeds = vecs
      .orderBy(seedHash(col("id"), seed), col("id")).limit(k)
      .select(col("id"), col("v").cast("array<double>")).collect()
    require(seeds.nonEmpty, "empty corpus")
    val rows = seeds.map { r =>
      require(!r.isNullAt(1), s"Lloyd seed id=${r.get(0)} has a null vector")
      r.getSeq[Double](1).toArray
    }
    val dim = rows.head.length
    seeds.zip(rows).foreach { case (r, v) =>
      require(v.length == dim,
        s"Lloyd seed id=${r.get(0)} has ${v.length} elements, the first seed $dim")
    }
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val init = if (!unit) rows else rows.map { v =>
      val nm = math.sqrt(v.map(x => x * x).sum)
      if (nm > 0) v.map(_ / nm) else v
    }
    // x / 1.0 is x exactly, so the plain mean is the unit mean's shape
    val nrm = if (unit) sqrt(graft.functions.functions.dot_product(col("v"), col("v")))
      else lit(1.0)
    (1 to iters).foldLeft(PqIndex.Codebooks(m, dsub,
        Array.tabulate(m)(mi => init.map(_.slice(mi * dsub, (mi + 1) * dsub))))) { (cb, _) =>
      val means = assign(vecs, cb)
        .select(col("codes"), nrm.as("nrm"), posexplode(col("v")).as(Seq("pos", "x")))
        .filter(col("pos") < dim)
        .withColumn("sub", (col("pos") / dsub).cast("int"))
        .withColumn("cell", element_at(col("codes"), col("sub") + 1))
        .filter(col("cell").isNotNull)
        .groupBy(col("sub"), col("cell"), col("pos"))
        .agg(round(avg(col("x").cast("double") /
            when(col("nrm") > 0, col("nrm")).otherwise(lit(1.0))), MeanScale).as("mean"))
        .collect()
      val next = cb.books.map(_.map(_.clone()))
      means.foreach { r =>
        val (sub, cell, pos) = (r.getInt(0), r.getInt(1), r.getInt(2))
        next(sub)(cell)(pos - sub * dsub) = r.getDouble(3)
      }
      PqIndex.Codebooks(m, dsub, next)
    }
  }
}
