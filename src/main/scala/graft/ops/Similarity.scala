package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  * Two paths, same API:
  *   - [[bruteForceTopK]] — exact cosine top-k: broadcast the (small)
  *     query set against the corpus, one scan, no corpus shuffle. The
  *     correctness baseline.
  *   - [[lshTopK]] — random-hyperplane LSH: corpus is bucketed by
  *     signature prefix once (write-time at scale), probes touch only
  *     colliding buckets, exact re-rank inside. The 100 TB path: cost
  *     per query tracks bucket size, not corpus size.
  *
  * All math is custom codegen'd Catalyst expressions
  * ([[graft.functions.DotProductExpr]] / [[graft.functions.CosineSimExpr]]):
  * a cosine is one fused Java loop inside whole-stage codegen. (The
  * equivalent `zip_with`/`aggregate` higher-order functions are
  * interpreted per element — ~0.5 ms per 64-dim cosine, 10× slower —
  * and this is the inner loop of every similarity operator.)
  */
object Similarity {

  /** Σ aᵢ·bᵢ in double precision (sequential loop, deterministic). */
  def dot(a: Column, b: Column): Column =
    graft.functions.functions.dot_product(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Single-pass fused cosine (dot and both norms in one traversal). */
  def cosine(a: Column, b: Column): Column =
    graft.functions.functions.cosine_sim(a, b)

  /** Two-phase per-query ranking of a scored candidate relation:
    * delegates to [[Skew.saltedTopK]] so the `qid`-partitioned window —
    * which would otherwise funnel EVERY scored row of one query into a
    * single reducer's sort (the 100 TB straggler: an exhaustive ADC or
    * brute-force scan has |corpus| rows per query) — only ever sees the
    * ≤ `salt × k` phase-1 survivors. Ordering is total (`order` desc,
    * unique `id` tiebreak), so the result is row-identical to the
    * single-window form (oracle-gated by `q_skew_topk`; the two-window
    * plan shape is gated in AnnReductionSpec). */
  private[ops] def rankPerQuery(scored: DataFrame, order: Column, k: Int): DataFrame =
    Skew.saltedTopK(scored, Seq("qid"), Seq(order.desc, col("id")), k,
      saltBy = col("id"))

  /** Exact top-k neighbors for each query vector.
    *
    * @param queries (qid, qvec) — small; broadcast.
    * @param corpus  (id, vec) — arbitrarily large; scanned once.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val scored = corpus.crossJoin(broadcast(queries))
      .withColumn("score", cosine(col("qvec"), col("vec")))
    rankPerQuery(scored, col("score"), k)
      .select(col("qid"), col("id"), col("score"), col("rank"))
  }

  /** Deterministic random hyperplanes: `numBits` unit-free normal vectors
    * of dimension `dim`, seeded — identical across executors/runs. */
  private[graft] def hyperplanes(dim: Int, numBits: Int, seed: Long): Array[Array[Double]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numBits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** Sign-random-projection signature: bit i = [v · rᵢ > 0]. Returned as
    * an array of `tables` bucket keys (signature split into `tables`
    * prefixes so a neighbor only needs to collide in one). */
  def lshBuckets(vec: Column, dim: Int, bitsPerTable: Int, tables: Int,
      seed: Long = 42L): Column = {
    val planes = hyperplanes(dim, bitsPerTable * tables, seed)
    val bits: IndexedSeq[Column] = planes.toIndexedSeq.map { p =>
      val pl = array(p.map(lit).toIndexedSeq: _*)
      when(dot(vec, pl) > 0, lit(1)).otherwise(lit(0))
    }
    array((0 until tables).map { t =>
      val slice = bits.slice(t * bitsPerTable, (t + 1) * bitsPerTable)
      concat_ws("", (lit(t.toString) +: lit("_") +: slice): _*)
    }: _*)
  }

  /** LSH-bucketed approximate top-k with exact re-rank.
    *
    * At scale, `corpus` bucketing is computed once at ingest and stored
    * partitioned by bucket (partition pruning makes each probe touch
    * only its buckets); here it is computed inline.
    */
  def lshTopK(queries: DataFrame, corpus: DataFrame, k: Int, dim: Int,
      bitsPerTable: Int = 12, tables: Int = 6, seed: Long = 42L): DataFrame = {
    val cb = corpus.withColumn("bucket",
      explode(lshBuckets(col("vec"), dim, bitsPerTable, tables, seed)))
    val qb = queries.withColumn("bucket",
      explode(lshBuckets(col("qvec"), dim, bitsPerTable, tables, seed)))
    // De-duplicate candidates on BARE ids, then re-attach vectors: a
    // (query, doc) pair colliding in several of `tables` tables would
    // otherwise drag both embedding arrays through the distinct shuffle
    // once per collision (same lesson as Dedup.minhashLshPairs — strip
    // payload before the multiplicity-collapsing shuffle, not after).
    // Queries are broadcast back; the corpus re-join shuffles each
    // corpus vector at most once instead of once per collision.
    val cands = cb.select(col("bucket"), col("id"))
      .join(broadcast(qb.select(col("bucket"), col("qid"))), Seq("bucket"))
      .select(col("qid"), col("id"))
      .distinct()
      .join(broadcast(queries), Seq("qid"))
      .join(corpus, Seq("id"))
    rankPerQuery(cands.withColumn("score", cosine(col("qvec"), col("vec"))),
        col("score"), k)
      .select(col("qid"), col("id"), col("score"), col("rank"))
  }

  /** Multi-probe query buckets (Lv et al., "Multi-Probe LSH: Efficient
    * Indexing for High-Dimensional Similarity Search", VLDB 2007,
    * single-bit perturbation): per table, the base bucket PLUS the
    * `nProbes − 1` buckets reached by flipping the lowest-|margin|
    * sign bits — the planes the vector sits closest to, i.e. the
    * flips a true neighbor most plausibly differs by. Same recall at
    * a FRACTION of the tables: each extra probe costs one more bucket
    * read at query time, while an extra table costs a full extra copy
    * of the corpus postings at ingest (SimilaritySpec measures the
    * trade). Key format is [[lshBuckets]]'s exactly, so probed keys
    * hit the same write-time partitions.
    *
    * Query-side only (queries are small by contract): the margin sort
    * uses `sort_array`/`transform` higher-order functions, which are
    * interpreted — never put this on the corpus side of the join
    * (corpus rows keep the plain [[lshBuckets]] assignment). */
  def lshProbeBuckets(vec: Column, dim: Int, bitsPerTable: Int,
      tables: Int, nProbes: Int, seed: Long = 42L): Column = {
    require(nProbes >= 1 && nProbes <= bitsPerTable + 1,
      s"need 1 ≤ nProbes ≤ bitsPerTable+1, got $nProbes")
    val planes = hyperplanes(dim, bitsPerTable * tables, seed)
    val dots: IndexedSeq[Column] = planes.toIndexedSeq.map { p =>
      dot(vec, array(p.map(lit).toIndexedSeq: _*))
    }
    val bits: IndexedSeq[Column] =
      dots.map(d => when(d > 0, lit(1)).otherwise(lit(0)))
    val perTable: Seq[Column] = (0 until tables).map { t =>
      val tb = bits.slice(t * bitsPerTable, (t + 1) * bitsPerTable)
      val td = dots.slice(t * bitsPerTable, (t + 1) * bitsPerTable)
      val base = concat_ws("", (lit(t.toString) +: lit("_") +: tb): _*)
      if (nProbes == 1) array(base)
      else {
        val flips = (0 until bitsPerTable).map { j =>
          val flipped = tb.zipWithIndex.map { case (b, i) =>
            if (i == j) lit(1) - b else b
          }
          struct(abs(td(j)).as("m"),
            concat_ws("", (lit(t.toString) +: lit("_") +: flipped): _*).as("k"))
        }
        val chosen = slice(sort_array(array(flips: _*)), 1, nProbes - 1)
        concat(array(base), transform(chosen, s => s.getField("k")))
      }
    }
    flatten(array(perTable: _*))
  }

  /** [[lshTopK]] with multi-probe queries: corpus bucketing unchanged
    * (one posting per table per row), each query probes `nProbes`
    * buckets per table. `nProbes = 1` is row-identical to [[lshTopK]]. */
  def lshTopKMultiProbe(queries: DataFrame, corpus: DataFrame, k: Int,
      dim: Int, bitsPerTable: Int = 12, tables: Int = 6, nProbes: Int = 2,
      seed: Long = 42L): DataFrame = {
    val cb = corpus.withColumn("bucket",
      explode(lshBuckets(col("vec"), dim, bitsPerTable, tables, seed)))
    val qb = queries.withColumn("bucket",
      explode(lshProbeBuckets(col("qvec"), dim, bitsPerTable, tables,
        nProbes, seed)))
    val cands = cb.select(col("bucket"), col("id"))
      .join(broadcast(qb.select(col("bucket"), col("qid"))), Seq("bucket"))
      .select(col("qid"), col("id"))
      .distinct()
      .join(broadcast(queries), Seq("qid"))
      .join(corpus, Seq("id"))
    rankPerQuery(cands.withColumn("score", cosine(col("qvec"), col("vec"))),
        col("score"), k)
      .select(col("qid"), col("id"), col("score"), col("rank"))
  }

  /** Ingest-time half of the LSH ANN design: the corpus is exploded into
    * its `tables` bucket postings (the inverted-list duplication every
    * multi-table LSH index pays) and stored parquet-partitioned by
    * bucket, so probes become partition pruning. Assignment is computed
    * once, at write time. */
  def writeLshBucketed(corpus: DataFrame, dim: Int, bitsPerTable: Int,
      tables: Int, path: String, seed: Long = 42L): Unit =
    corpus.withColumn("bucket",
        explode(lshBuckets(col("vec"), dim, bitsPerTable, tables, seed)))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** Probe a [[writeLshBucketed]] corpus: the query set's buckets (at
    * most queries × tables × nProbes strings — queries are small by
    * contract) are collected into a literal partition filter, so the
    * scan reads ONLY the probed buckets' directories (SimilaritySpec
    * gates `PartitionFilters` and result-identity with the inline
    * [[lshTopK]]). Probe cost scales with bucket occupancy, never the
    * corpus.
    *
    * `nProbes > 1` is the INDEXED multi-probe form: the on-disk
    * postings are unchanged (still one posting per table per row —
    * the half-the-ingest-index advantage multi-probe buys), only the
    * query expands to its `nProbes` lowest-margin buckets per table
    * through [[lshProbeBuckets]]; each extra probe is one more pruned
    * partition directory read. `nProbes = 1` is row-identical to the
    * single-probe form. */
  def lshTopKIndexed(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, k: Int, dim: Int, bitsPerTable: Int = 12,
      tables: Int = 6, seed: Long = 42L, nProbes: Int = 1): DataFrame = {
    val qb = queries.withColumn("bucket",
      explode(
        if (nProbes == 1) lshBuckets(col("qvec"), dim, bitsPerTable, tables, seed)
        else lshProbeBuckets(col("qvec"), dim, bitsPerTable, tables, nProbes, seed)))
    val cb = CellIndex.probe(spark.read.parquet(path), qb, "bucket")
    // The bucketed layout stores one posting (with its vector) per
    // table, so a candidate id can appear up to `tables` times;
    // dropDuplicates collapses postings AFTER the probe already bounded
    // the row count — the shuffle moves probed postings only.
    val cands = cb.join(broadcast(qb.select(col("bucket"), col("qid"))), Seq("bucket"))
      .select(col("qid"), col("id"), col("vec"))
      .dropDuplicates("qid", "id")
      .join(broadcast(queries), Seq("qid"))
    rankPerQuery(cands.withColumn("score", cosine(col("qvec"), col("vec"))),
        col("score"), k)
      .select(col("qid"), col("id"), col("score"), col("rank"))
  }

  /** Embedding near-duplicate pairs: cosine ≥ threshold, blocked to keep
    * the pair space bounded (same `blockCol` ⇒ candidate). At 100 TB the
    * block key is an LSH bucket; with labeled corpora it can be any
    * cheap partitioner. */
  def cosineDupPairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val a = df.select(col(blockCol).as("blk"), col(idCol).as("id1"), col(vecCol).as("v1"))
    val b = df.select(col(blockCol).as("blk"), col(idCol).as("id2"), col(vecCol).as("v2"))
    a.join(b, Seq("blk")).filter(col("id1") < col("id2"))
      .withColumn("cos", cosine(col("v1"), col("v2")))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"), col("cos"))
  }

  /** Embedding near-dup CLUSTERS — the third member of the cluster-dedup
    * trio ([[graft.ops.Dedup.minhashLshComponents]] for text shingles,
    * [[graft.ops.Dedup.simhashComponents]] for token sets, this for
    * embeddings). LSH buckets (sign-random-projection, table = band)
    * give candidate blocks; every bucket member links to the bucket min
    * (star edges, linear in occupancy); edges are verified by exact
    * cosine ≥ `threshold` before components resolve — same
    * over-merge-prevention rationale as the MinHash variant. Returns
    * (id, component); output linear in corpus size, no pairwise stage.
    */
  def embeddingComponents(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, threshold: Double, bitsPerTable: Int = 8, tables: Int = 8,
      seed: Long = 42L, maxIters: Int = 10): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("vec"))
    val banded = base.select(col("id"),
        posexplode(lshBuckets(col("vec"), dim, bitsPerTable, tables, seed)))
      .toDF("id", "band", "bucket")
    val star = graft.ops.Dedup.starEdges(banded)
    val verified = star
      .join(base.toDF("id", "vA"), Seq("id"))
      .join(base.toDF("root", "vB"), Seq("root"))
      .filter(cosine(col("vA"), col("vB")) >= threshold)
      .select(col("id"), col("root"))
    graft.ops.Dedup.componentsFromStar(base.select("id").distinct(),
      verified, maxIters)
  }
}
