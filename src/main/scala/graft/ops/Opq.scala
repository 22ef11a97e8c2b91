package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Optimized Product Quantization (the parametric OPQ of Ge et al.,
  * "Optimized Product Quantization for Approximate Nearest Neighbor
  * Search", CVPR 2013): rotate the space with the PCA eigenbasis and
  * allocate principal components to subspaces so every subspace carries
  * a balanced share of the variance, THEN product-quantize. Plain PQ
  * cuts the vector into contiguous coordinate slices — if the data's
  * energy concentrates in a few coordinates (the common case for
  * learned embeddings), one codebook drowns while the rest quantize
  * noise. OPQ's rotation is exactly the fix, and its parametric variant
  * composes two things this library already has: the committed PCA
  * eigenbasis ([[Pca]], `fixtures/pca_basis.parquet`) supplies the
  * orthonormal rotation, and [[PqIndex]]'s ADC scan / shortlist /
  * exact re-rank run unchanged on the rotated relation.
  *
  * The rotation is PURE (no mean-centering, unlike [[Pca.projectCol]]):
  * an orthonormal change of basis preserves inner products and norms,
  * so cosine in rotated space IS cosine in the original space. The
  * exact re-rank deliberately runs against the ORIGINAL float vectors —
  * bit-identical scoring to [[Similarity.bruteForceTopK]], which is how
  * `ann_opq` stays on the same exact-top-k oracle as `ann_pq`
  * (shortlist >= |corpus| degenerates to brute force; pruned-shortlist
  * recall, and the recall IMPROVEMENT over unrotated PQ on anisotropic
  * data, are OpqSpec properties).
  *
  * Eigenvalue allocation (Ge et al. §4.2): components are dealt to the
  * `m` buckets greedily — descending eigenvalue, each into the bucket
  * with the smallest log-eigenvalue product — balancing the
  * per-subspace variance PRODUCT, the quantity whose imbalance drives
  * PQ's distortion. Deterministic: ties break on bucket index.
  *
  * Quantizer: unlike [[PqIndex]]'s scale-invariant argmax-dot code
  * assignment (direction quantization — fine on spread subspaces,
  * DEGENERATE on the near-1-D subspaces PCA rotation produces: all
  * collinear centroids tie except the two extremes, collapsing 16
  * codes to 2), OPQ assigns codes by TRUE L2 nearest centroid on the
  * unit-normalized rotated vector. No new expression needed — the
  * augmented-coordinate trick linearizes L2 into the existing codegen'd
  * argmax-dot: append a constant 1 coordinate to each subvector and
  * −‖c‖²/2 to each centroid, so argmax(x·c − ‖c‖²/2) ≡ argmin‖x−c‖².
  * The ADC/LUT side keeps the PLAIN codebooks (the correction term
  * must not shift inner-product estimates); code indices line up by
  * construction. This is the classical IVFADC estimator: ADC scores
  * approximate q · x̂ with x̂ the per-subspace L2 reconstruction.
  *
  * Scale shape: rotation is d codegen'd dot products against literal
  * eigenvectors — a shuffle-free map fused into the encode scan;
  * training is [[Lloyd.fit]], one aggregation per iteration like
  * [[PqIndex.train]] (unit-norm rows make the update a plain mean);
  * everything downstream is PQ's m-bytes-per-row pipeline. At 100 TB
  * the added cost over plain PQ is one extra matrix-vector per row at
  * ingest — the FAISS `OPQMatrix` pre-transform, amortized identically.
  */
object Opq {

  /** Trained model: the component order (a permutation of 0..d-1 laid
    * out bucket-by-bucket, dsub components each) plus the PQ codebooks
    * trained on unit-normalized rotated vectors. */
  final case class Model(order: Seq[Int], cb: PqIndex.Codebooks)

  /** Greedy eigenvalue allocation: bucket-by-bucket component order
    * balancing Π eigenvalue per bucket. Every component appears exactly
    * once; buckets are exactly `d/m` wide.
    *
    * Level-synchronized greedy: components are dealt in rounds — each
    * round every bucket receives exactly one (descending eigenvalue,
    * the poorest bucket first). A naive "any non-full bucket with the
    * smallest product" degenerates to CONTIGUOUS fill whenever the
    * eigenvalues are < 1 (an empty bucket's product is 1 — it looks
    * richest, so the partially-filled bucket keeps winning); keeping
    * the fill level synchronized makes products comparable and yields
    * a perfectly balanced serpentine on geometric spectra. */
  def allocate(evals: Seq[Double], m: Int): Seq[Int] = {
    val d = evals.length
    require(d % m == 0, s"dim $d not divisible by m=$m")
    val dsub = d / m
    val buckets = Array.fill(m)(List.empty[Int])
    val logProd = Array.fill(m)(0.0)
    val order = evals.indices.sortBy(i => (-evals(i), i))
    order.foreach { c =>
      val counts = buckets.map(_.length)
      val minCnt = counts.filter(_ < dsub).min
      val open = (0 until m).filter(b => counts(b) == minCnt)
      val tgt = open.minBy(b => (logProd(b), b))
      buckets(tgt) = c :: buckets(tgt)
      // floor tiny/zero eigenvalues so a degenerate spectrum still
      // spreads deterministically instead of collapsing to -inf ties
      logProd(tgt) += math.log(math.max(evals(c), 1e-300))
    }
    buckets.toSeq.flatMap(_.reverse)
  }

  /** The rotation matrix: eigenvectors as rows, in allocation order.
    * Public as [[rotation]] for composition with other index families
    * (the rotated residual IVF-PQ stack in [[ResidualPq]]). */
  def rotation(basis: Seq[Pca.Component], order: Seq[Int]): Array[Array[Double]] =
    rotationMatrix(basis, order)

  private def rotationMatrix(basis: Seq[Pca.Component],
      order: Seq[Int]): Array[Array[Double]] = {
    val byComponent = basis.map(c => c.component -> c).toMap
    order.map(i => byComponent(i).evec).toArray
  }

  /** Pure rotation: coordinates of `vec` in the permuted eigenbasis —
    * ONE [[graft.functions.RotateProjectExpr]] matvec with the matrix
    * as a reference object (d² literal dot subtrees Janino-compiled per
    * action dominated `ann_opq` before), NO centering, float output
    * (the shape [[PqIndex]]'s LUT/ADC path scans). Used raw for query
    * LUTs (a query's uniform scale cannot change its ranking). */
  def rotateCol(vec: Column, basis: Seq[Pca.Component], order: Seq[Int]): Column =
    graft.functions.functions.rotate_project(vec, rotationMatrix(basis, order))

  /** Unit-normalized rotated vector (rotation preserves the norm, so
    * the divisor is the ORIGINAL vector's norm), with a constant-1
    * coordinate appended per subspace: the augmented layout whose
    * argmax-dot against [[PqIndex.augmentL2]] codebooks is exact L2
    * nearest-centroid assignment. Zero vectors pass through unscaled. */
  private[ops] def encodeVecCol(vec: Column, basis: Seq[Pca.Component],
      order: Seq[Int], m: Int): Column =
    graft.functions.functions.rotate_project(vec, rotationMatrix(basis, order),
      normalize = true, appendEvery = order.length / m)

  /** L2 codes for the corpus: (id, codes) via the augmented layout. */
  private def encodeL2(corpus: DataFrame, basis: Seq[Pca.Component],
      model: Model): DataFrame =
    corpus.select(col("id"),
      PqIndex.encode(encodeVecCol(col("vec"), basis, model.order, model.cb.m),
        PqIndex.augmentL2(model.cb)).as("codes"))

  /** Train: allocate components by the basis' eigenvalues, rotate +
    * unit-normalize the corpus, run [[Lloyd.fit]] with L2 assignment
    * ([[PqIndex.assignL2]]); rows are unit-norm so the centroid update
    * is a plain mean. Deterministic: id-hash-sampled seed rows, fixed
    * iterations, empty cells keep their previous centroid. */
  def train(corpus: DataFrame, basis: Seq[Pca.Component],
      m: Int = 8, k: Int = 16, iters: Int = 2): Model = {
    val order = allocate(basis.sortBy(_.component).map(_.eigenvalue), m)
    val mat = rotationMatrix(basis, order)
    // Lloyd reads the rotated corpus once for its seeds and once per
    // iteration — materialize the rotation (the d² matvec pass) once
    // instead of re-rotating per read.
    val unit = Materialize(corpus.select(col("id"),
      graft.functions.functions.rotate_project(col("vec"), mat,
        normalize = true).as("v")))

    Model(order, Lloyd.fit(unit, m, k, iters)(PqIndex.assignL2))
  }

  /** Ingest-time half, mirroring [[PqIndex.writeEncoded]]: store
    * (id, codes, vec) — rotated L2 codes and the ORIGINAL vectors in
    * one parquet, so the ADC pass prunes to the m-bytes-per-row codes
    * column and the re-rank fetches original vectors for shortlist
    * rows only. The rotation runs once, at write time — the FAISS
    * `OPQMatrix` pre-transform amortization. */
  def writeEncoded(corpus: DataFrame, basis: Seq[Pca.Component],
      model: Model, path: String): Unit =
    corpus.select(col("id"),
        PqIndex.encode(encodeVecCol(col("vec"), basis, model.order, model.cb.m),
          PqIndex.augmentL2(model.cb)).as("codes"),
        col("vec"))
      .write.mode("overwrite").parquet(path)

  /** Probe a [[writeEncoded]] corpus: only the query rotates at probe
    * time; the ADC stage reads (id, codes) alone (OpqSpec gates the
    * ReadSchema like PqIndexSpec), the re-rank reads original vectors
    * for shortlist rows. */
  def topKEncoded(spark: org.apache.spark.sql.SparkSession, path: String,
      queries: DataFrame, basis: Seq[Pca.Component], model: Model,
      k: Int, shortlist: Int): DataFrame = {
    val stored = spark.read.parquet(path)
    val rotatedQueries = queries.select(col("qid"),
      rotateCol(col("qvec"), basis, model.order).as("qvec"))
    val short = PqIndex.adcShortlist(stored.select(col("id"), col("codes")),
      rotatedQueries, model.cb, shortlist)
    PqIndex.rerank(short, queries, stored.select(col("id"), col("vec")), k)
  }

  /** OPQ top-k: L2-encode the rotated corpus, ADC scan + shortlist with
    * the rotated queries against the PLAIN codebooks, exact cosine
    * re-rank on the ORIGINAL vectors (identical tie-break and scoring
    * to [[Similarity.bruteForceTopK]] — rotation never touches the
    * final scores). */
  def topK(queries: DataFrame, corpus: DataFrame, basis: Seq[Pca.Component],
      model: Model, k: Int, shortlist: Int): DataFrame = {
    val encoded = encodeL2(corpus, basis, model)
    val rotatedQueries = queries.select(col("qid"),
      rotateCol(col("qvec"), basis, model.order).as("qvec"))
    val short = PqIndex.adcShortlist(encoded, rotatedQueries, model.cb, shortlist)
    PqIndex.rerank(short, queries, corpus, k)
  }

  // ----------------------------------------------------------------
  // NON-PARAMETRIC (iterative) OPQ — Ge et al. CVPR 2013 §4.1, the
  // FAISS `OPQMatrix` default: alternate (a) fix the rotation R, train
  // codebooks on {R·x}; (b) fix codebooks, update R to the orthogonal
  // matrix best aligning rotated vectors with their reconstructions —
  // the orthogonal Procrustes problem, max_R tr(R·C) with
  // C = Σᵢ vᵢ·v̂ᵢᵀ, solved in closed form by R = V·Uᵀ from C's SVD.
  // The parametric variant above is exactly one (a) step from the PCA
  // init; iterating lets the rotation adapt to what the QUANTIZER can
  // represent, which is where non-Gaussian (e.g. clustered) embedding
  // distributions leave parametric recall on the table.
  //
  // Distributed shape: step (b)'s only data-sized pass is the d×d
  // cross-correlation C — one Aggregator over (rotated-unit vector,
  // codes) rows with a d² buffer per partition, the [[Pca.MomentAgg]]
  // pattern (32 KB at d=64, 8 MB at d=1024; rows never shuffle, only
  // buffers merge). The SVD runs on the DRIVER via the polar
  // decomposition: M = CᵀC is symmetric PSD, [[Pca.jacobiEigen]]
  // diagonalizes it, R_step = (C·M^(−1/2))ᵀ — same driver-sized-by-
  // construction argument as PCA training. Rotations COMPOSE across
  // iterations (R ← R_step·R on the driver), so every pass over data
  // applies exactly one matvec per row.
  // ----------------------------------------------------------------

  /** Iteratively-trained model: an ARBITRARY orthonormal rotation (no
    * longer a permuted eigenbasis) plus codebooks trained on the
    * unit-normalized rotated corpus. */
  final case class RotModel(rot: Array[Array[Double]], cb: PqIndex.Codebooks)

  // public: the encoders' generated projections need member access.
  // CrossBuf carries the d² cross-correlation AND the distortion
  // scalars in one pass: s = [Σ vᵀv̂, Σ‖v̂‖², n], so the objective
  // E = Σ‖v − v̂‖² = n + Σ‖v̂‖² − 2Σvᵀv̂ falls out of the same
  // aggregation that feeds the Procrustes step.
  final case class CrossRow(v: Seq[Float], codes: Seq[Int])
  final case class CrossBuf(c: Array[Double], s: Array[Double])

  /** Σᵢ vᵢ·v̂ᵢᵀ with v̂ the per-subspace centroid reconstruction of
    * v's codes — the reconstruction is block-sparse (subspace j only
    * writes its own dsub columns), so the update is d·dsub work per
    * row, not d². */
  private final class CrossMomentAgg(cb: PqIndex.Codebooks, d: Int)
      extends org.apache.spark.sql.expressions.Aggregator[CrossRow, CrossBuf, CrossBuf] {
    import org.apache.spark.sql.{Encoder, Encoders}
    override def zero: CrossBuf =
      CrossBuf(new Array[Double](d * d), new Array[Double](3))
    override def reduce(b: CrossBuf, r: CrossRow): CrossBuf = {
      val v = r.v
      var j = 0
      while (j < cb.m) {
        val cent = cb.books(j)(r.codes(j))
        val colBase = j * cb.dsub
        var a = 0
        while (a < d) {
          val va = v(a).toDouble
          if (va != 0.0) {
            var bb = 0
            while (bb < cb.dsub) {
              b.c(a * d + colBase + bb) += va * cent(bb)
              bb += 1
            }
          }
          a += 1
        }
        // distortion scalars: this subspace's vᵀv̂ and ‖v̂‖² blocks
        var bb = 0
        while (bb < cb.dsub) {
          b.s(0) += v(colBase + bb).toDouble * cent(bb)
          b.s(1) += cent(bb) * cent(bb)
          bb += 1
        }
        j += 1
      }
      b.s(2) += 1.0
      b
    }
    override def merge(b1: CrossBuf, b2: CrossBuf): CrossBuf = {
      var i = 0
      while (i < b1.c.length) { b1.c(i) += b2.c(i); i += 1 }
      i = 0
      while (i < 3) { b1.s(i) += b2.s(i); i += 1 }
      b1
    }
    override def finish(b: CrossBuf): CrossBuf = b
    override def bufferEncoder: Encoder[CrossBuf] = Encoders.product[CrossBuf]
    override def outputEncoder: Encoder[CrossBuf] = Encoders.product[CrossBuf]
  }

  /** max_R tr(R·C) over orthogonal R, closed form: with C = U·Σ·Vᵀ,
    * R = V·Uᵀ — computed as (C·M^(−1/2))ᵀ, M = CᵀC diagonalized by the
    * driver-sized Jacobi. Near-zero singular values (rank-deficient C)
    * are floored so their arbitrary directions stay deterministic. */
  private[ops] def procrustes(c: Array[Array[Double]]): Array[Array[Double]] = {
    val d = c.length
    val m = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var t = 0; while (t < d) { s += c(t)(i) * c(t)(j); t += 1 }; s
    }
    val (evals, evecs) = Pca.jacobiEigen(m)
    val maxEv = math.max(evals.max, 1e-300)
    // M^(-1/2) = W·diag(λ^(-1/2))·Wᵀ  (W rows = eigenvectors)
    val invSqrt = Array.tabulate(d, d) { (i, j) =>
      var s = 0.0
      var t = 0
      while (t < d) {
        s += evecs(t)(i) * evecs(t)(j) / math.sqrt(math.max(evals(t), maxEv * 1e-12))
        t += 1
      }
      s
    }
    // R = (C · M^(-1/2))ᵀ
    Array.tabulate(d, d) { (i, j) =>
      var s = 0.0; var t = 0; while (t < d) { s += c(j)(t) * invSqrt(t)(i); t += 1 }; s
    }
  }

  private def matMul(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] = {
    val n = a.length
    Array.tabulate(n, n) { (i, j) =>
      var s = 0.0; var t = 0; while (t < n) { s += a(i)(t) * b(t)(j); t += 1 }; s
    }
  }

  /** Alternating optimization: PCA-allocated init (one parametric
    * step), then `optIters − 1` rounds of Procrustes-rotation update +
    * codebook retrain. Each round costs one C aggregation + one Lloyd
    * train — all data passes are single-aggregation shaped.
    *
    * Returns the iterate with the LOWEST measured quantization
    * distortion Σ‖v − v̂‖² (the alternation's own objective, read off
    * the same aggregation that feeds the Procrustes step): each half-
    * step is individually optimal but the COMPOSITION is not monotone
    * in practice with few Lloyd iterations (measured on the real
    * embeddings table: the third iterate's rotation lost recall the
    * objective also saw), and iterate 1 IS the parametric model — so
    * best-of-iterates can never leave the caller worse than
    * [[train]] by the criterion both optimize. Deterministic end to
    * end (Jacobi, id-hash Lloyd seeds, fixed iteration counts). */
  def trainIterative(corpus: DataFrame, basis: Seq[Pca.Component],
      m: Int = 8, k: Int = 16, pqIters: Int = 2, optIters: Int = 3): RotModel = {
    val d = basis.length
    val order = allocate(basis.sortBy(_.component).map(_.eigenvalue), m)
    var rot = rotationMatrix(basis, order)
    var best: RotModel = null
    var bestE = Double.PositiveInfinity
    import corpus.sparkSession.implicits._
    (1 to optIters).foreach { it =>
      // The rotated-unit corpus feeds the Lloyd seeds, every Lloyd
      // iteration, AND the cross-moment pass — materialize it once per
      // optimization round so the d² matvec rotation is one corpus pass
      // per round instead of four; the cross pass derives its encode
      // input from the stored v (assignL2's augmentVecCol ≡ appendEvery
      // = dsub on the same rotated floats) rather than re-rotating.
      val unit = Materialize(corpus.select(col("id"),
        graft.functions.functions.rotate_project(col("vec"), rot,
          normalize = true).as("v")))
      val cb = Lloyd.fit(unit, m, k, pqIters)(PqIndex.assignL2)
      val rows = PqIndex.assignL2(unit, cb).select(col("v"), col("codes"))
        .as[CrossRow]
      // one whole-dataset typed aggregation → d² buffer + scalars
      val buf = rows.select(new CrossMomentAgg(cb, d).toColumn).head()
      Materialize.release(unit)
      val e = buf.s(2) + buf.s(1) - 2.0 * buf.s(0)
      if (e < bestE) { bestE = e; best = RotModel(rot, cb) }
      if (it < optIters) {
        val c = Array.tabulate(d, d)((i, j) => buf.c(i * d + j))
        rot = matMul(procrustes(c), rot)
      }
    }
    best
  }

  /** Ingest-time half for an iteratively-trained model, mirroring
    * [[writeEncoded]]: (id, codes, vec) in one parquet — the learned
    * rotation is paid ONCE at write time (the FAISS `OPQMatrix`
    * pre-transform amortization applies to the non-parametric variant
    * identically), the ADC pass prunes to the codes column, the
    * re-rank fetches original vectors for shortlist rows only. */
  def writeEncodedIterative(corpus: DataFrame, model: RotModel,
      path: String): Unit =
    corpus.select(col("id"),
        PqIndex.encode(
          graft.functions.functions.rotate_project(col("vec"), model.rot,
            normalize = true, appendEvery = model.cb.dsub),
          PqIndex.augmentL2(model.cb)).as("codes"),
        col("vec"))
      .write.mode("overwrite").parquet(path)

  /** Probe a [[writeEncodedIterative]] corpus: only the query rotates
    * at probe time; codes-only ADC scan, exact re-rank on original
    * vectors (OpqSpec gates the ReadSchema like the parametric
    * encoded form). */
  def topKEncodedIterative(spark: org.apache.spark.sql.SparkSession,
      path: String, queries: DataFrame, model: RotModel,
      k: Int, shortlist: Int): DataFrame = {
    val stored = spark.read.parquet(path)
    val rotatedQueries = queries.select(col("qid"),
      graft.functions.functions.rotate_project(col("qvec"), model.rot).as("qvec"))
    val short = PqIndex.adcShortlist(stored.select(col("id"), col("codes")),
      rotatedQueries, model.cb, shortlist)
    PqIndex.rerank(short, queries, stored.select(col("id"), col("vec")), k)
  }

  /** [[topK]] for an iteratively-trained model: identical pipeline —
    * encode with the learned rotation, ADC + shortlist in rotated
    * space, exact cosine re-rank on ORIGINAL vectors. Exhaustive
    * shortlist therefore degenerates to brute force exactly like the
    * parametric form (the `ann_opq_iter` oracle). */
  def topKIterative(queries: DataFrame, corpus: DataFrame,
      model: RotModel, k: Int, shortlist: Int): DataFrame = {
    val dsub = model.cb.dsub
    val encoded = corpus.select(col("id"),
      PqIndex.encode(
        graft.functions.functions.rotate_project(col("vec"), model.rot,
          normalize = true, appendEvery = dsub),
        PqIndex.augmentL2(model.cb)).as("codes"))
    val rotatedQueries = queries.select(col("qid"),
      graft.functions.functions.rotate_project(col("qvec"), model.rot).as("qvec"))
    val short = PqIndex.adcShortlist(encoded, rotatedQueries, model.cb, shortlist)
    PqIndex.rerank(short, queries, corpus, k)
  }
}
