package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Residual-encoded IVF-PQ: exactness in exhaustive mode, the
  * residual-fidelity advantage over raw encoding, and the residual
  * expression itself. */
class ResidualPqSpec extends SparkSpec {
  import spark.implicits._

  /** Clustered corpus: `nClusters` well-separated centers, small
    * within-cluster spread — the regime where absolute-position PQ
    * wastes its codebooks re-describing cell locations. */
  private def clustered(n: Int, dim: Int, nClusters: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)((rnd.nextDouble() - 0.5) * 4.0))
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + (rnd.nextDouble() - 0.5) * 2.0).toFloat).toSeq)
    }
  }

  private def key(d: org.apache.spark.sql.DataFrame) =
    d.select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet

  test("cell residual + centroid reconstructs the vector; degenerate input is null") {
    val cents = Array(Array(1.0, 2.0, 3.0), Array(-1.0, 0.0, 4.0))
    val df = Seq(
      (0L, Seq(1.5f, 1.5f, 3.5f), 0),
      (1L, Seq(-2.0f, 1.0f, 4.0f), 1),
      (2L, Seq(0.5f), 0)).toDF("id", "v", "cell")
    val out = df.select(col("id"),
        graft.functions.functions.cell_residual(col("v"), col("cell"), cents).as("r"))
      .collect().map(r => r.getLong(0) ->
        Option(r.getSeq[Float](1)).map(_.toSeq)).toMap
    assert(out(0L).get == Seq(0.5f, -0.5f, 0.5f))
    assert(out(1L).get == Seq(-1.0f, 1.0f, 0.0f))
    assert(out(2L).isEmpty, "short vector must yield null")
    // augmented layout interleaves the constant-1 per dsub coordinates
    val aug = df.filter(col("id") === 0L)
      .select(graft.functions.functions.cell_residual(col("v"), col("cell"),
        cents, appendEvery = 3).as("r"))
      .collect().head.getSeq[Float](0).toSeq
    assert(aug == Seq(0.5f, -0.5f, 0.5f, 1.0f))
  }

  test("all cells probed + uncapped shortlist is exactly brute force") {
    val data = clustered(160, 16, 8, seed = 41L)
    val df = data.toDF("id", "v")
    val queries = df.filter(col("id") < 4)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 4)
      .select(col("id").as("id"), col("v").as("vec"))
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val cb = ResidualPq.trainCodebooks(corpus, centroids, m = 4, k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("respq").toFile.getAbsolutePath
    ResidualPq.writeIndex(corpus, centroids, cb, path)
    val got = key(ResidualPq.topK(spark, path, queries, centroids, cb,
      k = 10, nProbe = 8, shortlist = Int.MaxValue))
    val exact = key(Similarity.bruteForceTopK(queries, corpus, 10))
    assert(got == exact)
  }

  test("epoch appends with frozen quantizers probe exactly like a full rewrite; an epoch replay is idempotent") {
    val data = clustered(160, 16, 8, seed = 47L)
    val df = data.toDF("id", "v")
    val queries = df.filter(col("id") < 4)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 4)
      .select(col("id").as("id"), col("v").as("vec"))
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val cb = ResidualPq.trainCodebooks(corpus, centroids, m = 4, k = 8, iters = 2)
    val tmp = java.nio.file.Files.createTempDirectory("respq3").toFile.getAbsolutePath
    ResidualPq.writeIndex(corpus, centroids, cb, s"$tmp/full")
    // the same corpus streamed in as two epochs against FROZEN quantizers
    val even = corpus.filter(col("id") % 2 === 0)
    val odd = corpus.filter(col("id") % 2 === 1)
    ResidualPq.appendIndexEpoch(even, centroids, cb, s"$tmp/epoch", 0L)
    ResidualPq.appendIndexEpoch(odd, centroids, cb, s"$tmp/epoch", 1L)
    // a foreachBatch RETRY of epoch 1 must replace, never duplicate
    ResidualPq.appendIndexEpoch(odd, centroids, cb, s"$tmp/epoch", 1L)
    assert(spark.read.parquet(s"$tmp/epoch").count() == corpus.count(),
      "epoch replay must be idempotent")
    val full = key(ResidualPq.topK(spark, s"$tmp/full", queries, centroids, cb,
      k = 10, nProbe = 8, shortlist = Int.MaxValue))
    val epoch = key(ResidualPq.topK(spark, s"$tmp/epoch", queries, centroids, cb,
      k = 10, nProbe = 8, shortlist = Int.MaxValue))
    assert(epoch == full, "streamed appends must probe ≡ full rewrite")
    assert(full == key(Similarity.bruteForceTopK(queries, corpus, 10)))
  }

  test("residual encoding beats raw encoding at the PRUNED probe budget too") {
    val data = clustered(405, 16, 8, seed = 43L)
    val df = data.toDF("id", "v")
    val queries = df.filter(col("id") < 5)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 5)
      .select(col("id").as("id"), col("v").as("vec"))
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val exact = Similarity.bruteForceTopK(queries, corpus, 10)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    def recall(rows: Array[(Long, Long)]): Double = {
      val byQ = rows.groupBy(_._1)
      exact.map { case (q, truth) =>
        byQ.getOrElse(q, Array.empty[(Long, Long)])
          .map(_._2).count(truth.contains).toDouble / truth.size
      }.sum / exact.size
    }
    val tmp = java.nio.file.Files.createTempDirectory("respq4").toFile.getAbsolutePath
    val rawCb = PqIndex.train(corpus, "id", "vec", m = 8, k = 32, iters = 3)
    IvfPq.writeIndex(corpus, centroids, rawCb, s"$tmp/raw")
    val raw = recall(IvfPq.topK(spark, s"$tmp/raw", queries, centroids, rawCb,
      k = 10, nProbe = 2, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    val resCb = ResidualPq.trainCodebooks(corpus, centroids, m = 8, k = 32, iters = 3)
    ResidualPq.writeIndex(corpus, centroids, resCb, s"$tmp/res")
    val res = recall(ResidualPq.topK(spark, s"$tmp/res", queries, centroids, resCb,
      k = 10, nProbe = 2, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    info(f"recall@10 shortlist=15 nProbe=2: raw=$raw%.3f residual=$res%.3f")
    // the production configuration prunes BOTH levers; the residual
    // advantage must survive the probe cut, not just the exhaustive mode
    assert(res >= raw + 0.1,
      f"residual must beat raw at the pruned probe budget: res=$res%.3f raw=$raw%.3f")
    assert(res >= 0.7, f"pruned residual recall floor: $res%.3f")
  }

  /** Anisotropic clusters: centers anywhere, within-cluster spread
    * concentrated in the FIRST `structDims` coordinates — plain
    * residual PQ slices residuals contiguously so one subspace drowns;
    * the rotated stack balances the residual variance first. */
  private def clusteredAniso(n: Int, dim: Int, nClusters: Int,
      structDims: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)((rnd.nextDouble() - 0.5) * 4.0))
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.zipWithIndex.map { case (x, j) =>
        val spread = if (j < structDims) 2.0 - 0.3 * j else 0.05
        (x + (rnd.nextDouble() - 0.5) * spread).toFloat
      }.toSeq)
    }
  }

  test("rotated residual stack (OPQ,IVF,PQ): exhaustive mode is exactly brute force") {
    val data = clusteredAniso(160, 16, 8, 4, seed = 53L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val order = Opq.allocate(basis.sortBy(_.component).map(_.eigenvalue), 4)
    val rot = Opq.rotation(basis, order)
    val queries = df.filter(col("id") < 4)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 4)
      .select(col("id").as("id"), col("v").as("vec"))
    val rotated = corpus.select(col("id"),
      graft.functions.functions.rotate_project(col("vec"), rot).as("vec"))
    val centroids = IvfIndex.train(rotated, "id", "vec", k = 8, iters = 2)
    val cb = ResidualPq.trainCodebooks(corpus, centroids,
      m = 4, k = 8, iters = 2, rot = Some(rot))
    val path = java.nio.file.Files.createTempDirectory("respqrot").toFile.getAbsolutePath
    ResidualPq.writeIndex(corpus, centroids, cb, path, rot = Some(rot))
    val got = key(ResidualPq.topK(spark, path, queries,
      centroids, cb, k = 10, nProbe = 8, shortlist = Int.MaxValue, rot = Some(rot)))
    assert(got == key(Similarity.bruteForceTopK(queries, corpus, 10)),
      "re-rank on originals: the rotation must be invisible in exhaustive mode")
  }

  test("rotated stack epoch appends with frozen rotation+quantizers probe ≡ full rewrite; replay idempotent") {
    val data = clusteredAniso(160, 16, 8, 4, seed = 61L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val order = Opq.allocate(basis.sortBy(_.component).map(_.eigenvalue), 4)
    val rot = Opq.rotation(basis, order)
    val queries = df.filter(col("id") < 4)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 4)
      .select(col("id").as("id"), col("v").as("vec"))
    val rotated = corpus.select(col("id"),
      graft.functions.functions.rotate_project(col("vec"), rot).as("vec"))
    val centroids = IvfIndex.train(rotated, "id", "vec", k = 8, iters = 2)
    val cb = ResidualPq.trainCodebooks(corpus, centroids,
      m = 4, k = 8, iters = 2, rot = Some(rot))
    val tmp = java.nio.file.Files.createTempDirectory("respqrot3").toFile.getAbsolutePath
    ResidualPq.writeIndex(corpus, centroids, cb, s"$tmp/full", rot = Some(rot))
    val even = corpus.filter(col("id") % 2 === 0)
    val odd = corpus.filter(col("id") % 2 === 1)
    ResidualPq.appendIndexEpoch(even, centroids, cb, s"$tmp/epoch", 0L, rot = Some(rot))
    ResidualPq.appendIndexEpoch(odd, centroids, cb, s"$tmp/epoch", 1L, rot = Some(rot))
    ResidualPq.appendIndexEpoch(odd, centroids, cb, s"$tmp/epoch", 1L, rot = Some(rot))
    assert(spark.read.parquet(s"$tmp/epoch").count() == corpus.count(),
      "epoch replay must be idempotent")
    val full = key(ResidualPq.topK(spark, s"$tmp/full", queries,
      centroids, cb, k = 10, nProbe = 8, shortlist = Int.MaxValue, rot = Some(rot)))
    val epoch = key(ResidualPq.topK(spark, s"$tmp/epoch", queries,
      centroids, cb, k = 10, nProbe = 8, shortlist = Int.MaxValue, rot = Some(rot)))
    assert(epoch == full, "streamed rotated appends must probe ≡ full rewrite")
    assert(full == key(Similarity.bruteForceTopK(queries, corpus, 10)))
  }

  test("rotated vs plain residual: the measured recall table on anisotropic clusters") {
    val data = clusteredAniso(405, 16, 8, 4, seed = 59L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val order = Opq.allocate(basis.sortBy(_.component).map(_.eigenvalue), 8)
    val rot = Opq.rotation(basis, order)
    val queries = df.filter(col("id") < 5)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 5)
      .select(col("id").as("id"), col("v").as("vec"))
    val exact = Similarity.bruteForceTopK(queries, corpus, 10)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    def recall(rows: Array[(Long, Long)]): Double = {
      val byQ = rows.groupBy(_._1)
      exact.map { case (q, truth) =>
        byQ.getOrElse(q, Array.empty[(Long, Long)])
          .map(_._2).count(truth.contains).toDouble / truth.size
      }.sum / exact.size
    }
    val tmp = java.nio.file.Files.createTempDirectory("respqrot2").toFile.getAbsolutePath
    // plain residual stack, same budgets
    val cents = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val cbP = ResidualPq.trainCodebooks(corpus, cents, m = 8, k = 32, iters = 3)
    ResidualPq.writeIndex(corpus, cents, cbP, s"$tmp/plain")
    val plain = recall(ResidualPq.topK(spark, s"$tmp/plain", queries, cents, cbP,
      k = 10, nProbe = 2, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    // rotated stack
    val rotated = corpus.select(col("id"),
      graft.functions.functions.rotate_project(col("vec"), rot).as("vec"))
    val centsR = IvfIndex.train(rotated, "id", "vec", k = 8, iters = 2)
    val cbR = ResidualPq.trainCodebooks(corpus, centsR,
      m = 8, k = 32, iters = 3, rot = Some(rot))
    ResidualPq.writeIndex(corpus, centsR, cbR, s"$tmp/rot", rot = Some(rot))
    val rotRec = recall(ResidualPq.topK(spark, s"$tmp/rot", queries,
      centsR, cbR, k = 10, nProbe = 2, shortlist = 15, rot = Some(rot))
      .select("qid", "id").as[(Long, Long)].collect())
    info(f"recall@10 shortlist=15 nProbe=2 on anisotropic clusters: plain=$plain%.3f rotated=$rotRec%.3f")
    // measured: plain=0.66, rotated=0.84 — balancing the residual
    // variance across subspaces before quantizing is worth ~a fifth of
    // the neighbors on the distribution OPQ targets
    assert(rotRec >= plain + 0.1,
      f"rotated stack must clearly beat plain residual on anisotropic data: rot=$rotRec%.3f plain=$plain%.3f")
    assert(rotRec >= 0.8, f"rotated-stack recall floor: $rotRec%.3f")
  }

  test("residual encoding beats raw encoding at a pruned shortlist") {
    val data = clustered(405, 16, 8, seed = 43L)
    val df = data.toDF("id", "v")
    val queries = df.filter(col("id") < 5)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 5)
      .select(col("id").as("id"), col("v").as("vec"))
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val exact = Similarity.bruteForceTopK(queries, corpus, 10)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    def recall(rows: Array[(Long, Long)]): Double = {
      val byQ = rows.groupBy(_._1)
      exact.map { case (q, truth) =>
        byQ.getOrElse(q, Array.empty[(Long, Long)])
          .map(_._2).count(truth.contains).toDouble / truth.size
      }.sum / exact.size
    }
    val tmp = java.nio.file.Files.createTempDirectory("respq2").toFile.getAbsolutePath
    // raw-encoding IvfPq with the same coarse quantizer and code budget
    val rawCb = PqIndex.train(corpus, "id", "vec", m = 8, k = 32, iters = 3)
    IvfPq.writeIndex(corpus, centroids, rawCb, s"$tmp/raw")
    val raw = recall(IvfPq.topK(spark, s"$tmp/raw", queries, centroids, rawCb,
      k = 10, nProbe = 8, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    val resCb = ResidualPq.trainCodebooks(corpus, centroids, m = 8, k = 32, iters = 3)
    ResidualPq.writeIndex(corpus, centroids, resCb, s"$tmp/res")
    val res = recall(ResidualPq.topK(spark, s"$tmp/res", queries, centroids, resCb,
      k = 10, nProbe = 8, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    info(f"recall@10 shortlist=15 nProbe=all: raw=$raw%.3f residual=$res%.3f")
    // measured: raw=0.58, residual=0.78 under the portable (md5-60)
    // seed order — the FAISS IVFADC payoff (0.54/0.82 under the r17
    // xxhash64 seeds; the GAP is the property, the level is seed luck)
    assert(res >= raw + 0.15,
      f"residual encoding must clearly beat raw: res=$res%.3f raw=$raw%.3f")
    assert(res >= 0.75, f"residual recall floor: $res%.3f")
  }
}
