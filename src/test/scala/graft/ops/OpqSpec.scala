package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

class OpqSpec extends SparkSpec {
  import spark.implicits._

  /** Anisotropic planted data: ALL the variance lives in the first
    * `structDims` coordinates (decaying amplitudes) — i.e. inside plain
    * PQ's FIRST contiguous subspace — plus tiny uniform noise
    * everywhere. The worst case for unrotated PQ, the motivating case
    * for OPQ. */
  private def planted(n: Int, dim: Int, structDims: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.tabulate(dim) { j =>
        val noise = (rnd.nextDouble() - 0.5) * 0.02
        val signal =
          if (j < structDims) (rnd.nextDouble() - 0.5) * (2.0 - 0.15 * j)
          else 0.0
        (signal + noise).toFloat
      }
      (i.toLong, v.toSeq)
    }
  }

  test("eigenvalue allocation balances bucket products and is a permutation") {
    val evals = (0 until 16).map(i => math.pow(2.0, -i))
    val order = Opq.allocate(evals, m = 4)
    assert(order.sorted == (0 until 16), "must be a permutation of all components")
    def spread(buckets: Seq[Seq[Int]]): Double = {
      val lp = buckets.map(_.map(i => math.log(evals(i))).sum)
      lp.max - lp.min
    }
    val allocated = order.grouped(4).toSeq
    val contiguous = (0 until 16).grouped(4).toSeq
    assert(spread(allocated) < spread(contiguous) / 4,
      s"allocation must balance the log-product: ${spread(allocated)} vs ${spread(contiguous)}")
    // deterministic
    assert(Opq.allocate(evals, 4) == order)
  }

  test("rotation preserves cosine similarity") {
    val data = planted(40, 16, 4, seed = 21L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val order = Opq.allocate(basis.map(_.eigenvalue), 4)
    val rotated = df.select(col("id"), col("v"),
      Opq.rotateCol(col("v"), basis, order).as("rv"))
    val pairs = rotated.as("a").crossJoin(rotated.as("b"))
      .filter(col("a.id") < col("b.id")).limit(200)
      .select(Similarity.cosine(col("a.v"), col("b.v")).as("orig"),
        Similarity.cosine(col("a.rv"), col("b.rv")).as("rot"))
      .collect()
    pairs.foreach { r =>
      assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-3,
        s"rotation changed cosine: ${r.getDouble(0)} vs ${r.getDouble(1)}")
    }
  }

  test("full-shortlist OPQ is exactly brute force") {
    val data = planted(120, 16, 4, seed = 5L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 3)
      .select(col("id").as("id"), col("v").as("vec"))
    val model = Opq.train(corpus, basis, m = 4, k = 8, iters = 2)
    val opq = Opq.topK(queries, corpus, basis, model, k = 5, shortlist = Int.MaxValue)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(opq == exact)
  }

  test("L2 assignment uses the codebook; argmax-dot would collapse it") {
    val data = planted(305, 16, 4, seed = 13L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val corpus = df.select(col("id"), col("v").as("vec"))
    val model = Opq.train(corpus, basis, m = 4, k = 16, iters = 2)
    val used = corpus.select(
        PqIndex.encode(Opq.encodeVecCol(col("vec"), basis, model.order, 4),
          PqIndex.augmentL2(model.cb)).as("codes"))
      .select(posexplode(col("codes")).as(Seq("sub", "code")))
      .groupBy("sub").agg(countDistinct("code").as("nd"))
      .collect().map(r => r.getLong(1))
    // direction-quantized assignment on these near-1D subspaces used 2
    // codes of 16; L2 must spread well beyond that
    assert(used.forall(_ >= 8),
      s"L2 assignment should use most of the codebook per subspace: ${used.mkString(",")}")
  }

  test("encoded corpus: probe ≡ inline, ADC pass never reads the vectors") {
    val data = planted(150, 16, 4, seed = 23L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 3)
      .select(col("id").as("id"), col("v").as("vec"))
    val model = Opq.train(corpus, basis, m = 4, k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("opqidx").toFile.getAbsolutePath
    Opq.writeEncoded(corpus, basis, model, path)
    val got = Opq.topKEncoded(spark, path, queries, basis, model, k = 5, shortlist = 30)
    val inline = Opq.topK(queries, corpus, basis, model, k = 5, shortlist = 30)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(key(got) == key(inline), "encoded probe ≡ inline probe")
    val plan = got.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(schemas.exists(s => s.contains("codes") && !s.contains("vec")),
      s"no codes-only scan found:\n$plan")
    assert(schemas.forall(s => !(s.contains("codes") && s.contains("vec"))),
      s"a scan reads codes AND vectors — ADC pass not pruned:\n$plan")
  }

  /** Clustered, non-Gaussian data: well-separated centers with modest
    * spread — covariance (what parametric OPQ diagonalizes) describes
    * this distribution poorly, the regime where the iterative variant
    * earns its extra passes. */
  private def clustered(n: Int, dim: Int, nClusters: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(nClusters)(Array.fill(dim)((rnd.nextDouble() - 0.5) * 4.0))
    (0 until n).map { i =>
      val c = centers(i % nClusters)
      (i.toLong, c.map(x => (x + (rnd.nextDouble() - 0.5) * 1.5).toFloat).toSeq)
    }
  }

  test("procrustes step returns an orthogonal matrix that maximizes trace alignment") {
    val rnd = new scala.util.Random(7L)
    val d = 8
    val c = Array.fill(d, d)((rnd.nextDouble() - 0.5) * 2.0)
    val r = Opq.procrustes(c)
    // orthogonality: R·Rᵀ = I
    for (i <- 0 until d; j <- 0 until d) {
      val dot = (0 until d).map(t => r(i)(t) * r(j)(t)).sum
      assert(math.abs(dot - (if (i == j) 1.0 else 0.0)) < 1e-9,
        s"R·Rᵀ[$i][$j] = $dot")
    }
    def traceRC(m: Array[Array[Double]]): Double =
      (0 until d).map(i => (0 until d).map(t => m(i)(t) * c(t)(i)).sum).sum
    val identity = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    assert(traceRC(r) >= traceRC(identity) - 1e-9,
      "the closed-form optimum must beat not rotating at all")
    // and beat a handful of random orthogonal matrices (via procrustes
    // of random seeds — each orthogonal by the property above)
    (1 to 5).foreach { s =>
      val q = Opq.procrustes(Array.fill(d, d)((new scala.util.Random(s.toLong)).nextDouble() - 0.5))
      assert(traceRC(r) >= traceRC(q) - 1e-9,
        s"closed form must dominate random orthogonal candidate $s")
    }
  }

  test("iterative OPQ: full shortlist is exactly brute force") {
    val data = clustered(120, 16, 6, seed = 31L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 3)
      .select(col("id").as("id"), col("v").as("vec"))
    val model = Opq.trainIterative(corpus, basis, m = 4, k = 8,
      pqIters = 2, optIters = 2)
    val got = Opq.topKIterative(queries, corpus, model, k = 5,
        shortlist = Int.MaxValue)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    val exact = Similarity.bruteForceTopK(queries, corpus, 5)
      .select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(got == exact)
  }

  test("iterative encoded corpus: probe ≡ inline, ADC pass never reads the vectors") {
    val data = clustered(150, 16, 6, seed = 29L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val queries = df.filter(col("id") < 3)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 3)
      .select(col("id").as("id"), col("v").as("vec"))
    val model = Opq.trainIterative(corpus, basis, m = 4, k = 8,
      pqIters = 2, optIters = 2)
    val path = java.nio.file.Files.createTempDirectory("opqiter").toFile.getAbsolutePath
    Opq.writeEncodedIterative(corpus, model, path)
    val got = Opq.topKEncodedIterative(spark, path, queries, model,
      k = 5, shortlist = 30)
    val inline = Opq.topKIterative(queries, corpus, model, k = 5, shortlist = 30)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.select("qid", "id", "rank").as[(Long, Long, Int)].collect().toSet
    assert(key(got) == key(inline), "encoded probe ≡ inline probe")
    val plan = got.queryExecution.executedPlan.toString
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(schemas.exists(s => s.contains("codes") && !s.contains("vec")),
      s"no codes-only scan found:\n$plan")
    assert(schemas.forall(s => !(s.contains("codes") && s.contains("vec"))),
      s"a scan reads codes AND vectors — ADC pass not pruned:\n$plan")
  }

  test("iterative vs parametric: the measured recall table (Ge §4.1 vs §4.2)") {
    def recallOn(data: Seq[(Long, Seq[Float])], dim: Int = 16, m: Int = 4,
        shortlist: Int = 15): (Double, Double) = {
      val df = data.toDF("id", "v")
      val basis = Pca.trainBasis(df, "v", dim)
      val queries = df.filter(col("id") < 5)
        .select(col("id").as("qid"), col("v").as("qvec"))
      val corpus = df.filter(col("id") >= 5)
        .select(col("id").as("id"), col("v").as("vec"))
      val exact = Similarity.bruteForceTopK(queries, corpus, 10)
        .select("qid", "id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
      def recall(result: Array[(Long, Long)]): Double = {
        val byQ = result.groupBy(_._1)
        exact.map { case (q, truth) =>
          byQ.getOrElse(q, Array.empty[(Long, Long)])
            .map(_._2).count(truth.contains).toDouble / truth.size
        }.sum / exact.size
      }
      val par = Opq.train(corpus, basis, m = m, k = 16, iters = 2)
      val p = recall(Opq.topK(queries, corpus, basis, par, k = 10, shortlist = shortlist)
        .select("qid", "id").as[(Long, Long)].collect())
      val iter = Opq.trainIterative(corpus, basis, m = m, k = 16,
        pqIters = 2, optIters = 3)
      val i = recall(Opq.topKIterative(queries, corpus, iter, k = 10, shortlist = shortlist)
        .select("qid", "id").as[(Long, Long)].collect())
      (p, i)
    }
    val (pAniso, iAniso) = recallOn(planted(305, 16, 4, seed = 13L))
    val (pClust, iClust) = recallOn(clustered(305, 16, 6, seed = 37L))
    // the third row: REAL embeddings (the corpus the ann_opq queries
    // actually serve), m=4 over the leading 16 projected dims would
    // change the question — measure on the raw 64-dim table instead
    val realEmb = graft.Tables.embeddings(spark, sf001)
      .select($"vec_id".as("id"), $"embedding".as("v"))
      .as[(Long, Seq[Float])].collect().toSeq
    val (pReal, iReal) = recallOn(realEmb, dim = 64, m = 8)
    val (pReal50, iReal50) = recallOn(realEmb, dim = 64, m = 8, shortlist = 50)
    info(f"recall@10 shortlist=15  anisotropic: parametric=$pAniso%.3f iterative=$iAniso%.3f")
    info(f"recall@10 shortlist=15  clustered:   parametric=$pClust%.3f iterative=$iClust%.3f")
    info(f"recall@10 shortlist=15  real-embeddings: parametric=$pReal%.3f iterative=$iReal%.3f")
    info(f"recall@10 shortlist=50  real-embeddings: parametric=$pReal50%.3f iterative=$iReal50%.3f")
    // On the real table the two variants are within single-neighbor
    // noise of each other (the committed table above IS the measured
    // justification the parametric default rests on): at the tightly
    // pruned 15-row shortlist the 50-slot sample resolves ~3 neighbors
    // of difference either way, at 50 the estimates stabilize.
    assert(iReal >= pReal - 0.08,
      f"iterative must hold parametric within shortlist noise: $iReal%.3f vs $pReal%.3f")
    assert(iReal50 >= pReal50 - 0.04,
      f"at a resolving shortlist iterative must match parametric: $iReal50%.3f vs $pReal50%.3f")
    // On Gaussian-per-coordinate anisotropy the PCA rotation is already
    // the optimum — iterating must hold that (within one query's worth
    // of recall), not regress it.
    assert(iAniso >= pAniso - 0.04,
      f"iterative must not regress the parametric optimum: $iAniso%.3f vs $pAniso%.3f")
    // On clustered (non-Gaussian) data the quantizer-adapted rotation
    // must at least match the covariance-only one.
    assert(iClust >= pClust - 1e-9,
      f"iterative must be >= parametric on clustered data: $iClust%.3f vs $pClust%.3f")
  }

  test("rotation lifts pruned-shortlist recall on anisotropic data") {
    val data = planted(305, 16, 4, seed = 13L)
    val df = data.toDF("id", "v")
    val basis = Pca.trainBasis(df, "v", 16)
    val queries = df.filter(col("id") < 5)
      .select(col("id").as("qid"), col("v").as("qvec"))
    val corpus = df.filter(col("id") >= 5)
      .select(col("id").as("id"), col("v").as("vec"))
    val exact = Similarity.bruteForceTopK(queries, corpus, 10)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }

    def recall(result: Array[(Long, Long)]): Double = {
      val byQ = result.groupBy(_._1)
      exact.map { case (q, truth) =>
        byQ.getOrElse(q, Array.empty[(Long, Long)])
          .map(_._2).count(truth.contains).toDouble / truth.size
      }.sum / exact.size
    }

    val pqCb = PqIndex.train(corpus, "id", "vec", m = 4, k = 16, iters = 2)
    val pq = recall(PqIndex.topK(queries, corpus, pqCb, k = 10, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    val model = Opq.train(corpus, basis, m = 4, k = 16, iters = 2)
    val opq = recall(Opq.topK(queries, corpus, basis, model, k = 10, shortlist = 15)
      .select("qid", "id").as[(Long, Long)].collect())
    info(f"recall@10 shortlist=15: pq=$pq%.3f opq=$opq%.3f")
    // measured: pq=0.64, opq=0.96 — the rotation+L2-assignment payoff
    assert(opq >= pq + 0.2,
      f"rotated PQ must clearly beat plain PQ on anisotropic data: opq=$opq%.3f pq=$pq%.3f")
    assert(opq >= 0.9, f"OPQ recall floor: $opq%.3f")
  }
}
