package graft.ops

import graft.{EpochStore, SparkSpec, Tables}
import org.apache.spark.sql.functions._

class IvfPqSpec extends SparkSpec {
  import spark.implicits._

  private def corpusAndQueries = {
    val emb = Tables.embeddings(spark, sf001)
    (emb.filter($"vec_id" < 5)
       .select($"vec_id".as("qid"), $"embedding".as("qvec")),
     emb.filter($"vec_id" >= 5)
       .select($"vec_id".as("id"), $"embedding".as("vec")))
  }

  private def key(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("composed index: exhaustive probes+shortlist ≡ brute force; pruned keeps recall; ADC is codes-only") {
    val (queries, corpus) = corpusAndQueries
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 4, iters = 2)
    val cb = PqIndex.train(corpus, "id", "vec", m = 8, k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfpq").toFile.getAbsolutePath
    IvfPq.writeIndex(corpus, centroids, cb, path)
    assert(new java.io.File(path).listFiles().count(_.getName.startsWith("cell=")) > 1,
      "index must be laid out by cell")

    val exact = key(Similarity.bruteForceTopK(queries, corpus, k = 10))
    // every cell probed + uncapped shortlist ⇒ exact
    val full = key(IvfPq.topK(spark, path, queries, centroids, cb,
      k = 10, nProbe = 4, shortlist = Int.MaxValue))
    assert(full == exact, "exhaustive IVF-PQ must equal brute force")

    // pruned both ways: half the cells, half the corpus shortlisted
    val pruned = IvfPq.topK(spark, path, queries, centroids, cb,
      k = 10, nProbe = 2, shortlist = 60)
    val recall = (exact intersect key(pruned)).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF-PQ recall@10 = $recall")

    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune cell partitions:\n$plan")
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(plan).toList
    assert(schemas.exists(s => s.contains("codes") && !s.contains("vec")),
      s"no codes-only ADC scan found:\n$plan")
    assert(schemas.forall(s => !(s.contains("codes") && s.contains("vec"))),
      s"a scan reads codes AND vectors — ADC pass not pruned:\n$plan")
  }

  test("incremental append: delta ingest ≡ full rewrite, existing files untouched") {
    val (queries, corpus) = corpusAndQueries
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 4, iters = 2)
    val cb = PqIndex.train(corpus, "id", "vec", m = 8, k = 8, iters = 2)
    // base = ids < 60, delta = the rest; quantizers trained on the FULL
    // corpus stand in for "trained at last rewrite"
    val base = corpus.filter($"id" < 60)
    val delta = corpus.filter($"id" >= 60)

    // an epoch-layout root: the base generation, then the delta as epoch 0
    val incr = java.nio.file.Files.createTempDirectory("ivfpq-incr").toFile.getAbsolutePath
    IvfPq.appendIndexEpoch(base, centroids, cb, incr, EpochStore.BaseEpoch)
    def listFiles(dir: String): Map[String, Long] = {
      val root = new java.io.File(dir)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(root).filter(_.getName.endsWith(".parquet"))
        .map(f => f.getAbsolutePath -> f.lastModified()).toMap
    }
    val before = listFiles(incr)
    IvfPq.appendIndexEpoch(delta, centroids, cb, incr, 0L)
    val after = listFiles(incr)
    assert(before.keySet.subsetOf(after.keySet) && before.forall { case (p, m) => after(p) == m },
      "append must only add files, never rewrite existing ones")
    assert(after.size > before.size, "append must add files")

    val full = java.nio.file.Files.createTempDirectory("ivfpq-full").toFile.getAbsolutePath
    IvfPq.writeIndex(corpus, centroids, cb, full)
    val probeIncr = key(IvfPq.topK(spark, incr, queries, centroids, cb,
      k = 10, nProbe = 4, shortlist = Int.MaxValue))
    val probeFull = key(IvfPq.topK(spark, full, queries, centroids, cb,
      k = 10, nProbe = 4, shortlist = Int.MaxValue))
    assert(probeIncr == probeFull, "appended index must probe identically to a rewrite")
  }
}
