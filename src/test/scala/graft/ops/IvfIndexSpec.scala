package graft.ops

import graft.SparkSpec
import graft.Tables
import org.apache.spark.sql.functions._

class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  test("quantizer is deterministic and assigns every vector a cell") {
    val emb = Tables.embeddings(spark, sf001)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val c1 = IvfIndex.train(emb, "id", "vec", k = 4, iters = 1)
    val c2 = IvfIndex.train(emb, "id", "vec", k = 4, iters = 1)
    assert(c1.map(_.toSeq).toSeq == c2.map(_.toSeq).toSeq, "deterministic training")
    val cells = emb.select(IvfIndex.bestCell($"vec", c1).as("cell"))
      .groupBy("cell").count().collect()
    assert(cells.map(_.getInt(0)).forall(c => c >= 0 && c < 4))
    assert(cells.map(_.getLong(1)).sum == emb.count())
  }

  test("training works on sparse shifted id layouts (sf1 replica regression)") {
    // Replicated corpora shift ids by c×1e8; the old modulo-based seed
    // sample selected ZERO rows there and training died with "empty
    // corpus" (misread as a fast run by the bench). Seeding must be
    // independent of id layout.
    val emb = Tables.embeddings(spark, sf001)
      .select(($"vec_id" * 100000000L + 7L).as("id"), $"embedding".as("vec"))
    val centroids = IvfIndex.train(emb, "id", "vec", k = 4, iters = 1)
    assert(centroids.length == 4)
    val cb = PqIndex.train(emb, "id", "vec", m = 8, k = 4, iters = 1)
    assert(cb.books.length == 8 && cb.books.forall(_.length == 4))
  }

  test("IVF top-k recall vs brute force with generous probes") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter($"vec_id" < 10)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val corpus = emb.filter($"vec_id" >= 10)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val exact = Similarity.bruteForceTopK(queries, corpus, k = 10)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val ivf = IvfIndex.topK(queries, corpus, centroids, k = 10, nProbe = 4)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall@10 = $recall")
    // probing ALL cells must recover brute force exactly
    val full = IvfIndex.topK(queries, corpus, centroids, k = 10, nProbe = 8)
      .select("qid", "id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full == exact, "nProbe = k cells ⇒ exact")
  }

  test("cell-partitioned corpus: probe is partition pruning, results identical") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter($"vec_id" < 5)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val corpus = emb.filter($"vec_id" >= 5)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val path = java.nio.file.Files.createTempDirectory("ivfidx").toFile.getAbsolutePath
    IvfIndex.writeIndexed(corpus, centroids, path)
    // one directory per cell on disk — the ingest-side layout
    val cellDirs = new java.io.File(path).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(cellDirs > 1, "corpus must be laid out by cell")

    val indexed = IvfIndex.topKIndexed(spark, path, queries, centroids,
      k = 10, nProbe = 2)
    val inline = IvfIndex.topK(queries, corpus, centroids, k = 10, nProbe = 2)
    def key(df: org.apache.spark.sql.DataFrame) =
      df.select("qid", "id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(key(indexed) == key(inline), "indexed probe ≡ inline probe")

    // the probed-cell filter must reach the scan as a PARTITION filter
    // (pruned directories, not a row filter after a full read)
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"probe must prune partitions:\n$plan")
  }

  test("filtered probe: metadata predicate and cell probe compose in ONE scan") {
    import org.apache.spark.sql.functions.round
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("qid"), $"embedding".as("qvec"))
    val corpus = emb.filter($"vec_id" >= 3)
      .select($"vec_id".as("id"), $"embedding".as("vec"), $"label")
    val cents = IvfIndex.train(corpus, "id", "vec", k = 4)
    val path = graft.Staging.dirFor("ivf-filtered")
    IvfIndex.writeIndexed(corpus, cents, path)
    val pred = $"label" % 3 === 0
    val got = IvfIndex.topKIndexedFiltered(spark, path, queries, cents,
      k = 5, nProbe = 4, predicate = pred)
    // exhaustive probe ⇒ exactly brute force over the pre-filtered corpus
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"qid", $"id", round($"score", 6).as("s"), $"rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val brute = Similarity.bruteForceTopK(queries, corpus.filter(pred), k = 5)
    assert(key(got) == key(brute), "filtered probe ≡ brute force over filtered corpus")
    // every ranked row satisfies the predicate (no post-filter starvation)
    val labels = got.join(corpus.select($"id", $"label"), Seq("id"))
      .select("label").collect().map(_.getInt(0))
    assert(labels.nonEmpty && labels.forall(_ % 3 == 0))
    // plan: ONE FileScan carrying BOTH prunings — probed cells as
    // PartitionFilters, the label predicate as PushedFilters
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("cell"),
      s"cell probe must stay a partition filter:\n$plan")
    assert("PushedFilters: \\[[^\\]]*label".r.findFirstIn(plan).isDefined,
      s"label predicate must push into the indexed scan:\n$plan")
  }

  test("writeIndexed layout is cutover-invariant: expression and join forms write identical indexes") {
    val emb = Tables.embeddings(spark, sf001).limit(150)
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    // a k×64 matrix at the cutover by size: writeIndexed assigns through
    // the broadcast join; the expression layout is written directly
    val cents = Array.tabulate(QuantizerRelation.CutoverCells, 64)((c, j) =>
      (((c * 131L + j * 31L + 17L) * 2654435761L) % 2000L) / 1000.0 - 1.0)
    val dExpr = graft.Staging.dirFor("ivf-write-expr")
    val dJoin = graft.Staging.dirFor("ivf-write-join")
    CellIndex.write(emb.withColumn(CellIndex.Col, IvfIndex.bestCell(col("vec"), cents)), dExpr)
    IvfIndex.writeIndexed(emb, cents, dJoin)
    def layout(d: String) = spark.read.parquet(d)
      .select("id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(layout(dExpr) == layout(dJoin),
      "cell layout must not depend on the assignment form")
    assert(spark.read.parquet(dExpr).columns.toSeq ==
      spark.read.parquet(dJoin).columns.toSeq,
      "schema (column order) must match across forms")
  }
}
