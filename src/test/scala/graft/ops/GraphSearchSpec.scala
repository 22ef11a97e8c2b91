package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Query-time graph-ANN beam search ([[NnDescent.searchGraph]]) — the
  * serving half of the graph family. Gates: exhaustive-expansion mode
  * ≡ brute force (the family's standard oracle argument), a recall
  * floor for the pruned production walk, determinism, and the bounded
  * visited-set shape. */
class GraphSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val queries = emb.filter($"vec_id" < 5)
    .select($"vec_id".as("qid"), $"embedding".as("qvec"))
  private lazy val corpus = emb.filter($"vec_id" >= 5)
    .select($"vec_id".as("id"), $"embedding".as("vec"))
  private lazy val graph =
    NnDescent.knnGraph(corpus, k = 5, iters = 3, sample = 10).persist()

  /** Flat-scan baseline under the SAME ranking convention the graph
    * family uses (scores rounded 4 dp BEFORE ranking, ties by id) —
    * [[Similarity.bruteForceTopK]] ranks the raw double, which can
    * order a 4-dp tie differently. */
  private def flatTopK(qs: org.apache.spark.sql.DataFrame,
      corp: org.apache.spark.sql.DataFrame, k: Int): Seq[org.apache.spark.sql.Row] = {
    val scored = corp.crossJoin(broadcast(qs))
      .select($"qid", $"id",
        round(Similarity.cosine($"qvec", $"vec"), 4).as("score"))
    scored.withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("qid").orderBy($"score".desc, $"id")))
      .filter($"rank" <= k)
      .orderBy("qid", "rank").collect().toSeq
  }

  private lazy val brute = flatTopK(queries, corpus, 10)

  test("exhaustive-expansion mode (entries ≥ n) is exactly the flat scan") {
    val n = corpus.count().toInt
    val got = NnDescent.searchGraph(graph, corpus, queries, k = 10,
        entries = n, beam = 5, hops = 0)
      .orderBy("qid", "rank").collect().toSeq
    assert(got == brute, "all-entry expansion must reproduce the flat scan")
    // extra hops cannot change a complete answer (everything is visited)
    val hopped = NnDescent.searchGraph(graph, corpus, queries, k = 10,
        entries = n, beam = 5, hops = 2)
      .orderBy("qid", "rank").collect().toSeq
    assert(hopped == brute)
  }

  // planted 8-cluster fixture shared by the recall and entry-seeding tests
  private lazy val clRows: Seq[(Long, Seq[Float])] = {
    val rnd = new scala.util.Random(13L)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian() * 2))
    (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
  }
  private lazy val cl = clRows.toDF("id", "vec")
  private lazy val clQs = clRows.take(5)
    .map { case (i, v) => (i + 1000L, v) }.toDF("qid", "qvec")
  private lazy val clGraph = NnDescent.knnGraph(cl, k = 5, iters = 3).persist()

  private def recallOf(got: Seq[org.apache.spark.sql.Row],
      truth: Seq[org.apache.spark.sql.Row]): Double = {
    val g = got.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val t = truth.map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    t.map { case (q, s) =>
      g.getOrElse(q, Set.empty).count(s.contains).toDouble / s.size
    }.sum / t.size
  }

  test("the pruned walk clears a recall floor against the flat scan") {
    // Recall through a graph walk is CAPPED by graph quality. The
    // production claim lives where the graph is good — a clustered
    // corpus (the NN-Descent convergence regime); the near-isotropic
    // sf0.01 embeddings are the paper's hard case and get an info line
    // plus a loose floor (the graph itself sits at recall ≈ 0.4 there).
    // entries must COVER the components: a k-NN graph of well-separated
    // clusters is disconnected (all 5-NN edges stay in-cluster), so a
    // walk can only ever reach clusters holding an entry point — with 3
    // entries over 8 clusters the measured recall is exactly the
    // covered fraction (0.40). 16 md5-rank entries cover all 8 here and
    // recall goes to 1.0 (measured); the scaladoc documents the rule.
    val clGot = NnDescent.searchGraph(clGraph, cl, clQs, k = 10,
      entries = 16, beam = 5, hops = 3).collect().toSeq
    val clRecall = recallOf(clGot, flatTopK(clQs, cl, 10))
    info(f"clustered-corpus graph-search recall@10 (entries=16, beam=5, hops=3): $clRecall%.3f")
    assert(clRecall >= 0.9,
      s"beam walk over a converged, entry-covered graph should land the true top-10: $clRecall")
    val clFew = NnDescent.searchGraph(clGraph, cl, clQs, k = 10,
      entries = 3, beam = 5, hops = 3).collect().toSeq
    val clFewRecall = recallOf(clFew, flatTopK(clQs, cl, 10))
    info(f"under-covered entries=3 recall: $clFewRecall%.3f (= covered-component fraction)")
    assert(clFewRecall < clRecall, "entry coverage must be the binding lever here")
  }

  test("IVF-seeded entries cover components STRUCTURALLY (one per cell, overpartitioned)") {
    // standard IVF practice overpartitions (cells ≈ √n, here 16 over 8
    // planted clusters) — a k=8 k-means can merge clusters into one
    // cell (measured: 8 cells cover only ~58% here), 16 cells place a
    // centroid inside every true cluster and the walk goes exact
    val centroids = IvfIndex.train(cl, "id", "vec", k = 16, iters = 3)
    val seeded = NnDescent.entriesFromCells(cl, centroids)
    val nSeeded = seeded.count()
    assert(nSeeded <= 16, s"one entry per cell at most: $nSeeded")
    val truth = flatTopK(clQs, cl, 10)
    val viaSeed = recallOf(NnDescent.searchGraphFrom(clGraph, cl, clQs,
      k = 10, seeded, beam = 5, hops = 3).collect().toSeq, truth)
    info(f"recall via $nSeeded IVF-seeded entries: $viaSeed%.3f")
    assert(viaSeed >= 0.9, s"seeded walk should land the true top-10: $viaSeed")
    // and searchGraphFrom ≡ searchGraph when fed the first 16 nodes of
    // the one global (h, id) window (same hook)
    val md5Head = cl.select($"id",
        Dedup.md5TokenHash60(concat(lit("nnd"), $"id".cast("string"))).as("h"))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"h", $"id")))
      .filter($"r" <= 16).select("id")
    val viaHook = NnDescent.searchGraphFrom(clGraph, cl, clQs, k = 10,
        md5Head, beam = 5, hops = 3)
      .orderBy("qid", "rank").collect().toSeq
    val direct = NnDescent.searchGraph(clGraph, cl, clQs, k = 10,
        entries = 16, beam = 5, hops = 3)
      .orderBy("qid", "rank").collect().toSeq
    assert(viaHook == direct)

    val isoGot = NnDescent.searchGraph(graph, corpus, queries, k = 10,
      entries = 3, beam = 5, hops = 3).collect().toSeq
    val isoRecall = recallOf(isoGot, brute)
    info(f"isotropic graph-search recall@10: $isoRecall%.3f (graph-quality-capped)")
    assert(isoRecall >= 0.2, s"even the hard case must beat chance by far: $isoRecall")
    // more hops never hurt: the visited set only grows
    val deeper = NnDescent.searchGraph(graph, corpus, queries, k = 10,
      entries = 3, beam = 5, hops = 5).collect().toSeq
    val recallDeeper = recallOf(deeper, brute)
    info(f"isotropic graph-search recall@10 at 5 hops: $recallDeeper%.3f")
    assert(recallDeeper >= isoRecall - 1e-9)
  }

  test("deterministic and well-formed: k ranked rows per query, no duplicates") {
    val a = NnDescent.searchGraph(graph, corpus, queries, k = 10,
      entries = 3, beam = 5, hops = 3)
    val rows = a.orderBy("qid", "rank").collect().toSeq
    val again = NnDescent.searchGraph(graph, corpus, queries, k = 10,
        entries = 3, beam = 5, hops = 3)
      .orderBy("qid", "rank").collect().toSeq
    assert(rows == again)
    assert(rows.size == queries.count() * 10)
    assert(a.groupBy("qid").agg(countDistinct("id").as("d"))
      .filter($"d" =!= 10).count() == 0)
    assert(a.groupBy("qid").agg(max("rank").as("m"), min("rank").as("lo"))
      .filter($"m" =!= 10 || $"lo" =!= 1).count() == 0)
  }

  test("on-disk serving index: indexed walk ≡ inline walk; the probe scan prunes to frontier buckets") {
    val path = graft.Staging.dirFor("graph-index-spec")
    NnDescent.writeGraphIndex(clGraph, path, numBuckets = 8)
    val inline = NnDescent.searchGraph(clGraph, cl, clQs, k = 10,
        entries = 16, beam = 5, hops = 3)
      .orderBy("qid", "rank").collect().toSeq
    val indexed = NnDescent.searchGraphIndexed(spark, path, cl, clQs,
        k = 10, entries = 16, beam = 5, hops = 3, numBuckets = 8)
      .orderBy("qid", "rank").collect().toSeq
    assert(indexed == inline,
      "serving from the persisted adjacency must replay the inline walk exactly")
    // plan gate: a frontier-shaped probe reads ONLY its buckets
    // (literal nb partition filters) and pushes the source-id filter
    // into the parquet scan
    val probe = spark.read.parquet(path)
      .filter($"nb".isin(1L, 2L) && $"c".isin(1L, 2L, 10L))
    probe.collect()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("nb"),
      s"bucket predicate must prune partitions:\n$plan")
    assert("PushedFilters: \\[[^\\]]*c".r.findFirstIn(plan).isDefined,
      s"source-id predicate must reach the scan:\n$plan")
  }

  test("cell-seeded walk: indexed ≡ inline; entries respect the per-query budget and come from the query's probed cells") {
    val cents = IvfIndex.train(corpus, "id", "vec", k = 16, iters = 2,
      seed = SelectedSeeds.ivf)
    val inline = NnDescent.searchGraphCellSeeded(graph, corpus, queries,
        k = 10, cents, nCells = 3, perCell = 1, beam = 5, hops = 3)
      .orderBy("qid", "rank").collect().toSeq
    val path = graft.Staging.dirFor("graph-seeded-spec")
    NnDescent.writeGraphIndex(graph, path, numBuckets = 8)
    val indexed = NnDescent.searchGraphIndexedCellSeeded(spark, path,
        corpus, queries, k = 10, cents, nCells = 3, perCell = 1,
        beam = 5, hops = 3, numBuckets = 8)
      .orderBy("qid", "rank").collect().toSeq
    assert(indexed == inline,
      "seeded serving from the persisted adjacency must replay the inline walk")
    assert(inline.nonEmpty && inline.size <= 5 * 10)
    // entry pairs: ≤ nCells × perCell per query, each from a probed cell
    val pairs = NnDescent.cellSeededEntryPairs(corpus, queries, cents,
      nCells = 3, perCell = 2)
    val perQ = pairs.groupBy("qid").count().select("count")
      .as[Long].collect()
    assert(perQ.nonEmpty && perQ.forall(_ <= 6L),
      s"entry budget exceeded: $perQ")
    val withCells = pairs
      .join(corpus.select($"id",
        IvfIndex.bestCell($"vec", cents).as("cell")), Seq("id"))
    val probed = queries.select($"qid",
        explode(IvfIndex.probeCells($"qvec", cents, 3)).as("cell"))
    assert(withCells.join(probed, Seq("qid", "cell"), "left_anti").count() == 0L,
      "every entry must sit in one of its query's probed cells")
  }

  test("filtered serving: exhaustive expansion ≡ brute force over the FILTERED corpus; routing stays unfiltered") {
    val n = corpus.count().toInt
    val pred = $"id" % 3 === 0
    val got = NnDescent.searchGraphFiltered(graph, corpus, queries, k = 10,
        entries = n, beam = 5, hops = 0, predicate = pred)
      .orderBy("qid", "rank").collect().toSeq
    val bruteFiltered = flatTopK(queries, corpus.filter(pred), 10)
    assert(got == bruteFiltered,
      "all-entry filtered expansion must reproduce the filtered flat scan")
    // the pruned walk: every answer satisfies the predicate, and
    // because routing is unfiltered, recall against the filtered truth
    // tracks the unfiltered walk's quality (clustered fixture)
    val clPred = $"id" % 3 === 0
    val clGot = NnDescent.searchGraphFiltered(clGraph, cl, clQs, k = 10,
      entries = 16, beam = 8, hops = 4, predicate = clPred).collect().toSeq
    assert(clGot.forall(_.getLong(1) % 3 == 0),
      "only predicate-passing nodes may rank")
    val clRecall = recallOf(clGot, flatTopK(clQs, cl.filter(clPred), 10))
    info(f"filtered (1/3-selective) pruned-walk recall@10: $clRecall%.3f")
    assert(clRecall >= 0.8,
      s"routing through non-matching nodes must keep filtered recall high: $clRecall")
  }

  test("indexed + filtered compose: the bucket-pruned walk with the answer-side semi-join ≡ the inline filtered walk") {
    val path = graft.Staging.dirFor("graph-index-filtered-spec")
    NnDescent.writeGraphIndex(clGraph, path, numBuckets = 8)
    val pred = $"id" % 3 === 0
    val inline = NnDescent.searchGraphFiltered(clGraph, cl, clQs, k = 10,
        entries = 16, beam = 8, hops = 4, predicate = pred)
      .orderBy("qid", "rank").collect().toSeq
    val indexed = NnDescent.searchGraphIndexedFiltered(spark, path, cl,
        clQs, k = 10, entries = 16, beam = 8, hops = 4, predicate = pred,
        numBuckets = 8)
      .orderBy("qid", "rank").collect().toSeq
    assert(indexed == inline,
      "filtered serving from the store must replay the inline filtered walk exactly")
    assert(indexed.forall(_.getLong(1) % 3 == 0),
      "only predicate-passing nodes may rank")
  }

  test("frontier-size cutover: literal c IN below, broadcast semi-join above — identical results, both plans prune") {
    val path = graft.Staging.dirFor("graph-index-cutover-spec")
    NnDescent.writeGraphIndex(clGraph, path, numBuckets = 8)
    // end-to-end: the same walk on both sides of the cutover
    val below = NnDescent.searchGraphIndexed(spark, path, cl, clQs,
        k = 10, entries = 16, beam = 5, hops = 3, numBuckets = 8)
      .orderBy("qid", "rank").collect().toSeq
    val above = NnDescent.searchGraphIndexed(spark, path, cl, clQs,
        k = 10, entries = 16, beam = 5, hops = 3, numBuckets = 8,
        frontierCutover = 0)
      .orderBy("qid", "rank").collect().toSeq
    assert(above == below,
      "the semi-join form must be row-identical to the literal form")
    // plan shape, probed directly through the expand hook on a
    // frontier-shaped relation
    val adjAll = spark.read.parquet(path)
    val frontier = Seq((0L, 1L), (0L, 2L), (1L, 10L)).toDF("qid", "id")
    val litForm = NnDescent.indexedExpand(adjAll, 8, 1024)(frontier)
    litForm.collect()
    val litPlan = litForm.queryExecution.executedPlan.toString
    assert("PushedFilters: \\[[^\\]]*c".r.findFirstIn(litPlan).isDefined,
      s"below the cutover the source ids must be pushed literals:\n$litPlan")
    val joinForm = NnDescent.indexedExpand(adjAll, 8, 0)(frontier)
    joinForm.collect()
    val joinPlan = joinForm.queryExecution.executedPlan.toString
    assert(!"In\\(c, ".r.findFirstIn(joinPlan).isDefined,
      s"above the cutover no frontier-sized literal IN list may reach the scan:\n$joinPlan")
    assert(joinPlan.contains("BroadcastHashJoin") &&
      joinPlan.toLowerCase.contains("leftsemi"),
      s"above the cutover the id pruning must be a broadcast semi-join:\n$joinPlan")
    assert(joinPlan.contains("PartitionFilters") && joinPlan.contains("nb"),
      s"bucket directory pruning must survive the cutover (literal nb list):\n$joinPlan")
    assert(litForm.collect().toSet == joinForm.collect().toSet)
  }

  test("maintainGraphEpoch refuses an out-of-retention-window replay instead of silently folding future epochs in") {
    val dir = graft.Staging.dirFor("graph-maintain-window")
    val n0 = cl.filter($"id" < 100)
    val n1 = cl.filter($"id" >= 100 && $"id" < 200)
    val n2 = cl.filter($"id" >= 200 && $"id" < 300)
    NnDescent.maintainGraphEpoch(n0, n0, dir, 0L, k = 3, iters = 1)
    NnDescent.maintainGraphEpoch(n1, n0.union(n1), dir, 1L, k = 3, iters = 1)
    // epoch 2's retention (retainStates = 2) deletes state/batch=0
    NnDescent.maintainGraphEpoch(n2, n0.union(n1).union(n2), dir, 2L,
      k = 3, iters = 1)
    assert(!new java.io.File(s"$dir/state/batch=0").exists(),
      "retention must have dropped the oldest snapshot")
    // replaying the IN-window epoch still works (prior = batch=1)
    NnDescent.maintainGraphEpoch(n2, n0.union(n1).union(n2), dir, 2L,
      k = 3, iters = 1)
    // replaying the OUT-of-window epoch must fail loudly, not rebuild
    // a future-contaminated graph under an old epoch id
    val e = intercept[IllegalArgumentException] {
      NnDescent.maintainGraphEpoch(n0, n0.union(n1).union(n2), dir, 0L,
        k = 3, iters = 1)
    }
    assert(e.getMessage.contains("retention"),
      s"the failure must name the retention window: ${e.getMessage}")
  }

  test("epoch append: the store grows to a SUPERSET of the refreshed graph; replay is idempotent") {
    val path = graft.Staging.dirFor("graph-index-epochs")
    val half = cl.filter($"id" < 200)
    val g0 = NnDescent.knnGraph(half, k = 5, iters = 2)
    NnDescent.writeGraphIndex(g0, path, numBuckets = 8, epoch = 0L)
    val delta = cl.filter($"id" >= 200)
    val g1 = NnDescent.appendNodes(g0, cl, delta, k = 5, iters = 2)
    NnDescent.appendGraphIndexEpoch(g1, path, epoch = 1L, numBuckets = 8)
    val stored = spark.read.parquet(path)
      .select("c", "v").as[(Long, Long)].collect().toSet
    val refreshed = g1.select($"id".as("c"), $"nbr".as("v"))
      .union(g1.select($"nbr".as("c"), $"id".as("v")))
      .as[(Long, Long)].collect().toSet
    assert(refreshed.subsetOf(stored),
      "every refreshed undirected edge must be servable from the store")
    // replay of epoch 1 recomputes the same delta (self-exclusion), so
    // the store is unchanged — and a served walk matches the inline
    // walk over the stored relation's graph either way
    NnDescent.appendGraphIndexEpoch(g1, path, epoch = 1L, numBuckets = 8)
    val replayed = spark.read.parquet(path)
      .select("c", "v").as[(Long, Long)].collect().toSet
    assert(replayed == stored, "epoch replay must be idempotent")
  }

  test("the visited set stays bounded: ≤ entries + hops·beam·2k nodes per query") {
    // the scale contract: pruning is structural, not data-dependent —
    // a frontier of `beam` nodes can introduce at most beam·2k new
    // candidates per hop (k out-edges + ≤k reverse edges each)
    val (entries, beam, hops, k) = (3, 5, 3, 5)
    val visited = NnDescent.searchGraph(graph, corpus, queries,
      k = Int.MaxValue - 1, entries = entries, beam = beam, hops = hops)
    val maxVisited = visited.groupBy("qid").count()
      .agg(max("count")).as[Long].collect().head
    val bound = entries + hops * beam * 2 * k
    info(s"max visited per query: $maxVisited (bound $bound)")
    assert(maxVisited <= bound, s"$maxVisited exceeds the structural bound $bound")
  }
}
