package graft.ops

import graft.{EpochStore, Materialize}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** NN-Descent — distributed k-nearest-neighbor GRAPH construction
  * (Dong, Moses & Li, "Efficient k-nearest neighbor graph construction
  * for generic similarity measures", WWW 2011): the graph-index family
  * next to the flat/LSH/IVF/PQ/SQ quantizer families, and the
  * backbone a corpus build wants for connectivity analyses, semantic
  * clustering (the SemDeDup cell alternative) and graph-ANN serving.
  * The principle: "a neighbor of a neighbor is likely a neighbor" —
  * start from an arbitrary graph and repeatedly let every node compare
  * its neighbors' neighborhoods, keeping the k best.
  *
  * Spark-native form — every step relational, no per-node driver state:
  *
  *   - INIT is deterministic pseudo-random: nodes ordered by the
  *     portable md5-60 hash of their id, each adopting k hash-derived
  *     jump targets — a reproducible stand-in for the paper's uniform
  *     random init that the DuckDB oracle replays exactly (and, unlike
  *     a seeded ring, has no locality to stall the descent on).
  *   - Each ITERATION is the paper's LOCAL JOIN: undirect the current
  *     edges, CAP every adjacency at `sample` entries by hash order
  *     (the paper's ρ-sampling — this bounds the quadratic local join
  *     under reverse-degree skew, hub nodes included), emit every
  *     ordered pair inside one adjacency as a candidate edge, then keep
  *     each node's top-k by cosine over old ∪ candidate edges. Two
  *     exchanges per iteration (the undirect-dedup and the per-node
  *     top-k), both map-side combinable.
  *   - Convergence: the per-node neighborhood quality is monotone by
  *     construction (old edges compete in every refresh); the paper
  *     reports ~log(n) sweeps to high recall — callers pick `iters`.
  *
  * Cross-engine determinism: the ring init is pure md5-60; every score
  * is one codegen'd cosine on identical operands, rounded 4 dp on BOTH
  * engines BEFORE ranking (the tf-idf/Gumbel discipline) so top-k ties
  * break identically on (score desc, neighbor id).
  */
object NnDescent {

  private def cosRounded(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    round(Similarity.cosine(a, b), 4)

  /** (id, h) with h = md5-60(seed ‖ id): (h, id) is the deterministic
    * node order the init ranks by and the entry head is cut from — a
    * pure function of (seed, id-set) the DuckDB oracle replays with one
    * ranking window. */
  private def hashed(nodes: DataFrame, seed: String): DataFrame =
    nodes.select(col("id"),
      Dedup.md5TokenHash60(concat(lit(seed), col("id").cast("string"))).as("h"))

  /** The first `entries` nodes in (h, id) order — the query-independent
    * entry points of every md5-seeded graph walk. */
  private def entryHead(nodes: DataFrame, entries: Int, seed: String): DataFrame =
    Rank.head(hashed(nodes, seed), entries, col("h"), col("id")).select("id")

  /** (id, r): the nodes ranked 1..n in (h, id) order — [[Rank.prefix]]
    * over the top 10 bits of h, which are monotone in h, so no window
    * ranks the whole node set. */
  private[ops] def initRank(nodes: DataFrame, seed: String): DataFrame =
    Rank.prefix(hashed(nodes, seed), shiftright(col("h"), 50), lit(1L), "before")(
        col("h"), col("id"))
      .select(col("id"), (col("before") + 1).as("r"))

  /** Deterministic pseudo-RANDOM init: nodes ranked by [[initRank]],
    * each adopting k hash-derived JUMP targets (jump ∈ [1, n−1] from
    * md5(seed, rank, j)). A seeded ring would be far simpler but is
    * pathologically LOCAL — every co-neighborhood lies within ±k ring
    * positions, so the local join only ever meets ring-adjacent nodes
    * and convergence stalls (measured: recall 0.04 after a sweep).
    * Random jumps restore the paper's uniform init while staying an
    * exact function of (seed, rank, j) the oracle replays. Duplicate
    * jump targets collapse (DISTINCT), so a node may start with < k
    * neighbors — the first sweep's top-k refills.
    *
    * `use` receives the lazy init edges; the rank relation they read is
    * released when it returns. */
  private[ops] def randomInit[R](nodes: DataFrame, k: Int, seed: String)(
      use: DataFrame => R): R = {
    // The rank relation feeds the jump derivation AND the r2-lookup join
    // below — materialize once so the bucketed rank window (a corpus
    // pass) isn't replayed per reference.
    val ranked = Materialize(initRank(nodes, seed))
    try {
      // an RDD count of the checkpoint is one job; `Dataset.count` adds
      // an exchange and a second
      val n = ranked.queryExecution.toRdd.count()
      require(n >= 2, s"NN-Descent needs >= 2 nodes (jump ∈ [1, n−1]); got $n")
      val offDf = nodes.sparkSession.range(1, k + 1).toDF("j")
      use(ranked.crossJoin(broadcast(offDf))
        .withColumn("jump", pmod(Dedup.md5TokenHash60(concat(lit(seed),
          col("r").cast("string"), lit("_"), col("j").cast("string"))),
          lit(n - 1)) + 1)
        .withColumn("r2", pmod(col("r") - 1 + col("jump"), lit(n)) + 1)
        .join(ranked.select(col("r").as("r2"), col("id").as("nbr")), Seq("r2"))
        .filter(col("id") =!= col("nbr"))
        .select("id", "nbr").distinct())
    } finally Materialize.release(ranked)
  }

  /** One NN-Descent sweep over the scored edge set (id, nbr, score):
    * undirect → hash-capped adjacencies → local join → top-k refresh. */
  private[ops] def sweep(edges: DataFrame, nodes: DataFrame, k: Int,
      sample: Int, seed: String): DataFrame = {
    // One c-keyed exchange serves BOTH the undirect-dedup and the cap
    // window (HashPartitioning(c) satisfies the (c,v) dedup's clustering
    // AND the window's) — the previous distinct() paid a second full
    // (c,v) exchange of the same rows just to land them back on c.
    val und = edges.select(col("id").as("c"), col("nbr").as("v"))
      .union(edges.select(col("nbr").as("c"), col("id").as("v")))
      .repartition(col("c"))
      .dropDuplicates("c", "v")
    // ρ-sampling: cap each adjacency at `sample` members by hash order —
    // bounds the per-node local join under reverse-degree skew. The
    // WindowGroupLimit keeps the per-group state bounded even for hub
    // nodes; only AFTER the cap is a per-c array bounded (≤ sample), so
    // the pair emission can fold into ONE aggregation on the same
    // c-partitioning — the previous capped⋈capped self-join re-ran the
    // window on both sides and paid the join machinery for pairs that
    // a bounded array explode produces for free.
    val capped = und.withColumn("hr", row_number().over(
        Window.partitionBy(col("c")).orderBy(
          Dedup.md5TokenHash60(concat(lit(seed), col("c").cast("string"),
            lit("_"), col("v").cast("string"))), col("v"))))
      .filter(col("hr") <= sample)
      .select("c", "v")
    // Candidate dedup lands directly on the id partitioning the vector
    // join needs (HashPartitioning(id) satisfies the (id, nbr) dedup),
    // instead of a (id, nbr) exchange followed by a second id exchange;
    // the hot-id concentration is the same the id-join pays anyway.
    val cands = capped.groupBy(col("c"))
      .agg(collect_list(col("v")).as("vs"))
      .select(explode(col("vs")).as("id"), col("vs"))
      .select(col("id"), explode(col("vs")).as("nbr"))
      .filter(col("id") =!= col("nbr"))
      .repartition(col("id"))
      .dropDuplicates("id", "nbr")
    val scoredCands = cands
      .join(nodes.select(col("id"), col("vec")), Seq("id"))
      .join(nodes.select(col("id").as("nbr"), col("vec").as("nvec")), Seq("nbr"))
      .select(col("id"), col("nbr"), cosRounded(col("vec"), col("nvec")).as("score"))
    val all = edges.select("id", "nbr", "score").union(scoredCands)
      .groupBy("id", "nbr").agg(max("score").as("score"))
    Skew.saltedTopK(all, Seq("id"), Seq(col("score").desc, col("nbr").asc), k,
        saltBy = col("nbr"))
      .select(col("id"), col("nbr"), col("score"), col("rank"))
  }

  /** Epoch append — the graph index's frozen-quantizer lifecycle
    * analogue ([[IvfPq.appendIndexEpoch]]'s stance, adapted to a
    * structure that has no frozen codebook): `delta` nodes receive
    * md5-jump init edges over the UNION node set, then `iters` local-
    * join sweeps run over (existing graph ∪ delta init). Old nodes KEEP
    * their edges and may adopt new arrivals through the local join —
    * that is the correct maintenance semantics (a better neighbor that
    * just arrived must become visible graph-wide), and the monotone
    * top-k refresh means an append can only improve any node's
    * neighborhood. Deterministic: the delta init is a pure function of
    * (seed, union ranking), the sweeps of the edge set.
    *
    * Returns the refreshed full graph (id, nbr, score, rank). */
  def appendNodes(graph: DataFrame, allNodes: DataFrame, delta: DataFrame,
      k: Int, iters: Int, sample: Int = 0, seed: String = "nnd"): DataFrame = {
    require(iters >= 1 && k >= 1)
    val cap = if (sample > 0) sample else 2 * k
    randomInit(allNodes, k, seed) { init =>
      val deltaInit = init
        .join(delta.select(col("id")), Seq("id"), "left_semi")
        .join(allNodes.select(col("id"), col("vec")), Seq("id"))
        .join(allNodes.select(col("id").as("nbr"), col("vec").as("nvec")), Seq("nbr"))
        .select(col("id"), col("nbr"), cosRounded(col("vec"), col("nvec")).as("score"))
      val seeded = graph.select(col("id"), col("nbr"), col("score"))
        .union(deltaInit)
        .groupBy("id", "nbr").agg(max("score").as("score"))
      val g = Skew.saltedTopK(seeded, Seq("id"),
          Seq(col("score").desc, col("nbr").asc), k, saltBy = col("nbr"))
        .select(col("id"), col("nbr"), col("score"), col("rank"))
      Materialize.iterate(g, iters)(sweep(_, allNodes, k, cap, seed))
    }
  }

  /** Query-time GRAPH-ANN search over a built k-NN graph — the SERVING
    * half of the graph family (the greedy/beam routing HNSW and DiskANN
    * run), so the graph index has a probe path like every other family
    * ([[IvfSq.topK]], [[IvfIndex.topKIndexed]], PQ ADC). Spark-native
    * form: iterative FRONTIER EXPANSION as ≤ `hops` broadcast-joined
    * rounds against the undirected edge relation — per hop, the current
    * beam's neighbors are gathered, never-visited ones scored, the best
    * `beam` become the next frontier, and the answer is the top-k of
    * everything visited.
    *
    *   - ENTRY points are the md5-order head ([[Rank.head]] in the
    *     same (h, id) order the init ranks by), query-independent.
    *   - Each hop's frontier is (queries × beam) rows — broadcast onto
    *     the edge relation, so the only data-sized side is the edge
    *     scan and no hop shuffles the corpus. Visited sets stay
    *     ≤ queries × (entries + hops·beam·2k) rows by construction.
    *   - The walk uses the UNDIRECTED adjacency (a reverse edge reaches
    *     a node whose own top-k never adopted us — standard in graph
    *     ANN serving; mirrors the sweep's undirect step).
    *
    * Exhaustive-expansion mode (`entries` ≥ n) degenerates to scoring
    * every node — ≡ brute force, the family's standard oracle gate;
    * the pruned configuration's recall floor is spec-gated
    * (GraphSearchSpec). Deterministic end-to-end: scores rounded 4 dp
    * before every ranking, ties break on id — the DuckDB oracle
    * replays the entire walk hop by hop.
    *
    * SIZING `entries`: the walk can only reach nodes CONNECTED to an
    * entry point, and a k-NN graph of well-separated clusters is
    * disconnected by construction (every top-k edge stays in-cluster)
    * — measured on the 8-cluster spec fixture, recall with 3 entries
    * is exactly the covered-component fraction (0.40) and goes to 1.0
    * at 16 entries. Size `entries` ≥ a few × the expected cluster
    * count, or seed one entry per IVF cell ([[entriesFromCells]] +
    * [[searchGraphFrom]]) when a coarse quantizer already exists — the
    * single-layer analogue of HNSW's upper-layer routing; overpartition
    * the quantizer (cells ≈ √n) so no true cluster shares a cell
    * (GraphSearchSpec: 16 seeded entries go exact where 8 cover 58%).
    *
    * @param graph   (id, nbr, …) — a [[knnGraph]] result
    * @param nodes   (id, vec)    — the indexed corpus
    * @param queries (qid, qvec)  — small; broadcast
    * @return (qid, id, score, rank) with rank ∈ [1, k] */
  def searchGraph(graph: DataFrame, nodes: DataFrame, queries: DataFrame,
      k: Int, entries: Int, beam: Int, hops: Int,
      seed: String = "nnd"): DataFrame = {
    searchGraphFrom(graph, nodes, queries, k, entryHead(nodes, entries, seed),
      beam, hops)
  }

  /** ONE entry point per coarse-quantizer cell — the node closest to
    * its cell centroid (4-dp cosine, ties by id): entry coverage
    * follows the corpus's OWN cluster structure instead of md5 luck
    * (the [[searchGraph]] coverage rule's recommended form when an IVF
    * index already exists). On the 8-cluster spec fixture, 8 seeded
    * entries match what 16 md5 entries buy (GraphSearchSpec measures
    * both). Per-cell top-1 window — partitions = cells, each bounded
    * by its cell population. */
  def entriesFromCells(nodes: DataFrame,
      centroids: Array[Array[Double]]): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val cells = IvfIndex.assignCells(nodes, "id", "vec", centroids)
    val cdf = centroids.toIndexedSeq.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toDF("cell", "cvec")
    val w = Window.partitionBy(col("cell"))
      .orderBy(cosRounded(col("vec"), col("cvec")).desc, col("id"))
    cells.join(broadcast(cdf), Seq("cell"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("id")
  }

  /** The UNDIRECTED adjacency of a [[knnGraph]] result: (c, v) with
    * both edge directions present, deduplicated. One union + one
    * DISTINCT exchange over the edge set. */
  private def undirected(graph: DataFrame): DataFrame =
    graph.select(col("id").as("c"), col("nbr").as("v"))
      .union(graph.select(col("nbr").as("c"), col("id").as("v")))
      .distinct()

  /** The shared beam walk: score entries, then ≤ `hops` rounds of
    * expand-never-visited → score → beam cut; answer is the top-k of
    * everything visited. `expand` maps the current (qid, id) frontier
    * to candidate (qid, id) rows — the inline form joins the
    * checkpointed undirected relation, the indexed form prunes the
    * on-disk layout to the frontier's node buckets. */
  private def topPerQ(scored: DataFrame, m: Int): DataFrame =
    scored.withColumn("rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))))
      .filter(col("rank") <= m)

  /** The walk's VISITED relation (qid, id, score) — every node any
    * hop scored. Exposed separately so the plain and the
    * metadata-FILTERED answer selections share one walk. */
  private def beamWalkVisited(nodes: DataFrame, queries: DataFrame,
      entryIds: DataFrame, beam: Int, hops: Int,
      expand: DataFrame => DataFrame): DataFrame =
    beamWalkVisitedPairs(nodes, queries,
      queries.select("qid").crossJoin(entryIds.select("id")),
      beam, hops, expand)

  /** [[beamWalkVisited]] from PER-QUERY entry pairs (qid, id) — the
    * hook the cell-seeded walk needs: each query starts from its OWN
    * entry set instead of a shared one. The shared-entry form is the
    * crossJoin special case above. */
  private def beamWalkVisitedPairs(nodes: DataFrame, queries: DataFrame,
      entryPairs: DataFrame, beam: Int, hops: Int,
      expand: DataFrame => DataFrame): DataFrame = {
    def score(cand: DataFrame): DataFrame =
      cand.join(nodes.select(col("id"), col("vec")), Seq("id"))
        .join(broadcast(queries.select(col("qid"), col("qvec"))), Seq("qid"))
        .select(col("qid"), col("id"), cosRounded(col("qvec"), col("vec")).as("score"))
    // Visited is kept as the LAZY union of per-hop checkpointed parts:
    // each hop materializes only ITS newly scored rows (one action per
    // hop) instead of re-checkpointing the whole accumulated visited
    // relation every hop (hops× re-copies of the same rows — a third of
    // the walk's jobs for nothing; the parts are already on blocks, so
    // the anti-join and the final top-k read them for free). The
    // per-hop beam rank is folded INTO the checkpointed relation, so
    // the next hop's frontier (and its expand-side collect) is a
    // filter over blocks rather than a fresh window job.
    def ranked(df: DataFrame): DataFrame =
      df.withColumn("hop_rank", row_number().over(
        Window.partitionBy(col("qid")).orderBy(col("score").desc, col("id"))))
    var parts = List(
      Materialize(ranked(score(entryPairs.select("qid", "id")))))
    def visitedAll: DataFrame =
      parts.map(_.select("qid", "id", "score")).reduceLeft(_ union _)
    def beamOf(part: DataFrame): DataFrame =
      part.filter(col("hop_rank") <= beam).select("qid", "id")
    var frontier = beamOf(parts.head)
    (1 to hops).foreach { _ =>
      val cand = expand(frontier)
        .join(visitedAll.select("qid", "id"), Seq("qid", "id"), "left_anti")
      val sc = Materialize(ranked(score(cand)))
      parts ::= sc
      frontier = beamOf(sc)
    }
    visitedAll
  }

  private def beamWalk(nodes: DataFrame, queries: DataFrame, k: Int,
      entryIds: DataFrame, beam: Int, hops: Int,
      expand: DataFrame => DataFrame): DataFrame =
    topPerQ(beamWalkVisited(nodes, queries, entryIds, beam, hops, expand), k)
      .select("qid", "id", "score", "rank")

  /** [[searchGraph]] from an EXPLICIT entry relation (one `id` column)
    * — the hook for quantizer-seeded or otherwise curated entries.
    * The undirected edge relation is materialized ONCE
    * (localCheckpoint) before the hop loop — each hop's frontier join
    * reads the checkpointed blocks, never re-running the union+distinct
    * exchange (hops× the single edge pass otherwise; most of the
    * round-16 `ann_graph_search` wall). */
  def searchGraphFrom(graph: DataFrame, nodes: DataFrame,
      queries: DataFrame, k: Int, entryIds: DataFrame, beam: Int,
      hops: Int): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val und = if (hops > 0) Materialize(undirected(graph))
      else undirected(graph)
    beamWalk(nodes, queries, k, entryIds, beam, hops, frontier =>
      broadcast(frontier.select(col("qid"), col("id").as("c")))
        .join(und, Seq("c"))
        .select(col("qid"), col("v").as("id")).distinct())
  }

  /** IVF-CELL-SEEDED entry pairs — the scale-adaptive entry selection
    * the uniform draw lacks (the round-18 missing #5): as the corpus
    * grows, `entries` md5-rank-uniform nodes start ever FARTHER from
    * any given query and recall at a fixed hop budget decays; seeding
    * from the query's own neighborhood keeps the first hop already
    * near the answer — the HNSW-lite move, reusing the coarse
    * quantizer the serving stack already commits instead of building
    * a layer hierarchy. Per query: its `nCells` nearest coarse cells
    * ([[IvfIndex.probeCells]] — the probe rule the IVF family
    * serves with), and per cell the `perCell` top nodes by the
    * portable md5-60 rank of `"gw" ‖ id` (deterministic, engine-
    * replayable, uniform WITHIN the cell — which node in the right
    * neighborhood matters far less than being in it). Entry budget =
    * nCells · perCell per query, directly comparable to `entries`.
    * The per-cell top relation is duplicate-structure-free and
    * cell-count-sized after the rank cut — it broadcasts; the one
    * corpus-sized step is the cell assignment scan, shared with the
    * IVF family's own ingest. */
  def cellSeededEntryPairs(nodes: DataFrame, queries: DataFrame,
      centroids: Array[Array[Double]], nCells: Int,
      perCell: Int): DataFrame = {
    require(nCells >= 1 && perCell >= 1)
    val byCell = nodes
      .withColumn("cell", IvfIndex.bestCell(col("vec"), centroids))
      .withColumn("h", Dedup.md5TokenHash60(
        concat(lit("gw"), col("id").cast("string"))))
      .withColumn("r", row_number().over(
        Window.partitionBy(col("cell")).orderBy(col("h"), col("id"))))
      .filter(col("r") <= perCell)
      .select(col("cell"), col("id"))
    queries
      .withColumn("cell", explode(IvfIndex.probeCells(col("qvec"),
        centroids, math.min(nCells, centroids.length))))
      .select(col("qid"), col("cell"))
      .join(broadcast(byCell), Seq("cell"))
      .select(col("qid"), col("id"))
  }

  /** [[searchGraphFrom]] with [[cellSeededEntryPairs]] entries. */
  def searchGraphCellSeeded(graph: DataFrame, nodes: DataFrame,
      queries: DataFrame, k: Int, centroids: Array[Array[Double]],
      nCells: Int, perCell: Int, beam: Int, hops: Int): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val und = if (hops > 0) Materialize(undirected(graph))
      else undirected(graph)
    topPerQ(beamWalkVisitedPairs(nodes, queries,
        cellSeededEntryPairs(nodes, queries, centroids, nCells, perCell),
        beam, hops, frontier =>
          broadcast(frontier.select(col("qid"), col("id").as("c")))
            .join(und, Seq("c"))
            .select(col("qid"), col("v").as("id")).distinct()), k)
      .select("qid", "id", "score", "rank")
  }

  /** [[searchGraphIndexedFrom]] with [[cellSeededEntryPairs]] entries
    * — the serving form: same bucket-pruned hops, entry pairs from
    * the committed quantizer. */
  def searchGraphIndexedCellSeeded(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nodes: DataFrame, queries: DataFrame, k: Int,
      centroids: Array[Array[Double]], nCells: Int, perCell: Int,
      beam: Int, hops: Int, numBuckets: Int = DefaultGraphBuckets,
      frontierCutover: Int = DefaultFrontierCutover): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val adjAll = spark.read.parquet(indexPath)
    topPerQ(beamWalkVisitedPairs(nodes, queries,
        cellSeededEntryPairs(nodes, queries, centroids, nCells, perCell),
        beam, hops, indexedExpand(adjAll, numBuckets, frontierCutover)), k)
      .select("qid", "id", "score", "rank")
  }

  /** METADATA-FILTERED graph serving — the graph family's
    * [[IvfIndex.topKIndexedFiltered]]: only nodes satisfying
    * `predicate` (a relational condition over the `nodes` columns) may
    * RANK, but the walk ROUTES through the FULL adjacency. Routing
    * must not be filtered: a k-NN graph restricted to a selective
    * predicate fragments (matching islands reachable only through
    * non-matching nodes vanish — the Filtered-DiskANN lesson), so the
    * beam expands over everything and the predicate applies to the
    * ANSWER selection only. Guaranteeing k qualified answers under a
    * σ-selective predicate means visiting ~k/σ nodes — size beam/hops
    * up accordingly (exhaustive expansion degenerates to brute force
    * over the filtered corpus, the family's oracle gate;
    * GraphSearchSpec pins both). */
  def searchGraphFiltered(graph: DataFrame, nodes: DataFrame,
      queries: DataFrame, k: Int, entries: Int, beam: Int, hops: Int,
      predicate: Column, seed: String = "nnd"): DataFrame = {
    searchGraphFilteredFrom(graph, nodes, queries, k,
      entryHead(nodes, entries, seed), beam, hops, predicate)
  }

  /** [[searchGraphFiltered]] from an explicit entry relation. */
  def searchGraphFilteredFrom(graph: DataFrame, nodes: DataFrame,
      queries: DataFrame, k: Int, entryIds: DataFrame, beam: Int,
      hops: Int, predicate: Column): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val und = if (hops > 0) Materialize(undirected(graph))
      else undirected(graph)
    val visited = beamWalkVisited(nodes, queries, entryIds, beam, hops,
      frontier => broadcast(frontier.select(col("qid"), col("id").as("c")))
        .join(und, Seq("c"))
        .select(col("qid"), col("v").as("id")).distinct())
    val admissible = nodes.filter(predicate).select(col("id"))
    topPerQ(visited.join(admissible, Seq("id"), "left_semi"), k)
      .select("qid", "id", "score", "rank")
  }

  /** Node-id buckets for the on-disk graph layout. 64 keeps a gate-
    * scale index at a handful of files per epoch; a 10⁹-node corpus
    * wants ~10³–10⁴ so each bucket stays a few GB. */
  val DefaultGraphBuckets: Int = 64

  private def bucketOf(c: Column, numBuckets: Int): Column =
    pmod(c.cast("long"), lit(numBuckets.toLong))

  /** Persist a [[knnGraph]]'s UNDIRECTED adjacency as the graph
    * family's on-disk SERVING index — the [[IvfIndex.writeIndexed]] /
    * [[Similarity.writeLshBucketed]] lifecycle story for graphs.
    * Layout: `batch=<epoch>/nb=<bucket>/` parquet of (c, v), bucketed
    * by `nb = pmod(c, numBuckets)` and sorted by c within files, so a
    * probe reads ONLY the frontier's buckets (literal partition
    * filters) and row-group stats prune within them. Node ids must be
    * numeric (every ANN corpus here keys on long ids) — the probe
    * recomputes the bucket driver-side for the pruning literals.
    * Epoch discipline: overwrite-by-epoch ([[graft.streaming.IngestGate]]
    * convention), so replays are idempotent; [[Compaction.compactEpochs]]
    * and [[Retraction.retract]] (on BOTH edge columns — see
    * [[Retraction.retractAll]]) apply generically to the layout. */
  def writeGraphIndex(graph: DataFrame, path: String,
      numBuckets: Int = DefaultGraphBuckets, epoch: Long = 0L): Unit = {
    require(numBuckets > 0)
    writeEdges(undirected(graph), path, epoch, numBuckets)
  }

  /** Lands undirected (c, v) edges as one epoch of the serving index. */
  private def writeEdges(edges: DataFrame, path: String, epoch: Long,
      numBuckets: Int): Unit =
    EpochStore.write(edges
      .withColumn("nb", bucketOf(col("c"), numBuckets))
      .repartition(col("nb"))
      .sortWithinPartitions("c"), path, epoch, "nb")

  /** Epoch APPEND for the graph index: the undirected edges of a
    * refreshed graph ([[appendNodes]]' result) that are NOT yet in the
    * store land in `batch=<epoch>`. Append-only maintenance makes the
    * served adjacency a SUPERSET of the refreshed graph (edges a
    * refresh dropped stay until compaction/rebuild): beam search only
    * GAINS reachability from extra edges — recall is monotone, the
    * standard DiskANN/HNSW incremental stance — and visited-set growth
    * is bounded by the stale fraction. Reads exclude `batch = epoch`
    * itself so a replay recomputes the same delta instead of
    * self-cancelling ([[EpochStore.prior]]); on an empty store every
    * edge is new. Periodic rebuild = [[writeGraphIndex]] (full
    * overwrite). */
  def appendGraphIndexEpoch(refreshed: DataFrame, path: String,
      epoch: Long, numBuckets: Int = DefaultGraphBuckets): Unit = {
    val edges = undirected(refreshed)
    val fresh = EpochStore.prior(refreshed.sparkSession, path, epoch) match {
      case Some(store) =>
        edges.join(store.select("c", "v"), Seq("c", "v"), "left_anti")
      case None => edges
    }
    writeEdges(fresh, path, epoch, numBuckets)
  }

  /** Frontier-size cutover for the indexed walk's per-hop pruning
    * form: at or below it, the frontier's distinct node ids become
    * literal `c IN (...)` filters (static row-group pruning, zero extra
    * exchange — right while the plan stays small); above it — a large
    * standing-query batch, 10⁴ queries × beam 10 would put 10⁵ literals
    * in the plan per hop — the id list switches to a broadcast
    * semi-join on `c`, while directory pruning keeps a LITERAL `nb`
    * filter either way (distinct buckets are ≤ `numBuckets` values no
    * matter how large the frontier, so that list never grows). The
    * same polarity as [[QuantizerRelation.CutoverCells]]: literals in
    * the plan below, data on the broadcast bus above.
    *
    * Where the default sits, and why (SCALING.md "Round 18", sf0.1,
    * 1,995-node index, batches 50/500/1,995 queries): the literal form
    * measured FASTER throughout gate scale — 3.2/3.8/6.0 s vs the
    * semi-join's 5.3/5.9/10.1 s — because the semi-join adds two
    * exchanges per hop while every relation is still small; no
    * wall-clock crossover is reachable on the gate corpus. The cutover
    * exists for the asymmetric risk past it: the literal path also
    * COLLECTS the frontier ids (a driver round-trip growing linearly)
    * and inflates the plan per hop, which at 10⁶-query batches becomes
    * driver memory pressure and analyzer cost with a hard-failure mode,
    * while the semi-join's overhead stays the same bounded 2–4 s of
    * per-hop job latency that real batch sizes amortize. 1024 keeps
    * every interactive workload on the measured-faster literal path and
    * caps the plan at ~10³ literals before the failure-mode regime. */
  val DefaultFrontierCutover: Int = 1024

  /** The indexed walk's per-hop expansion against a
    * [[writeGraphIndex]] layout, with the [[DefaultFrontierCutover]]
    * dispatch. One bounded action per hop on either side: below the
    * cutover the distinct frontier ids themselves (≤ cutover values);
    * above it only the distinct BUCKET list (≤ `numBuckets` values) —
    * never a frontier-sized collect. Both sides prune only, so results
    * are row-identical (GraphSearchSpec pins plan shape and equality
    * across the cutover). */
  private[ops] def indexedExpand(adjAll: DataFrame, numBuckets: Int,
      frontierCutover: Int): DataFrame => DataFrame = { frontier =>
    val idsRel = frontier.select("id").distinct()
    // LIMIT cutover+1: a bounded probe — when it fits, we already hold
    // the complete id set for the literal form; when it spills over,
    // the values are discarded and only the bucket list is collected
    // (saturating +1: a cutover of Int.MaxValue means "always literal")
    val probeLimit =
      if (frontierCutover >= Int.MaxValue) Int.MaxValue
      else frontierCutover + 1
    val probe = idsRel.limit(probeLimit).collect().map(_.get(0))
    val adj =
      if (probe.length <= frontierCutover) {
        val buckets = probe
          .map(v => java.lang.Long.valueOf(
            Math.floorMod(v.asInstanceOf[Number].longValue(), numBuckets.toLong)))
          .distinct
        adjAll
          .filter(col("nb").isin(buckets.toIndexedSeq: _*) &&
            col("c").isin(probe.toIndexedSeq: _*))
          .select(col("c"), col("v")).distinct()
      } else {
        val buckets = idsRel
          .select(bucketOf(col("id"), numBuckets).as("nb")).distinct()
          .collect().map(r => java.lang.Long.valueOf(r.getLong(0)))
        adjAll
          .filter(col("nb").isin(buckets.toIndexedSeq: _*))
          .join(broadcast(idsRel.select(col("id").as("c"))), Seq("c"),
            "left_semi")
          .select(col("c"), col("v")).distinct()
      }
    broadcast(frontier.select(col("qid"), col("id").as("c")))
      .join(adj, Seq("c"))
      .select(col("qid"), col("v").as("id")).distinct()
  }

  /** [[searchGraphFrom]] served from a [[writeGraphIndex]] layout —
    * the graph family's probe path. Per hop, the frontier (queries ×
    * beam rows, model-sized by construction) prunes the adjacency scan
    * to its buckets (literal `nb` partition filters) AND its exact
    * source ids — pushed `c IN (...)` row-group filters below
    * [[DefaultFrontierCutover]], a broadcast semi-join on `c` above it
    * ([[indexedExpand]]) — so the only data-sized relation any hop
    * touches is the handful of bucket files the frontier lands in,
    * the [[IvfIndex.topKIndexed]] probed-cells discipline. Identical
    * results to the inline walk (the store holds the same undirected
    * relation; GraphSearchSpec pins indexed ≡ inline). */
  def searchGraphIndexedFrom(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nodes: DataFrame, queries: DataFrame, k: Int,
      entryIds: DataFrame, beam: Int, hops: Int,
      numBuckets: Int = DefaultGraphBuckets,
      frontierCutover: Int = DefaultFrontierCutover): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val adjAll = spark.read.parquet(indexPath)
    beamWalk(nodes, queries, k, entryIds, beam, hops,
      indexedExpand(adjAll, numBuckets, frontierCutover))
  }

  /** METADATA-FILTERED serving from the INDEXED graph —
    * [[searchGraphFilteredFrom]]'s answer-side predicate semi-join
    * composed with [[searchGraphIndexedFrom]]'s bucket-pruned walk.
    * The two concerns are independent by design: routing expands over
    * the FULL stored adjacency (filtered routing fragments the graph —
    * the Filtered-DiskANN stance documented on
    * [[searchGraphFiltered]]), while only predicate-matching nodes may
    * RANK; the semi-join touches the walk's visited relation
    * (queries × beam × hops rows, model-sized), never the store.
    * Result ≡ [[searchGraphFilteredFrom]] row for row when the store
    * holds the same graph (the family's indexed-≡-inline contract;
    * GraphSearchSpec pins it plus both prunings in the plan). */
  def searchGraphIndexedFilteredFrom(
      spark: org.apache.spark.sql.SparkSession, indexPath: String,
      nodes: DataFrame, queries: DataFrame, k: Int, entryIds: DataFrame,
      beam: Int, hops: Int, predicate: Column,
      numBuckets: Int = DefaultGraphBuckets,
      frontierCutover: Int = DefaultFrontierCutover): DataFrame = {
    require(k >= 1 && beam >= 1 && hops >= 0)
    val adjAll = spark.read.parquet(indexPath)
    val visited = beamWalkVisited(nodes, queries, entryIds, beam, hops,
      indexedExpand(adjAll, numBuckets, frontierCutover))
    val admissible = nodes.filter(predicate).select(col("id"))
    topPerQ(visited.join(admissible, Seq("id"), "left_semi"), k)
      .select("qid", "id", "score", "rank")
  }

  /** ONE epoch of serving-index MAINTENANCE from an arrival delta —
    * the routine a streaming gate or monitor calls per micro-batch
    * (the graph analogue of [[IvfPq.appendIndexEpoch]], which freezes
    * its quantizers; a graph has no codebook, so maintenance REFRESHES
    * instead): [[appendNodes]] folds the delta into the latest graph
    * snapshot (cold start: [[knnGraph]] over everything), the refreshed
    * graph's NEW undirected edges land in the serving index under
    * `dir/index/batch=<id>` ([[appendGraphIndexEpoch]] — so the served
    * adjacency is a superset of the refreshed graph and walk recall is
    * monotone under append-only maintenance), and the refreshed graph
    * itself is snapshotted under `dir/state/batch=<id>` as the next
    * epoch's input.
    *
    * Replay idempotence: the state read takes the latest snapshot
    * BELOW `batchId` (a replayed epoch re-reads its original input,
    * never its own committed output) and both writes are
    * overwrite-by-epoch. State retention: snapshots are full-graph
    * sized, so only the last `retainStates` are kept (default 2 — the
    * current epoch plus the one a Structured Streaming retry of the
    * in-flight epoch would need; older snapshots can never be read
    * again). `allNodes` must be the accumulated corpus INCLUDING the
    * delta. Returns the refreshed graph. */
  def maintainGraphEpoch(delta: DataFrame, allNodes: DataFrame,
      dir: String, batchId: Long, k: Int, iters: Int,
      numBuckets: Int = DefaultGraphBuckets,
      retainStates: Int = 2): DataFrame = {
    require(retainStates >= 2, s"need current+prior snapshots, got $retainStates")
    val spark = delta.sparkSession
    val state = s"$dir/state"
    val allStates = EpochStore.epochs(spark, state)
    val priorEpochs = allStates.filter(_ < batchId)
    // Replay-window guard: a cold start is legitimate ONLY on a fresh
    // store (or a replay of the very first epoch, whose "prior input"
    // IS the cold start). If LATER snapshots exist but this epoch's
    // prior was retention-deleted, silently rebuilding from allNodes
    // would fold FUTURE epochs' nodes into this epoch's output —
    // contradicting the replay contract — so fail loudly instead.
    require(priorEpochs.nonEmpty || allStates.forall(_ <= batchId),
      s"maintainGraphEpoch($batchId): the prior state snapshot was " +
        s"retention-deleted (state holds epochs $allStates) — an epoch " +
        "outside the retention window cannot be replayed faithfully; " +
        "rebuild the store or raise retainStates")
    // the last sweep's checkpoint feeds the snapshot AND the index delta
    val out = priorEpochs.lastOption match {
      case Some(pe) =>
        appendNodes(spark.read.parquet(EpochStore.path(state, pe)),
          allNodes, delta, k, iters)
      case None => knnGraph(allNodes, k, iters)
    }
    EpochStore.write(out, state, batchId)
    appendGraphIndexEpoch(out, s"$dir/index", batchId, numBuckets)
    val fs = new org.apache.hadoop.fs.Path(state)
      .getFileSystem(spark.sessionState.newHadoopConf())
    priorEpochs.dropRight(retainStates - 1).foreach { e =>
      fs.delete(new org.apache.hadoop.fs.Path(EpochStore.path(state, e)), true)
    }
    out
  }

  /** [[searchGraphFiltered]]'s indexed twin: md5-order-head entry
    * points, then [[searchGraphIndexedFilteredFrom]]. */
  def searchGraphIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nodes: DataFrame, queries: DataFrame, k: Int,
      entries: Int, beam: Int, hops: Int, predicate: Column,
      numBuckets: Int = DefaultGraphBuckets,
      frontierCutover: Int = DefaultFrontierCutover,
      seed: String = "nnd"): DataFrame = {
    searchGraphIndexedFilteredFrom(spark, indexPath, nodes, queries, k,
      entryHead(nodes, entries, seed), beam, hops, predicate, numBuckets,
      frontierCutover)
  }

  /** [[searchGraph]]'s indexed twin: md5-order-head entry points over
    * the indexed corpus, then [[searchGraphIndexedFrom]]. */
  def searchGraphIndexed(spark: org.apache.spark.sql.SparkSession,
      indexPath: String, nodes: DataFrame, queries: DataFrame, k: Int,
      entries: Int, beam: Int, hops: Int,
      numBuckets: Int = DefaultGraphBuckets,
      frontierCutover: Int = DefaultFrontierCutover,
      seed: String = "nnd"): DataFrame = {
    searchGraphIndexedFrom(spark, indexPath, nodes, queries, k,
      entryHead(nodes, entries, seed), beam, hops, numBuckets, frontierCutover)
  }

  /** Build the k-NN graph: ring init, `iters` local-join sweeps.
    * Output: (id, nbr, score, rank) with rank ∈ [1, k].
    *
    * SIZING `k` (SCALING.md "Round 16 addendum 2" tables): on clustered
    * corpora 3–4 sweeps at the default cap converge (recall 0.94–0.96);
    * on hard NEAR-ISOTROPIC corpora sweeps and cap SATURATE (~0.47 at
    * any budget, build-k=5) because narrow per-node lists starve the
    * local join of the weak neighbor-of-neighbor signal — the measured
    * remedy is OVERBUILD-THEN-TRUNCATE (Dong §5.3's K trade): build at
    * 2–4× the serving k and keep rank ≤ k, which measures 0.887 /
    * 0.985 / 0.998 at build-k 10/15/20 for serving k=5 on the same
    * fixture, at ~2–3× the build wall. Candidate volume stays n·cap²
    * (linear in n) either way. */
  def knnGraph(nodes: DataFrame, k: Int, iters: Int,
      sample: Int = 0, seed: String = "nnd"): DataFrame = {
    require(iters >= 1 && k >= 1)
    val cap = if (sample > 0) sample else 2 * k
    // The init relation is already ≤ k edges per node (k jump targets,
    // duplicates collapsed, self-edges dropped), so the first sweep's
    // own top-k refresh subsumes any init cap — the previous
    // saltedTopK here was a no-op rank pass (two windows + their
    // exchanges) whose rank column no sweep reads. Checkpointed
    // because the sweep reads its edge input three times (both
    // undirect directions + the old∪candidate union).
    val init = randomInit(nodes, k, seed)(edges => Materialize(edges
      .join(nodes.select(col("id"), col("vec")), Seq("id"))
      .join(nodes.select(col("id").as("nbr"), col("vec").as("nvec")), Seq("nbr"))
      .select(col("id"), col("nbr"), cosRounded(col("vec"), col("nvec")).as("score"))))
    Materialize.iterate(init, iters)(sweep(_, nodes, k, cap, seed))
  }
}
