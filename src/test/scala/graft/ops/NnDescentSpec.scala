package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class NnDescentSpec extends SparkSpec {
  import spark.implicits._

  private lazy val nodes = Tables.embeddings(spark, "/root/testdata/sf0.01")
    .select($"vec_id".as("id"), $"embedding".as("vec"))

  private def exactGraph(k: Int): Map[Long, Set[Long]] = {
    val qs = nodes.select($"id".as("qid"), $"vec".as("qvec"))
    // ask for k+1 then drop self (cosine 1.0 occupies rank 1)
    Similarity.bruteForceTopK(qs, nodes.filter(lit(true)), k + 1)
      .filter($"qid" =!= $"id")
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("qid")
          .orderBy($"rank")))
      .filter($"rk" <= k)
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
  }

  private def recallOf(g: org.apache.spark.sql.DataFrame, k: Int): Double = {
    val truth = exactGraph(k)
    val got = g.select("id", "nbr").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size
    }.sum / truth.size
  }

  test("graph shape: every node has exactly k ranked distinct neighbors, none itself") {
    val g = NnDescent.knnGraph(nodes, k = 5, iters = 1).persist()
    val n = nodes.count()
    assert(g.count() == n * 5)
    assert(g.filter($"id" === $"nbr").count() == 0)
    assert(g.groupBy("id").agg(countDistinct("nbr").as("d"))
      .filter($"d" =!= 5).count() == 0)
    assert(g.groupBy("id").agg(max("rank").as("m"), min("rank").as("lo"))
      .filter($"m" =!= 5 || $"lo" =!= 1).count() == 0)
  }

  test("sweeps improve the graph monotonically, far above the random baseline (hard corpus)") {
    // The synthetic embeddings are near-isotropic — the paper's own
    // hard case (high intrinsic dimension ⇒ weak neighbor-of-neighbor
    // signal, §5.3). The honest contract here: every sweep improves,
    // and 4 sweeps sit ~40× above a random graph's recall (5/499 ≈
    // 0.01). The strong-signal convergence claim lives in the planted
    // clustered test below.
    val g0 = NnDescent.knnGraph(nodes, k = 5, iters = 1)
    val g2 = NnDescent.knnGraph(nodes, k = 5, iters = 2)
    val g4 = NnDescent.knnGraph(nodes, k = 5, iters = 4)
    val (r0, r2, r4) = (recallOf(g0, 5), recallOf(g2, 5), recallOf(g4, 5))
    info(f"kNN-graph recall@5: 1 sweep $r0%.3f, 2 sweeps $r2%.3f, 4 sweeps $r4%.3f")
    assert(r2 >= r0 && r4 >= r2, s"recall must not degrade: $r0 → $r2 → $r4")
    assert(r4 >= 0.35, s"4 sweeps should sit far above the 0.01 random baseline: $r4")
    // the measured remedy for the hard case (SCALING.md "Round 16
    // addendum 2" overbuild table): BUILD WIDER, serve truncated —
    // build-k=10 → recall 0.887, k=15 → 0.985, k=20 → 0.998 on this
    // same fixture, vs the 0.44 saturation any sweeps×cap budget
    // reaches at build-k=5
    val gWide = NnDescent.knnGraph(nodes, k = 10, iters = 4, sample = 20)
      .filter($"rank" <= 5)
    val rWide = recallOf(gWide, 5)
    info(f"overbuilt (build-k=10, serve top-5) recall@5: $rWide%.3f")
    assert(rWide >= 0.8,
      s"overbuild-then-truncate must close the hard fixture: $rWide")
    // the monotone objective the paper guarantees: mean kept score
    def meanScore(g: org.apache.spark.sql.DataFrame) =
      g.agg(avg("score")).head().getDouble(0)
    assert(meanScore(g2) >= meanScore(g0) - 1e-9)
    assert(meanScore(g4) >= meanScore(g2) - 1e-9)
  }

  test("clustered corpus: the descent closes the graph in 3 sweeps") {
    // Planted structure (8 tight clusters): a neighbor's neighbor IS a
    // neighbor, the regime the algorithm is built for.
    val rnd = new scala.util.Random(7L)
    val centers = Array.fill(8)(Array.fill(16)(rnd.nextGaussian()))
    val rows = (0 until 400).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => (x + 0.08 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val cl = rows.toDF("id", "vec")
    val qs = cl.select($"id".as("qid"), $"vec".as("qvec"))
    val truth = Similarity.bruteForceTopK(qs, cl, 6)
      .filter($"qid" =!= $"id")
      .select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).take(5).toSet }
    val g = NnDescent.knnGraph(cl, k = 5, iters = 3)
    val got = g.select("id", "nbr").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val recall = truth.map { case (q, t) =>
      got.getOrElse(q, Set.empty).count(t.contains).toDouble / t.size
    }.sum / truth.size
    info(f"clustered-corpus recall@5 after 3 sweeps: $recall%.3f")
    assert(recall >= 0.8, s"descent should close a clustered graph: $recall")
  }

  test("deterministic: same seed twice bit-equal; different seed differs pre-convergence") {
    val a = NnDescent.knnGraph(nodes, k = 5, iters = 1, seed = "s1")
      .orderBy("id", "rank").collect().toSeq
    val b = NnDescent.knnGraph(nodes, k = 5, iters = 1, seed = "s1")
      .orderBy("id", "rank").collect().toSeq
    assert(a == b)
    val c = NnDescent.knnGraph(nodes, k = 5, iters = 1, seed = "s2")
      .orderBy("id", "rank").collect().toSeq
    assert(a != c, "a different ring init must differ after one sweep")
  }

  test("mutual-kNN components recover planted clusters") {
    // 6 tight, well-separated clusters of 30: reciprocated 5-NN edges
    // stay inside clusters, so components = clusters exactly
    val rnd = new scala.util.Random(11L)
    val centers = Array.fill(6)(Array.fill(16)(rnd.nextGaussian() * 3))
    val rows = (0 until 180).map { i =>
      val c = centers(i % 6)
      (i.toLong, c.map(x => (x + 0.05 * rnd.nextGaussian()).toFloat).toSeq)
    }
    val cl = rows.toDF("id", "vec")
    val g = NnDescent.knnGraph(cl, k = 5, iters = 4)
    val rev = g.select($"id".as("b_id"), $"nbr".as("b_nbr"))
    val mut = g.join(rev, $"id" === $"b_nbr" && $"nbr" === $"b_id")
      .filter($"id" < $"nbr").select("id", "nbr")
    val star = mut.select($"nbr".as("id"), $"id".as("root"))
    val comps = Dedup.componentsFromStar(cl.select("id"), star)
    val sizes = comps.groupBy("component").count()
      .select("count").as[Long].collect().sorted
    // mutuality is a deliberate noise filter: a node whose list is not
    // yet converged loses reciprocation and stays a singleton rather
    // than bridging clusters — so the contract is "six large pure
    // components + possibly a few stragglers", never a merged blob
    val big = sizes.filter(_ >= 20)
    assert(big.length == 6 && sizes.forall(s => s >= 20 || s <= 2),
      s"expected six ≥20-member components + stragglers, got ${sizes.toSeq}")
    // and the components agree with the planted labels exactly
    val lbl = comps.withColumn("truth", pmod($"id", lit(6)))
      .groupBy("component").agg(countDistinct("truth").as("d"))
    assert(lbl.filter($"d" =!= 1).count() == 0, "a component mixed two planted clusters")
  }

  test("epoch append: new nodes descend in, old nodes adopt them, quality matches a rebuild") {
    val half1 = nodes.filter($"id" % 2 === 0)
    val half2 = nodes.filter($"id" % 2 === 1)
    val g1 = NnDescent.knnGraph(half1, k = 5, iters = 3)
    val appended = NnDescent.appendNodes(g1, nodes, half2, k = 5, iters = 3)
    val rebuilt = NnDescent.knnGraph(nodes, k = 5, iters = 3)
    // every node (old and new) ends with k ranked neighbors
    assert(appended.count() == nodes.count() * 5)
    // old nodes adopted new arrivals where they belong
    val adopted = appended.filter($"id" % 2 === 0 && $"nbr" % 2 === 1).count()
    assert(adopted > 0, "no old node adopted a new arrival")
    // appended graph quality ≈ full rebuild at the same sweep budget
    val (ra, rr) = (recallOf(appended, 5), recallOf(rebuilt, 5))
    info(f"appended recall $ra%.3f vs rebuilt $rr%.3f")
    assert(ra >= rr - 0.05, s"append must not lose materially vs rebuild: $ra vs $rr")
    // deterministic
    val again = NnDescent.appendNodes(g1, nodes, half2, k = 5, iters = 3)
      .orderBy("id", "rank").collect().toSeq
    assert(again == appended.orderBy("id", "rank").collect().toSeq)
  }

  test("two-phase md5 rank is row-identical to the global-window rank, and n is exact") {
    val (ranked, n) = NnDescent.rankByHash(nodes, "nnd")
    val global = nodes.select($"id")
      .withColumn("h", Dedup.md5TokenHash60(concat(lit("nnd"), $"id".cast("string"))))
      .withColumn("r", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy($"h", $"id")).cast("long"))
      .select("id", "r")
    assert(ranked.orderBy("r").collect().toSeq == global.orderBy("r").collect().toSeq)
    assert(n == nodes.count())
  }

  test("plan: the init rank never funnels the node set through an unpartitioned window") {
    import org.apache.spark.sql.execution.window.WindowExec
    // randomInit checkpoints the rank relation (it feeds two joins), so
    // the window lives in rankByHash's own plan — assert there.
    val (ranked, _) = NnDescent.rankByHash(nodes, "nnd")
    ranked.collect()
    val wins = planNodes(ranked.queryExecution.executedPlan)
      .collect { case w: WindowExec => w }
    assert(wins.nonEmpty, "expected the within-bucket rank window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      "a global unpartitioned window survived in the init rank — the 10⁹-node bottleneck")
  }

  test("plan: randomInit's init edges read the rank checkpoint and rank nothing again") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, RDDScanExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val plan = NnDescent.randomInit(nodes, k = 3, seed = "nnd") { edges =>
      edges.collect()
      planNodes(edges.queryExecution.executedPlan)
    }
    assert(!plan.exists { case w: WindowExec => w.partitionSpec.isEmpty; case _ => false },
      "an unpartitioned window sits in the init-edge plan")
    // the jump side and the r2 lookup both scan the checkpointed ranks
    assert(plan.count(_.isInstanceOf[RDDScanExec]) == 2,
      "the jump side and the r2 lookup should each scan the rank checkpoint")
    assert(!plan.exists(_.isInstanceOf[FileSourceScanExec]), "the init edges read the nodes again")
  }

  test("fewer than 2 nodes is rejected (the jump modulus would be zero)") {
    val one = Seq((1L, Seq(1.0f, 0.0f))).toDF("id", "vec")
    intercept[IllegalArgumentException] {
      NnDescent.knnGraph(one, k = 2, iters = 1)
    }
  }

  test("ρ-sampling caps the local join: a hub adjacency cannot explode a sweep") {
    // plant a hub: node 0 appears in every node's ring neighborhood by
    // wiring a star graph, then run one sweep with a small cap — the
    // candidate relation stays ≤ n·cap² rather than n²
    val star = nodes.select($"id".as("nbr"), lit(0L).as("id"))
      .filter($"nbr" =!= 0L)
      .join(nodes.select($"id", $"vec"), Seq("id"))
      .join(nodes.select($"id".as("nbr"), $"vec".as("nvec")), Seq("nbr"))
      .select($"id", $"nbr",
        round(Similarity.cosine($"vec", $"nvec"), 4).as("score"),
        lit(1).as("rank"))
    val out = NnDescent.sweep(star, nodes, k = 5, sample = 8, seed = "hub")
    // node 0's capped adjacency has ≤ 8 members → candidates touching 0
    // through the hub are bounded; the sweep completes and stays ranked
    assert(out.groupBy("id").agg(max("rank").as("m")).filter($"m" > 5).count() == 0)
    assert(out.count() > 0)
  }
}
