package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Dedup operators on a corpus with planted exact and near duplicates —
  * LSH recall is validated against the exact-Jaccard oracle
  * (SURVEY.md §7.4.5).
  */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  // vocab must be larger than a doc's token count so unrelated docs get
  // distinct token SETS (simhash operates on distinct tokens).
  private val vocab: IndexedSeq[String] =
    (0 until 150).map(i => s"w$i") ++ Seq("data", "spark", "query", "join")

  private def mkText(seed: Int, words: Int = 60): String = {
    val rnd = new scala.util.Random(seed)
    (1 to words).map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
  }

  // 20 base docs; doc 100 = exact copy of doc 0; doc 101 = near-copy of
  // doc 1 (one word changed); doc 102 = near-copy of doc 2 (two words).
  private lazy val corpus = {
    val base = (0 until 20).map(i => (i.toLong, mkText(i)))
    val exact = Seq((100L, mkText(0)))
    val near1 = {
      val t = mkText(1).split(" "); t(30) = "CHANGED"
      Seq((101L, t.mkString(" ")))
    }
    val near2 = {
      val t = mkText(2).split(" "); t(10) = "X"; t(45) = "Y"
      Seq((102L, t.mkString(" ")))
    }
    (base ++ exact ++ near1 ++ near2).toDF("doc_id", "text")
  }

  test("exact dedup finds the planted exact copy") {
    val groups = Dedup.exactGroups(corpus, "doc_id", "text")
    val dup = groups.filter($"n_copies" > 1).collect()
    assert(dup.length == 1)
    assert(dup.head.getAs[Long]("keep_id") == 0L)
    assert(Dedup.dropExactDups(corpus, "doc_id", "text").count() == corpus.count() - 1)
  }

  test("exact jaccard ranks planted near-dups on top") {
    val pairs = Dedup.jaccardPairs(corpus, "doc_id", "text")
      .orderBy(desc("jaccard")).limit(3).collect()
    val top = pairs.map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(top.contains((0L, 100L)), s"exact pair in top3: ${top.mkString}")
    assert(top.contains((1L, 101L)), "near-dup 1 in top3")
    assert(top.contains((2L, 102L)), "near-dup 2 in top3")
    val exactPair = pairs.find(r => r.getAs[Long]("id1") == 0L).get
    assert(exactPair.getAs[Double]("jaccard") == 1.0)
  }

  test("minhash LSH recalls the same near-dups as the exact oracle") {
    val exact = Dedup.jaccardPairs(corpus, "doc_id", "text")
      .filter($"jaccard" >= 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(corpus, "doc_id", "text", threshold = 0.7)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty)
    assert(lsh == exact, s"LSH recall/precision vs oracle (lsh=$lsh exact=$exact)")
  }

  test("the verifier scores each distinct candidate pair once, repeats and star edges included") {
    // a pair colliding in several bands arrives once per band; a star
    // edge (member, root) arrives root-last, once per band it shares
    val cands = (Seq.fill(3)((0L, 100L)) ++ Seq.fill(2)((1L, 101L)) ++
      Seq.fill(4)((102L, 2L)) ++ Seq.fill(2)((3L, 7L))).toDF("id1", "id2")
    val sh = Dedup.shingleHashes(corpus, "doc_id", "text", 3)
    val sets = SetSimilarity.docSets(sh)
    val got = SetSimilarity.verify(cands, sets, sets, SetSimilarity.Jaccard, 0.5)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
    val brute = Dedup.jaccardPairs(corpus, "doc_id", "text")
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val unordered = got.map { case (a, b, j) => (math.min(a, b), math.max(a, b)) -> j }
    assert(unordered.length == 3 && unordered.toMap.keySet ==
      Set((0L, 100L), (1L, 101L), (2L, 102L)), s"one row per distinct pair: ${got.toSeq}")
    unordered.foreach { case (p, j) => assert(j == brute(p), s"$p: $j vs ${brute(p)}") }
  }

  test("minhash signature similarity approximates jaccard") {
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[Seq[Long]]("sig")).toMap
    def simEst(a: Long, b: Long): Double =
      sigs(a).zip(sigs(b)).count { case (x, y) => x == y }.toDouble / sigs(a).size
    assert(simEst(0L, 100L) == 1.0, "identical docs → identical signatures")
    assert(simEst(1L, 101L) > 0.7, "near-dup signatures mostly agree")
    assert(simEst(3L, 7L) < 0.6, "unrelated docs mostly disagree")
  }

  test("simhash DF signatures match the Column-expression form") {
    val a = corpus.select($"doc_id".as("id"), Dedup.simhash($"text").as("sig"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = Dedup.simhashSignatures(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a == b)
  }

  test("simhash: near-dups within small hamming distance, others far") {
    val sigs = corpus.select($"doc_id", Dedup.simhash($"text").as("sig")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("sig")).toMap
    def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(sigs(a) ^ sigs(b))
    assert(ham(0L, 100L) == 0)
    assert(ham(1L, 101L) <= 8)
    assert(ham(3L, 7L) > 8)
  }

  test("simhashPairs candidate generation finds the exact pair") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getAs[Long]("id1"), r.getAs[Long]("id2"))).toSet
    assert(pairs.contains((0L, 100L)))
  }

  test("incremental dedup: new batch probed against the corpus band index finds exactly the cross pairs") {
    // corpus = base docs; "new batch" = the planted dup/near-dups plus a
    // genuinely novel doc — the nightly-ingestion shape
    val corp = (0 until 20).map(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val batch = {
      val near1 = { val t = mkText(1).split(" "); t(30) = "CHANGED"; t.mkString(" ") }
      Seq((100L, mkText(0)), (101L, near1), (200L, mkText(999)))
        .toDF("doc_id", "text")
    }
    val index = Dedup.bandIndex(corp, "doc_id", "text", numHashes = 64, bands = 32)
    val pairs = Dedup.newVsCorpusPairs(corp, index, batch, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(pairs == Set((0L, 100L), (1L, 101L)),
      s"expected the exact copy and the near-copy, got $pairs")
  }

  test("incremental dedup scores shared ids as distinct documents, not a merged shingle pool") {
    // A doc id present in BOTH relations (a replayed batch, or plain id
    // reuse across sources) must not pool shingles under one key: that
    // doubles both size terms and roughly halves every jaccard the id
    // participates in. Corpus doc 7 and new doc 7 share an id with
    // IDENTICAL text → the pair must score a true 1.0; and a genuine
    // near-copy (id 101 of corpus doc 1) in the same batch must keep
    // its full score despite the overlap elsewhere in the batch.
    val corp = (0 until 20).map(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val batch = {
      val near1 = { val t = mkText(1).split(" "); t(30) = "CHANGED"; t.mkString(" ") }
      Seq((7L, mkText(7)), (101L, near1)).toDF("doc_id", "text")
    }
    val index = Dedup.bandIndex(corp, "doc_id", "text", numHashes = 64, bands = 32)
    val got = Dedup.newVsCorpusPairs(corp, index, batch, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    assert(got.keySet == Set((7L, 7L), (1L, 101L)), s"pairs: $got")
    assert(got((7L, 7L)) == 1.0,
      s"identical text under a shared id must score 1.0, got ${got((7L, 7L))}")
    assert(got((1L, 101L)) >= 0.5, s"near-copy under-scored: ${got((1L, 101L))}")
  }

  test("incremental dedup agrees with the batch variant on the cross-split pairs") {
    val all = corpus
    val corp = corpus.filter($"doc_id" < 100L)
    val batch = corpus.filter($"doc_id" >= 100L)
    val batchPairs: Set[(Long, Long)] = Dedup.minhashLshPairs(all, "doc_id", "text",
        numHashes = 64, bands = 32, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    val expected = batchPairs
      .filter { case (a, b) => (a < 100) != (b < 100) }
      .map { case (a, b) => if (a < 100) (a, b) else (b, a) }
    val got = Dedup.newVsCorpusPairs(corp,
        Dedup.bandIndex(corp, "doc_id", "text", numHashes = 64, bands = 32),
        batch, "doc_id", "text", numHashes = 64, bands = 32, threshold = 0.5)
      .select("id1", "id2").as[(Long, Long)].collect().toSet
    assert(got == expected, s"cross-split pairs: got $got expected $expected")
  }

  test("incremental dedup plan: corpus text is re-read only behind the broadcast candidate prune") {
    val corp = (0 until 20).map(i => (i.toLong, mkText(i))).toDF("doc_id", "text")
    val batch = Seq((100L, mkText(0))).toDF("doc_id", "text")
    // newVsCorpusPairs returns a checkpointed result (its plan is
    // opaque), so assert on the constituent prune plan it builds: the
    // semi-join of corpus on candidate ids must broadcast, never
    // shuffle the corpus
    val newSh = Dedup.shingleHashes(batch, "doc_id", "text", 3)
    val cands = Dedup.bandIndex(corp, "doc_id", "text", 64, 32).toDF("cid", "band", "bucket")
      .join(Dedup.bandedBuckets(newSh, 64, 32).toDF("nid", "band", "bucket"), Seq("band", "bucket"))
      .select(col("cid").as("doc_id")).distinct()
    val pruned = corp.join(broadcast(cands), Seq("doc_id"), "left_semi")
    val p = pruned.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"candidate prune must broadcast:\n$p")
  }

  test("minhash components: duplicate clusters collapse to one representative each") {
    // 6 clusters of 4 near-identical variants (tag prefix, jaccard≈0.95)
    // + 4 unrelated singletons. bands=32/rows=2 ⇒ within-cluster band
    // collision ≈ certain, cross-cluster ≈ never (jaccard ≈ 0).
    val docs = (for {
      c <- 0 until 6; v <- 0 until 4
    } yield ((c * 10 + v).toLong, if (v == 0) mkText(500 + c) else s"v$v ${mkText(500 + c)}")) ++
      (0 until 4).map(u => ((1000 + u).toLong, mkText(900 + u)))
    val df = docs.toDF("doc_id", "text")
    val comps = Dedup.minhashLshComponents(df, "doc_id", "text", bands = 32)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comps.size == 28)
    (0 until 6).foreach { c =>
      val members = (0 until 4).map(v => comps((c * 10 + v).toLong)).toSet
      assert(members == Set((c * 10).toLong),
        s"cluster $c must collapse to its min id: $members")
    }
    (0 until 4).foreach(u => assert(comps((1000 + u).toLong) == 1000L + u,
      "singletons keep their own component"))

    val kept = Dedup.dedupByMinhash(df, "doc_id", "text", bands = 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == ((0 until 6).map(c => (c * 10).toLong) ++
      (0 until 4).map(u => 1000L + u)).toSet,
      s"one representative per cluster, all singletons: $kept")
  }

  test("componentsFromStar: driver union-find ≡ distributed pointer jumping on deep chains") {
    // A 64-node transitive chain (diameter 63 — deeper than any planted
    // cluster), a star, and singletons. Star edges point one hop back,
    // so only transitive resolution produces the right labels.
    val chain = (1 until 64).map(i => (i.toLong, (i - 1).toLong))
    val starE = (200 until 210).map(i => (i.toLong, 199L))
    val star = (chain ++ starE).toDF("id", "root")
    val ids = ((0 until 64) ++ (199 until 210) ++ Seq(500, 501))
      .map(_.toLong).toDF("id")
    def run(threshold: Long) =
      Dedup.componentsFromStar(ids, star, maxIters = 10,
          localEdgeThreshold = threshold)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val local = run(Long.MaxValue)   // driver union-find branch
    val dist = run(0L)               // distributed pointer-jumping branch
    assert(local == dist, "both branches must produce the identical labeling")
    (0 until 64).foreach(i => assert(local(i.toLong) == 0L,
      s"chain node $i must resolve to 0"))
    (199 until 210).foreach(i => assert(local(i.toLong) == 199L))
    assert(local(500L) == 500L && local(501L) == 501L)
  }

  test("giant duplicate cluster dedups in linear work (no pairwise stage)") {
    // One 1500-replica near-dup cluster + 20 singletons. The pairwise
    // path would imply ~1.1M verified pairs; the star path emits ≤1500
    // edges. The assertion is semantic (exact collapse) — the shape
    // guarantee is structural: starEdges links members only to bucket
    // minima, so edge count is bounded by banded-bucket rows, which this
    // also pins.
    val docs = (0 until 1500).map(i =>
      (i.toLong, if (i == 0) mkText(777) else s"v${i % 97} ${mkText(777)}")) ++
      (0 until 20).map(u => ((10000 + u).toLong, mkText(800 + u)))
    val df = docs.toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(df, "doc_id", "text")
    val nEdges = Dedup.starEdges(Dedup.bandedBuckets(sh, 64, 32)).count()
    assert(nEdges <= 1520L * 32, s"star edges must stay linear: $nEdges")
    val kept = Dedup.dedupByMinhash(df, "doc_id", "text", bands = 32)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == (Set(0L) ++ (0 until 20).map(u => (10000 + u).toLong)),
      s"one representative for the giant cluster, singletons intact: ${kept.size} kept")
  }

  test("simhash components merge the exact-copy cluster, keep others apart") {
    // corpus plants doc 100 = exact copy of doc 0 (hamming 0): the
    // pigeonhole band guarantee only covers dist ≤ 3, so (like the
    // simhashPairs spec) only the exact copy's merge is asserted;
    // unrelated docs must all stay singletons.
    val comps = Dedup.simhashComponents(corpus, "doc_id", "text", maxDist = 3)
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[Long]("component")).toMap
    assert(comps(100L) == comps(0L), "exact copy joins doc 0's cluster")
    val baseComponents = (3 until 20).map(i => comps(i.toLong))
    assert(baseComponents.distinct.size == baseComponents.size,
      "unrelated docs stay in distinct components")
  }
}
