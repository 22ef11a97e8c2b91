package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The prefix-filtered exact Jaccard join: losslessness vs the
  * brute-force all-pairs join, candidate-count reduction (the
  * sub-quadratic claim), and the threshold boundary. */
class PrefixJoinSpec extends SparkSpec {
  import spark.implicits._

  /** Corpus with heavy shared boilerplate (stop-shingle skew — the
    * all-pairs killer), a planted near-dup pair, a planted exact dup,
    * and unrelated tails. */
  private def corpus: Seq[(Long, String)] = {
    val boiler = "terms of service apply to all users of this site"
    val tails = Seq(
      "quantum entanglement enables novel communication protocols",
      "the harvest festival begins after the autumn equinox",
      "distributed consensus requires a quorum of healthy replicas",
      "volcanic soil produces exceptionally robust coffee beans",
      "medieval manuscripts reveal trade routes across the steppe",
      "tidal forces gradually lock rotating moons to their planets")
    val docs = tails.zipWithIndex.map { case (t, i) =>
      (i.toLong, s"$boiler $t")
    }
    val nearDup = (100L,
      "quantum entanglement enables novel communication protocols " +
      "quantum entanglement enables secure communication protocols")
    val nearDupTwin = (101L,
      "quantum entanglement enables novel communication protocols " +
      "quantum entanglement enables novel communication methods")
    val exactDup = (102L, docs.head._2)
    docs ++ Seq(nearDup, nearDupTwin, exactDup)
  }

  private def rarityPrefix(sh: org.apache.spark.sql.DataFrame, t: Double) =
    SetSimilarity.prefix(SetSimilarity.ranked(sh, SetSimilarity.frequency(sh)), t)

  test("prefix join equals the brute-force join at every threshold tried") {
    val df = corpus.toDF("doc_id", "text")
    Seq(0.5, 0.6, 0.8).foreach { t =>
      val fast = Dedup.prefixJaccardJoin(df, "doc_id", "text", threshold = t)
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      val brute = Dedup.jaccardPairs(df, "doc_id", "text")
        .filter(col("jaccard") >= t)
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      assert(fast == brute, s"threshold $t: $fast vs $brute")
      assert(brute.nonEmpty, s"threshold $t must have planted matches")
    }
  }

  test("exact duplicate scores 1.0 and survives any threshold") {
    val df = corpus.toDF("doc_id", "text")
    val out = Dedup.prefixJaccardJoin(df, "doc_id", "text", threshold = 1.0)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect()
    assert(out.toSeq == Seq((0L, 102L, 1.0)))
  }

  test("prefixes prune the candidate space the boilerplate would explode") {
    val df = corpus.toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3)
    val prefix = rarityPrefix(sh, 0.6)
    def pairCount(rel: org.apache.spark.sql.DataFrame): Long =
      rel.as("a").join(rel.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
        .select(col("a.id"), col("b.id")).distinct().count()
    val allPairs = pairCount(sh)
    val candPairs = pairCount(prefix.select(col("id"), col("shingle")))
    info(s"all-pairs candidates=$allPairs prefix candidates=$candPairs")
    // the boilerplate links EVERY original doc pair; rarity prefixes
    // must cut the candidate set to a fraction
    assert(candPairs * 3 <= allPairs,
      s"prefix filter must prune: $candPairs vs $allPairs")
  }

  test("prefix relation keeps exactly sz - ceil(t*sz) + 1 rarest shingles") {
    val df = Seq((1L, "a b c d e f g h i j k l")).toDF("doc_id", "text")
    val sh = Dedup.shingles(df, "doc_id", "text", 3) // 10 distinct 3-grams
    val n = rarityPrefix(sh, 0.6).count()
    assert(n == 10 - 6 + 1, s"expected 5 prefix shingles, got $n")
  }

  test("verify-stage doc-set broadcast is SIZE-GATED: hint below the cutover, plain join above") {
    val df = corpus.toDF("doc_id", "text")
    val sh = Dedup.shingleHashes(df, "doc_id", "text", 3)
    val docSets = SetSimilarity.docSets(sh)
    val cands = sh.select(col("id").as("id1")).distinct()
      .crossJoin(sh.select(col("id").as("id2")).distinct())
      .filter(col("id1") < col("id2"))
    // kill every automatic broadcast so the plan shows EXACTLY what the
    // gate decided: an explicit hint is honored unconditionally, an
    // ungated relation must fall to the id-keyed shuffle join
    val saved = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.getOption(k))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def verifyPlan(maxBytes: Long): String = {
        val joined = cands.join(
          SetSimilarity.maybeBroadcastDocSets(sh, docSets, maxBytes)
            .select(col("id").as("id1"), col("set").as("setA")), Seq("id1"))
        joined.collect() // finalize AQE before reading the plan
        joined.queryExecution.executedPlan.toString
      }
      assert(verifyPlan(Long.MaxValue).contains("BroadcastHashJoin"),
        "below the cutover the doc-set side must ride the broadcast hint")
      assert(!verifyPlan(0L).contains("BroadcastHashJoin"),
        "above the cutover the hint must be dropped (plain id-keyed join)")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
    // the gate is plan-only: both paths produce identical pair relations,
    // the prefix join's
    def pairs(maxBytes: Long) = {
      val sets = SetSimilarity.maybeBroadcastDocSets(sh, docSets, maxBytes)
      SetSimilarity.verify(cands, sets, sets, SetSimilarity.Jaccard, 0.6)
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    }
    val joined = Dedup.prefixJaccardJoin(df, "doc_id", "text", 0.6)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)].collect().toSet
    assert(joined.nonEmpty && pairs(Long.MaxValue) == joined && pairs(0L) == joined)
  }

  test("exact incremental probe ≡ full join restricted cross-split ≡ the banded probe (real corpus)") {
    val docs = graft.Tables.documents(spark, sf001)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val idx = graft.Staging.dirFor("jaccard-inc-spec")
    Dedup.writeJaccardIndex(corpus, "doc_id", "text", idx)
    Seq(0.5, 0.8).foreach { t =>
      val inc = Dedup.newVsCorpusJaccard(spark, idx, batch,
          "doc_id", "text", t)
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
      // full replay over the union, restricted to cross-split and
      // oriented (corpus, batch) — prefixJaccardJoin emits id1 < id2
      val full = Dedup.prefixJaccardJoin(docs, "doc_id", "text", t)
        .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
        .collect()
        .flatMap { case (a, b, j) =>
          if (a % 5 != 0 && b % 5 == 0) Some((a, b, j))
          else if (a % 5 == 0 && b % 5 != 0) Some((b, a, j))
          else None
        }.toSet
      assert(inc == full, s"threshold $t: $inc vs $full")
      assert(full.nonEmpty, s"threshold $t must have cross-split matches")
    }
    // and the banded engine agrees at its gated config — two candidate
    // generators, one exact verified answer
    val banded = Dedup.newVsCorpusPairs(corpus,
        Dedup.bandIndex(corpus, "doc_id", "text", 64, 32),
        batch, "doc_id", "text", 64, 32, threshold = 0.5)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    val exact = Dedup.newVsCorpusJaccard(spark, idx, batch,
        "doc_id", "text", 0.5)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(exact == banded,
      "the lossless prefix engine and the banded engine must verify the same pairs here")
  }

  test("exact incremental probe: unseen-shingle batch docs are safe, planted cross dup found") {
    val corpusDf = corpus.toDF("doc_id", "text")
    val batch = Seq(
      (200L, corpus.head._2),                       // exact copy of doc 0
      (201L, "entirely novel content about deep sea bioluminescence " +
        "patterns and their chemical origin story")) // no shared shingle
      .toDF("doc_id", "text")
    val idx = graft.Staging.dirFor("jaccard-inc-spec2")
    Dedup.writeJaccardIndex(corpusDf, "doc_id", "text", idx)
    val out = Dedup.newVsCorpusJaccard(spark, idx, batch,
        "doc_id", "text", 1.0)
      .select("id1", "id2", "jaccard").as[(Long, Long, Double)]
      .collect().toSet
    assert(out.contains((0L, 200L, 1.0)), s"exact re-delivery must score 1.0: $out")
    assert(!out.exists(_._2 == 201L), "unseen content must pass untouched")
  }

  test("containment join carries sz1/sz2 so the collapse reuses the single shingle pass") {
    val df = corpus.toDF("doc_id", "text")
    val out = Dedup.prefixContainmentJoin(df, "doc_id", "text", 1.0)
      .select("id1", "id2", "sz1", "sz2").as[(Long, Long, Long, Long)]
      .collect()
    val sizes = Dedup.shingleHashes(df, "doc_id", "text", 3)
      .groupBy("id").agg(count(lit(1)).as("sz"))
      .as[(Long, Long)].collect().toMap
    assert(out.nonEmpty)
    out.foreach { case (id1, id2, sz1, sz2) =>
      assert(sz1 == sizes(id1) && sz2 == sizes(id2),
        s"carried sizes must match the shingle pass: ($id1,$id2,$sz1,$sz2)")
    }
  }
}
