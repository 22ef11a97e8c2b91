package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** BM25 ranked retrieval ([[TextIndex]]): hand-computed scores on a
  * crafted corpus, inline ≡ indexed parity, partition pruning on the
  * bucketed postings layout, and term-absence edge cases. The
  * cross-engine hash gate is the `text_bm25`/`text_bm25_indexed`
  * oracle pair. */
class TextIndexSpec extends SparkSpec {
  import spark.implicits._

  // 4 docs, vocabulary chosen so every BM25 ingredient varies:
  //   doc 1: "spark" x3 of 6 tokens   (high tf, short doc)
  //   doc 2: "spark" x1 of 3 tokens   (low tf, shortest doc)
  //   doc 3: "spark window" in 8      (two query terms)
  //   doc 4: no query terms
  private def corpus = Seq(
    (1L, "spark spark spark join merge sort"),
    (2L, "spark join merge"),
    (3L, "window spark join merge sort hash scan agg"),
    (4L, "join merge sort hash")
  ).toDF("doc_id", "text")

  /** Plain-Scala BM25 reference for the fixture (same formula, same
    * rounding) — an implementation-independent expected value. */
  private def expectedScores(query: Seq[String], k1: Double = 1.2,
      b: Double = 0.75): Map[Long, Double] = {
    val docs = Map(
      1L -> "spark spark spark join merge sort",
      2L -> "spark join merge",
      3L -> "window spark join merge sort hash scan agg",
      4L -> "join merge sort hash"
    ).map { case (id, t) => id -> t.split("\\s+").toSeq }
    val n = docs.size.toDouble
    val avgdl = docs.values.map(_.size).sum.toDouble / n
    docs.flatMap { case (id, toks) =>
      val score = query.distinct.map { term =>
        val tf = toks.count(_ == term).toDouble
        if (tf == 0) 0.0
        else {
          val df = docs.values.count(_.contains(term)).toDouble
          val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
          idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * toks.size / avgdl))
        }
      }.sum
      if (score > 0) Some(id -> BigDecimal(score)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      else None
    }
  }

  test("bm25TopK matches the hand-rolled reference on every ingredient (tf, dl, df, idf)") {
    val got = TextIndex.bm25TopK(corpus, "doc_id", "text",
        Seq("spark", "window"), k = 10)
      .select("id", "score").as[(Long, Double)].collect().toMap
    val want = expectedScores(Seq("spark", "window"))
    assert(got.keySet == want.keySet, s"docs scored: $got vs $want")
    got.foreach { case (id, s) =>
      assert(math.abs(s - want(id)) <= 1e-4, s"doc $id: got $s want ${want(id)}")
    }
    // and the ranking follows: doc 3 (two terms, rarer 'window') wins
    val ranked = TextIndex.bm25TopK(corpus, "doc_id", "text",
        Seq("spark", "window"), k = 10)
      .orderBy("rk").select("id").as[Long].collect()
    assert(ranked.head == 3L, s"two-term doc must rank first: ${ranked.toSeq}")
  }

  test("indexed probe is row-identical to the inline scorer") {
    val dir = graft.Staging.dirFor("bm25-idx")
    TextIndex.writePostings(corpus, "doc_id", "text", dir, nBuckets = 16)
    val inline = TextIndex.bm25TopK(corpus, "doc_id", "text",
        Seq("spark", "window"), k = 10)
      .as[(Long, Double, Int)].collect().toSet
    val indexed = TextIndex.bm25TopKIndexed(spark, dir,
        Seq("spark", "window"), k = 10, nBuckets = 16)
      .as[(Long, Double, Int)].collect().toSet
    assert(indexed == inline, s"indexed $indexed vs inline $inline")
  }

  test("indexed probe prunes to the query terms' bucket partitions") {
    val dir = graft.Staging.dirFor("bm25-prune")
    TextIndex.writePostings(corpus, "doc_id", "text", dir, nBuckets = 16)
    val q = TextIndex.bm25TopKIndexed(spark, dir, Seq("spark"), k = 5,
      nBuckets = 16)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb"),
      s"bucket probe must be a partition filter:\n$plan")
    // and PHYSICALLY: the postings scan selects exactly one of the 16
    // bucket directories once its partition filters are applied.
    // (SparkSpec.planNodes looks behind the AQE wrappers.)
    val scans = planNodes(q.queryExecution.executedPlan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
        if f.relation.location.rootPaths.exists(_.toString.contains("postings")) => f
    }
    assert(scans.nonEmpty, s"no postings scan found:\n$plan")
    val selected = scans.head.relation.location
      .listFiles(scans.head.partitionFilters, scans.head.dataFilters)
    assert(selected.length == 1,
      s"expected one selected bucket partition, got ${selected.length}")
  }

  test("epoch lifecycle: append ≡ rebuild row for row; stats sum exactly; replay idempotent") {
    val docs = graft.Tables.documents(spark, sf001)
    val terms = Seq("spark", "window", "merge")
    // epoch store: base + delta by doc parity
    val epochIdx = graft.Staging.dirFor("bm25-epoch-spec")
    TextIndex.appendPostingsEpoch(docs.filter($"doc_id" % 2 === 0),
      "doc_id", "text", epochIdx, epoch = 0L)
    TextIndex.appendPostingsEpoch(docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", epochIdx, epoch = 1L)
    val appended = TextIndex.bm25TopKEpochs(spark, epochIdx, terms, k = 50)
      .as[(Long, Double, Int)].collect().toSeq
    // rebuilt flat store over the SAME corpus
    val flatIdx = graft.Staging.dirFor("bm25-flat-spec")
    TextIndex.writePostings(docs, "doc_id", "text", flatIdx)
    val rebuilt = TextIndex.bm25TopKIndexed(spark, flatIdx, terms, k = 50)
      .as[(Long, Double, Int)].collect().toSeq
    assert(appended == rebuilt,
      "the epoch-appended store must answer exactly like a rebuilt one")
    // the additive statistics reproduce the rebuilt avgdl EXACTLY
    val eStats = spark.read.parquet(s"$epochIdx/estats")
      .agg(sum($"n_docs").as("n"), sum($"sum_dl").as("s"))
      .select($"n", $"s".cast("double") / $"n".cast("double"))
      .as[(Long, Double)].head()
    val fStats = spark.read.parquet(s"$flatIdx/stats")
      .as[(Long, Double)].head()
    assert(eStats == fStats, s"summed epoch stats $eStats != rebuilt $fStats")
    // replaying an epoch overwrites its own output — nothing changes
    TextIndex.appendPostingsEpoch(docs.filter($"doc_id" % 2 =!= 0),
      "doc_id", "text", epochIdx, epoch = 1L)
    val replayed = TextIndex.bm25TopKEpochs(spark, epochIdx, terms, k = 50)
      .as[(Long, Double, Int)].collect().toSeq
    assert(replayed == appended, "epoch replay must be idempotent")
    // layout: the tb bucket level is nested under batch, so the probe's
    // literal tb filter still prunes directories
    val dirs = new java.io.File(s"$epochIdx/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(dirs == Set("batch=0", "batch=1"))
    assert(new java.io.File(s"$epochIdx/postings/batch=0").listFiles()
      .filter(_.isDirectory).forall(_.getName.startsWith("tb=")))
  }

  test("empty-epoch policy: an all-empty-text delta writes no epoch; a legacy (0, NULL) estats row never poisons avgdl") {
    val docs = corpus
    val terms = Seq("spark", "window")
    val idx = graft.Staging.dirFor("bm25-empty-epoch-spec")
    TextIndex.appendPostingsEpoch(docs, "doc_id", "text", idx, epoch = 0L)
    val before = TextIndex.bm25TopKEpochs(spark, idx, terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq
    // a store whose ONLY append was empty has no postings tree — the
    // probe answers with the empty relation, not a missing-path error
    val neverIdx = graft.Staging.dirFor("bm25-never-epoch-spec")
    TextIndex.appendPostingsEpoch(
      Seq((200L, "")).toDF("doc_id", "text"),
      "doc_id", "text", neverIdx, epoch = 0L)
    assert(TextIndex.bm25TopKEpochs(spark, neverIdx, terms, k = 10)
      .count() == 0L, "an only-empty-appends store must probe empty")
    // a delta whose every doc tokenizes to nothing must write NEITHER
    // postings nor a (0, NULL) estats row
    TextIndex.appendPostingsEpoch(
      Seq((100L, ""), (101L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", idx, epoch = 1L)
    val batches = new java.io.File(s"$idx/postings").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    assert(batches == Set("batch=0"), s"empty epoch must not land: $batches")
    assert(new java.io.File(s"$idx/estats").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet == Set("batch=0"))
    assert(TextIndex.bm25TopKEpochs(spark, idx, terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq == before)
    // a store written before the skip policy may hold the (0, NULL)
    // row — the probe's n > 0 stance must keep the summed avgdl exact
    // (NULL-tolerant sums) and answer identically
    Seq((0L, Option.empty[Long])).toDF("n_docs", "sum_dl")
      .write.parquet(s"$idx/estats/batch=1")
    assert(TextIndex.bm25TopKEpochs(spark, idx, terms, k = 10)
      .as[(Long, Double, Int)].collect().toSeq == before,
      "legacy zero-doc estats row must not change any score")
  }

  test("absent terms and empty queries degrade to empty results, not errors") {
    assert(TextIndex.bm25TopK(corpus, "doc_id", "text",
      Seq("zebra"), k = 5).count() == 0L)
    assert(TextIndex.bm25TopK(corpus, "doc_id", "text",
      Seq.empty, k = 5).count() == 0L)
    val dir = graft.Staging.dirFor("bm25-absent")
    TextIndex.writePostings(corpus, "doc_id", "text", dir, nBuckets = 16)
    assert(TextIndex.bm25TopKIndexed(spark, dir, Seq("zebra"), k = 5,
      nBuckets = 16).count() == 0L)
  }

  test("postings carry exact tf and dl; stats count only token-bearing docs") {
    val withEmpty = corpus.union(Seq((9L, "   ")).toDF("doc_id", "text"))
    val p = TextIndex.postings(withEmpty, "doc_id", "text")
      .filter(col("id") === 1L).orderBy("token")
      .as[(String, Long, Long, Long)].collect().toSeq
    assert(p == Seq(("join", 1L, 1L, 6L), ("merge", 1L, 1L, 6L),
      ("sort", 1L, 1L, 6L), ("spark", 1L, 3L, 6L)))
    val st = TextIndex.corpusStats(withEmpty, "text").head()
    assert(st.getLong(0) == 4L, "whitespace-only doc must not count")
    assert(math.abs(st.getDouble(1) - 21.0 / 4) < 1e-12)
  }
}
