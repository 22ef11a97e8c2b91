package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions.{col, count, lit, max, min}

/** Physical-plan quality gates for the headline queries: the properties
  * that matter at 100 TB — predicate pushdown reaching the parquet scan,
  * column pruning, broadcast joins for small sides, no cartesian
  * products, whole-stage codegen present. Guards against plan
  * regressions the same way the oracle guards results.
  */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntryPlans.executedPlan(spark, name, sf001)

  test("q1_agg: filter pushed to parquet scan, columns pruned") {
    val p = plan("q1_agg")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter must reach the scan:\n$p")
    assert(!p.contains("l_orderkey"), "unused columns pruned from ReadSchema")
    assert(p.contains("*("), "agg pipeline codegen'd (AQE marks codegen stages with *(n))")
  }

  test("q3_top_orders: dimension filters pushed, customer side broadcast") {
    val p = plan("q3_top_orders")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast join:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)"))
    assert(p.contains("TakeOrderedAndProject"), "top-k uses TakeOrdered, not global sort")
  }

  test("q5_region_revenue: star joins broadcast, region filter pushed") {
    val p = plan("q5_region_revenue")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("EqualTo(r_name,ASIA)"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q7_volume_shipping: both nation sides broadcast, no cartesian") {
    val p = plan("q7_volume_shipping")
    assert(p.split("BroadcastHashJoin").length >= 3,
      s"both nation dims must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"))
    // the cross-nation inequality must filter BEFORE the dim joins,
    // as a join residual/filter — never a nested-loop join condition
    assert(!p.contains("BroadcastNestedLoopJoin"), s"no BNLJ:\n$p")
  }

  test("dedup_semantic: no cartesian; exemplar agg reduces map-side") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cell equi-join must never degrade to an all-pairs join:\n$p")
    assert(p.contains("partial_min"),
      s"exemplar aggregation must reduce before its exchange:\n$p")
  }

  test("text_quality_classifier: scan-only scoring, schema pruned to (doc_id, text)") {
    val p = plan("text_quality_classifier")
    // one range exchange for the output ORDER BY is the only shuffle
    assert(!p.contains("hashpartitioning"),
      s"scoring must not hash-exchange anything:\n$p")
    assert(!p.contains("lang") && !p.contains("source"),
      s"unused document columns must be pruned from the scan:\n$p")
  }

  test("d2_rules_join: tiny rules relation broadcast, no shuffle of events") {
    val p = plan("d2_rules_join")
    assert(p.contains("BroadcastHashJoin"), s"rules must broadcast:\n$p")
  }

  test("sync_pipeline_filtered: rules broadcast; events scanned once with pruned schema") {
    val p = plan("sync_pipeline_filtered")
    assert(p.contains("Broadcast"), s"rules relation must broadcast:\n$p")
    assert(!p.contains("ts#"), s"events.ts must be pruned from the scan:\n$p")
  }

  test("dedup_exact: single shuffle on digest, partial aggregation map-side") {
    val p = plan("dedup_exact")
    assert(p.contains("partial_"), "map-side partial agg present")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 1,
      s"digest groupBy needs exactly one hash shuffle:\n$p")
  }

  test("ann_topk: corpus scanned once, queries broadcast") {
    val p = plan("ann_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query side must broadcast:\n$p")
  }

  test("text_stats: no interpreted lambdas in the projection") {
    val p = plan("text_stats")
    assert(!p.contains("lambdafunction"),
      s"token statistics must not use interpreted HOF lambdas:\n$p")
    assert(p.contains("token_stats"), s"codegen'd token_stats in the plan:\n$p")
    assert(p.contains("*("), "stats projection inside whole-stage codegen")
  }

  test("q_range_join: band predicate becomes an equi-join on bins, no nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      s"binned rewrite must remove the nested loop:\n$p")
  }

  test("corpus_curation: scoring stays out of the shuffle; one exchange for dedup, one for the rollup") {
    val p = plan("corpus_curation")
    assert(!p.contains("lambdafunction"),
      s"curation scoring must be codegen'd, not interpreted HOFs:\n$p")
    assert(p.contains("partial_"), "rollup has map-side partial aggregation")
    assert(p.split("Exchange hashpartitioning").length - 1 <= 2,
      s"curation needs at most 2 hash shuffles (dedup window + rollup):\n$p")
  }

  test("ann_pq: ADC scan carries codes, not embeddings; queries broadcast") {
    val p = plan("ann_pq")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"query LUTs must broadcast against the corpus codes:\n$p")
    assert(!p.contains("lambdafunction"),
      s"ADC scoring must be flat codegen'd lookups:\n$p")
  }

  test("text_substring_scrub: schema pruned to (doc_id, text); gram counts partial-aggregate map-side; no cartesian") {
    val p = plan("text_substring_scrub")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere:\n$p")
    // the occurrence count must combine map-side — the exchange carries
    // (hash, partial count), not one row per gram occurrence
    assert(p.contains("partial_count"),
      s"gram occurrence count must partial-aggregate before its exchange:\n$p")
    // both scans of documents (gram pass + rebuild re-scan) are pruned
    // to the two columns the operator touches
    val schemas = "ReadSchema: struct<[^>]*>".r.findAllIn(p).toList
    assert(schemas.nonEmpty && schemas.forall(s =>
      !s.contains("lang") && !s.contains("source") && !s.contains("quality")),
      s"documents scans must read only (doc_id, text):\n${schemas.mkString("\n")}")
  }

  test("text_tfidf: documents scanned once — tf/df/N derive from one exploded aggregation") {
    val p = plan("text_tfidf")
    assert(p.split("FileScan parquet").length - 1 == 1,
      s"tf, df and the corpus doc count must reuse one scan+exchange:\n$p")
    assert(p.contains("ReusedExchange") || p.contains("ShuffleQueryStage"),
      s"downstream aggregations must reuse the token shuffle stage:\n$p")
  }

  test("q_mix_divergence: documents scanned once — corpus stats derive from group stats") {
    val p = plan("q_mix_divergence")
    assert(p.split("FileScan parquet").length - 1 == 1,
      s"corpusTf/groupN/corpusN must reuse the groupTf exchange, not re-scan:\n$p")
  }

  test("dedup_minhash_lsh banding: signature+banding fused into one aggregation") {
    // the fused DAG: signature+banding in ONE groupBy (candidate
    // de-dup downstream is a separate, deliberate shuffle — see
    // Dedup.minhashLshPairs)
    val docs = graft.Tables.documents(spark, sf001)
    val sh = graft.ops.Dedup.shingleHashes(docs, "doc_id", "text")
    val banded = graft.ops.Dedup.bandedBuckets(sh, 64, 16)
    banded.collect()
    val p = banded.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"fused signature+banding needs exactly one shuffle:\n$p")
    assert(p.contains("ngram_hashes"), "codegen'd shingle expr feeds the agg")
  }

  test("corpus_pipeline_mm: pairing is relational — no global window, no corpus-sized broadcast, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, ResolvedHint}
    val df = graft.SparkEntry.queries("corpus_pipeline_mm")(spark, sf001)
    // broadcast hints may only cover driver-bounded relations (the
    // connected-components map, duplicate-structure-sized) — never a
    // subtree that scans the image relation, which is corpus-sized at
    // crawl scale (the r19 `broadcast(ranked)` anti-pattern)
    df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
      .foreach { h =>
        assert(h.child.collectLeaves().forall(_.isInstanceOf[LocalRelation]),
          s"broadcast hint over a non-driver-bounded relation:\n${h.child}")
      }
    val p = plan("corpus_pipeline_mm")
    assert(!p.contains("Exchange SinglePartition"),
      s"no single-reducer stage anywhere — the global row_number pairing is banned:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"pairing must stay an equi-join on the bucket key:\n$p")
  }

  test("aggregate pushdown: bare MIN/MAX/COUNT answer from parquet footers, no data pages") {
    // The stats-only scan path: a 100 TB table's row count or column
    // extrema should cost footer reads, not a full scan. Needs the
    // DSv2 parquet reader (aggregate pushdown is v2-only) — flip both
    // confs for this test, restore after.
    val conf = spark.conf
    val prevV1 = conf.get("spark.sql.sources.useV1SourceList")
    val prevAgg = conf.get("spark.sql.parquet.aggregatePushdown", "false")
    try {
      conf.set("spark.sql.sources.useV1SourceList", "")
      conf.set("spark.sql.parquet.aggregatePushdown", "true")
      val df = spark.read.parquet(s"$sf001/orders.parquet")
        .agg(count(lit(1)).as("n"), min(col("o_orderkey")).as("lo"),
          max(col("o_orderkey")).as("hi"))
      val p = df.queryExecution.executedPlan.toString
      assert(p.contains("PushedAggregation") && p.contains("MIN(o_orderkey)"),
        s"expected the aggregate at the scan:\n$p")
      // and the footer answer must equal the data-page answer
      val r = df.collect().head
      conf.set("spark.sql.sources.useV1SourceList", prevV1)
      conf.set("spark.sql.parquet.aggregatePushdown", "false")
      val full = spark.read.parquet(s"$sf001/orders.parquet")
        .agg(count(lit(1)), min(col("o_orderkey")), max(col("o_orderkey")))
        .collect().head
      assert(r.getLong(0) == full.getLong(0) && r.getLong(1) == full.getLong(1) &&
        r.getLong(2) == full.getLong(2))
    } finally {
      conf.set("spark.sql.sources.useV1SourceList", prevV1)
      conf.set("spark.sql.parquet.aggregatePushdown", prevAgg)
    }
  }

  test("q_rolling / q_anomaly: ONE user-hash exchange feeds the frame window") {
    // the rolling-frame pair must shuffle exactly once (hash on
    // user_id for the RANGE window); the final presentation orderBy is
    // a range exchange, not a second hash — at 100 TB a second hash
    // shuffle of the event stream would dominate the query
    Seq("q_rolling", "q_anomaly").foreach { name =>
      val p = plan(name)
      assert(p.split("Exchange hashpartitioning").length - 1 == 1,
        s"$name needs exactly one hash shuffle:\n$p")
      assert(p.contains("RunningWindowFunction") || p.contains("Window"),
        s"$name: expected the frame window:\n$p")
    }
  }

  test("routed ranks: every unpartitioned window reads a TakeOrdered head or the bucket totals") {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    import graft.ops.RankPlans
    // every execution of the run, checkpoints included: an operator's
    // intermediate rank never reaches the final plan
    val plans = scala.collection.mutable.ArrayBuffer.empty[org.apache.spark.sql.execution.SparkPlan]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.synchronized { plans += qe.executedPlan }
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    val routed = Seq("q_zipf_fit", "q_cms_topk", "q_pca_outlier", "q_pack_global",
      "corpus_pipeline_v5", "ann_graph_search")
    spark.listenerManager.register(listener)
    try routed.foreach { name =>
      plans.synchronized(plans.clear())
      // RunMeter drains the listener bus before it returns
      graft.RunMeter.query(spark, name, sf001)(graft.RunMeter.noop)
      val seen = plans.synchronized(plans.toList)
      assert(seen.exists(RankPlans.global(_).nonEmpty), s"$name: no global rank was planned")
      val bad = seen.flatMap(RankPlans.unbounded)
      assert(bad.isEmpty, s"$name: an unpartitioned window over an unbounded input:\n${bad.mkString("\n")}")
    } finally spark.listenerManager.unregister(listener)
  }
}

/** Helper giving specs access to a query's executed plan string. */
object SparkEntryPlans {
  def executedPlan(spark: org.apache.spark.sql.SparkSession, name: String,
      dir: String): String = {
    val df = graft.SparkEntry.queries(name)(spark, dir)
    df.collect() // finalize the adaptive plan (codegen/broadcast decisions)
    // keep only the final adaptive plan (the string also echoes the
    // initial plan, which would double-count operators)
    df.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
  }
}
