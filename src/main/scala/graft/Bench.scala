package graft

/** Benchmark main: times every headline query on `SPARK_GRAFT_SF_DIR`,
  * writes the full record to `bench_artifact.json` and prints it, then
  * prints a lean JSON line LAST,
  * `{"metric":"total","value":N,"unit":"sec",…,"n_queries":K,"sf":…}`;
  * the per-query numbers live in the artifact only.
  *
  * Timing forces full materialization through the noop DSv2 sink (every
  * row produced, nothing collected to the driver) — `count()` alone
  * would let Catalyst prune aggregates and under-report scan cost.
  *
  * Every run goes through [[RunMeter.query]], so its jobs are tagged
  * `graft-query-<name>`. Besides wall time the artifact records the
  * metered per-query jobs and SHUFFLE and SPILL bytes (`jobs`,
  * `shuffle_bytes`, `spill_bytes`). Bytes are the stall-immune half of
  * the signal: a co-tenant CPU stall can triple a wall time but cannot
  * move a byte count, and shuffle volume is the number that predicts
  * 100 TB behavior — a query whose time regresses with unchanged bytes
  * hit the host; one whose bytes grew hit a plan regression.
  */
object Bench {
  import Verify.q

  /** Other java processes alive on the host at bench start — the known
    * confounder behind wall-time inflation on identical plans (the
    * round-13 driver record ran 1.45× the committed artifact with
    * byte-identical shuffle maps). The bench cannot evict co-tenants;
    * it CAN leave an audit trail: each competing JVM's cmdline head
    * goes to stderr and the count into the artifact, so a future
    * inflated record carries its own explanation. The forked run's own
    * ancestor chain (sbt, and whatever launched sbt) is expected and
    * excluded. */
  private def competingJvms(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val ancestors = Iterator.iterate(Option(ProcessHandle.current)) {
      _.flatMap(h => Option(h.parent.orElse(null)))
    }.takeWhile(_.isDefined).take(16).flatMap(_.map(_.pid)).toSet
    ProcessHandle.allProcesses().iterator().asScala
      .filterNot(h => ancestors.contains(h.pid))
      .flatMap { h =>
        val cmd = h.info.commandLine.orElse(h.info.command.orElse(""))
        if (cmd.contains("java")) Some(s"pid=${h.pid} ${cmd.take(160)}")
        else None
      }.toSeq
  }

  /** The ONE exclusion from the timing headline, by rule: a query
    * whose design is a deliberately QUADRATIC diagnostic (all-pairs
    * exact Jaccard — it exists to validate its scalable banded twin
    * `dedup_minhash_lsh`, which IS benched). Everything else declared
    * in `SparkEntry.queries` is timed, so the headline count is
    * auditable as |queries| − |excluded| (round-10 directive #5: the
    * previous hand-curated list silently dropped 6 declared names). */
  val excludedFromHeadline: Set[String] = Set("dedup_jaccard_top")

  /** Headline set = every declared query minus [[excludedFromHeadline]],
    * in sorted order (order is irrelevant to the min-of-interleaved-
    * rounds protocol below; sorted keeps the artifact diffable). */
  def headline: Seq[String] =
    SparkEntry.queries.keys.toSeq.sorted.filterNot(excludedFromHeadline)

  /** Per-query wall-time budgets (seconds) at sf0.1, set ~2× the quiet-
    * host min-of-3 so only real regressions (or sustained stalls) trip. */
  val budgetsSf01: Map[String, Double] = Map(
    // relational + sync core (quiet mins 0.24-1.08 s; driver host runs
    // ~1.5-2× slower than a quiet local measure, budgets sized off the
    // r7 driver artifact ×2 with a 2 s floor)
    "q1_agg" -> 2.0,
    "q3_top_orders" -> 2.5,
    "q5_region_revenue" -> 4.0,
    "q_window_top_orders" -> 3.0,
    "q_events_hourly" -> 2.0,
    "d2_rules_join" -> 2.0,
    "d12_cdc_last_state" -> 2.0,
    "d1_snapshot_diff" -> 3.0,
    "sync_pipeline_filtered" -> 3.0,
    "dedup_minhash_lsh" -> 20.0,
    // the uniform walk's budget shape: graph build dominates; the
    // per-query-entry join adds one broadcast of a cell-count-sized rel
    "ann_graph_search_seeded" -> 16.0,
    // graph build + seeded walk + exact ground truth + metric fold
    "q_retrieval_eval_graph_seeded" -> 16.0,
    // index build (4/5 corpus) + batch probe + pruned verify
    "dedup_incremental" -> 15.0,
    "dedup_simhash" -> 10.0,
    "ann_topk" -> 4.0,
    "ann_lsh" -> 4.0,
    "ann_ivf" -> 15.0,
    "text_stats" -> 5.0,
    "dedup_exact" -> 3.0,
    "multimodal_meta" -> 3.0,
    "q_asof_join" -> 6.0,
    "q_sessionize" -> 5.0,
    "q_pivot" -> 4.0,
    "b10_zip_roundtrip" -> 8.0,
    "q_rollup" -> 3.0,
    "q_cube" -> 3.0,
    // one Expand pass over orders, same exchange as rollup/cube
    "q_grouping_sets" -> 3.0,
    // largest relational join graph: 3 fact-side hash joins + 2
    // broadcast dims + year rollup
    "q7_volume_shipping" -> 4.0,
    "q_skew_topk" -> 3.0,
    "q_percentiles" -> 5.0,
    "q_distinct_agg" -> 3.0,
    "q_semi_join" -> 3.0,
    "q_anti_join" -> 3.0,
    "q_set_ops" -> 3.0,
    "q_above_type_avg" -> 3.0,
    "d10_json_projection" -> 3.0,
    "b7_path_derivation" -> 3.0,
    "b8_serialize" -> 3.0,
    "dedup_embedding_cos" -> 3.0,
    // cell-scoped pair search: cell-keyed self-join (broadcast under
    // AQE at gate scale) + map-side-reduced exemplar agg
    "dedup_semantic" -> 3.0,
    // cell-partitioned index write + partition-pruned batch probe
    "dedup_semantic_incremental" -> 5.0,
    "text_fingerprint" -> 3.0,
    "text_lang_id" -> 3.0,
    // zero-exchange scan kernel (hashed_score expression)
    "text_quality_classifier" -> 3.0,
    "multimodal_frames" -> 3.0,
    "ann_pq" -> 12.0,
    "ann_ivfpq" -> 10.0,
    // pruned production modes: strictly less work than their oracle
    // twins (fewer probed cells, capped shortlist)
    "ann_ivf_pruned" -> 15.0,
    "ann_ivfpq_pruned" -> 10.0,
    // size-dispatched components (r8): quiet min 1.4 s; headroom for
    // the driver host
    "dedup_cluster" -> 6.0,
    "q_range_join" -> 3.0,
    "q_overlap_join" -> 4.0,
    "q_sample_mix" -> 3.0,
    "corpus_curation" -> 4.0,
    // composes curation + full cluster dedup (quiet min 1.8 s sf0.1
    // after the r8 size-dispatched components)
    "corpus_curation_neardup" -> 8.0,
    "text_tfidf" -> 5.0,
    "q_mix_divergence" -> 4.0,
    "q_sample_quota" -> 4.0,
    // round-8 corpus-ops family (quiet mins measured 2026-08-13)
    "text_gopher_quality" -> 3.0,
    "text_decontaminate" -> 4.0,
    // adds the sketch-build aggregation + count over the bench split
    "text_decontaminate_bloom" -> 5.0,
    "text_pii_scrub" -> 4.0,
    "q_pack_shards" -> 3.0,
    "q_pack_global" -> 3.0,
    "q_mix_temperature" -> 3.0,
    "q_mix_apply" -> 3.0,
    // full composed build: gate → curate → cluster collapse →
    // decontaminate → pack (quiet min 3.2 s sf0.1, 5.9 s sf1)
    "corpus_pipeline" -> 9.0,
    // clustered write + filtered re-read (quiet min 0.7 s sf0.1)
    "q_layout_scan" -> 5.0,
    // z-ordered write (adds the bounds agg + 32-term z projection)
    "q_layout_zorder" -> 5.0,
    // two bucketed writes (each pays its one exchange) + the join
    "q_bucket_join" -> 8.0,
    // BM25 pair (quiet mins 0.70 / 1.95 s sf0.1; the indexed path pays
    // its postings write inside the timed query)
    "text_bm25" -> 2.0,
    "text_bm25_indexed" -> 4.0,
    // narrow zero-shuffle chunking / two-sketch single-pass HLL
    // (quiet mins 0.67 / 1.07 s sf0.1)
    "text_chunk" -> 2.0,
    "q_hll_distinct" -> 3.0,
    // span df + kept-list agg + pruned rebuild rescan (quiet min 1.41 s)
    "text_span_scrub" -> 3.0,
    // vocab agg + 4x16-cell sketch (quiet min 0.79 s, flat to sf1)
    "q_cms_topk" -> 2.0,
    // per-group exponential-key top-k (quiet min 0.52 s, flat to sf1)
    "q_sample_weighted" -> 2.0,
    // one corpus pass + 10 vocab-sized iterations, each localCheckpointed
    // (quiet min 3.33 s sf0.1, FLAT to sf1 — iteration cost is vocab-bound)
    "text_rank" -> 7.0,
    // bin histogram + bounded per-group window over ≤ bins rows
    "q_quantile_sketch" -> 3.0,
    // sf-independent fixture scan (18 pages) + O(|html|) codegen'd
    // extraction walk per page
    "text_html_extract" -> 3.0,
    // sf-independent fixture scan (40 files) + O(header) byte probe
    "multimodal_real" -> 3.0,
    // sf-independent fixture scan (14 files) + O(header) container walk
    "multimodal_audio" -> 3.0,
    // sf-independent fixture scan (15 files) + per-blob decode; banding,
    // Hamming verify, and components run over 15 64-bit signatures
    "multimodal_phash_dedup" -> 4.0,
    // fixture-sized store build (10 sigs) + batch probe (5 sigs)
    "multimodal_phash_inc" -> 4.0,
    // 7-clip fixture scan + per-frame decode (22 frames); banding,
    // dual verify, evidence count, components over 22 signatures
    "multimodal_video_dedup" -> 4.0,
    // fixture-sized (15-pair) cross-modal IVF probe + brute-force
    // ground truth + the shared metric fold
    "q_retrieval_eval_mm" -> 4.0,
    // scan-speed caption gates + fixture-sized image component chain +
    // one pair window + the pack window — no corpus-wide text shuffles
    "corpus_pipeline_mm" -> 10.0,
    // v1 + chunk-level span scrub over survivors (narrow hash exchanges)
    "corpus_pipeline_v2" -> 12.0,
    // v2 + the classifier gate fused into the scan predicate: less
    // work downstream (fewer survivors), same exchange structure
    "corpus_pipeline_v3" -> 12.0,
    // hash + TakeOrdered cut; rank window sees <= k rows
    "q_sample_reservoir" -> 3.0,
    // single-filter scans (pushdown-gated in PlanQualitySpec) — in the
    // headline since r11 so the declared surface is benched whole
    "b3_verb_filter" -> 3.0,
    "b4_subresource_filter" -> 3.0,
    "d6_glob_match" -> 3.0,
    "d7_namespace_filter" -> 3.0,
    "d11_scrub" -> 3.0,
    // min/max pre-pass + bin histogram + bounded per-group window
    "q_quantile_sketch2" -> 3.0,
    // index write + filtered exhaustive probe (oracle tax, cf. ann_ivf)
    "ann_filtered" -> 15.0,
    // one scan, one group-by exchange over 10 labels
    "q_embedding_stats" -> 3.0,
    // one scan + multi-distinct expand to a single row
    "q_profile" -> 3.0,
    // user-keyed agg + user equi-join with residual time band
    "q_funnel" -> 3.0,
    // three chained user-keyed min-aggs + equi-joins (shrinking relations)
    "q_funnel_steps" -> 3.0,
    // per-user RANGE-frame sliding sum over integer cents
    "q_rolling" -> 4.0,
    // same frame machinery + integer z-score filter
    "q_anomaly" -> 4.0,
    // hourly grid explode + per-user carry-forward window (output-heavy)
    "q_resample_ffill" -> 6.0,
    // two user-keyed aggs + one user equi-join
    "q_retention" -> 3.0,
    // hash projection + per-type bottom-k windows over ≤ k rows
    "q_quantile_kmv" -> 3.0,
    // profile scan + melted per-column bottom-k sketch + tiny join
    "q_profile_quantiles" -> 4.0,
    // Rounds 14–16 surface, budgeted in round 16 at ~3× the quiet-host
    // min (calibration 0.852 s vs the 0.850 s reference — so these are
    // quiet numbers; the 3× margin absorbs the observed 1.4× host
    // sessions with room to spare), floor 2 s. Closing the gap where
    // only the ≤ r13 surface was budget-gated.
    "ann_graph_search" -> 11.5,
    "ann_ivfpq_opq" -> 8.0,
    "ann_ivfpq_opq_pruned" -> 8.0,
    "ann_ivfpq_res" -> 6.5,
    "ann_ivfpq_res_pruned" -> 7.0,
    "ann_ivfsq" -> 3.5,
    "ann_ivfsq_pruned" -> 3.0,
    "ann_knn_graph" -> 7.5,
    "ann_lsh_multiprobe" -> 5.0,
    "ann_opq" -> 6.0,
    "ann_opq_iter" -> 11.0,
    "ann_pca" -> 2.0,
    "ann_sq8" -> 2.0,
    "corpus_pipeline_v4" -> 12.0,
    "dedup_containment_collapse" -> 4.5,
    "dedup_containment_join" -> 4.0,
    "dedup_jaccard_join" -> 5.0,
    "q_cluster_eval" -> 2.0,
    "q_drift" -> 2.0,
    "q_dsir_weights" -> 4.5,
    "q_graph_clusters" -> 8.5,
    "q_pca_outlier" -> 2.0,
    "q_pca_variance" -> 2.0,
    "q_sample_dsir" -> 4.5,
    "q_split_leakage" -> 5.0,
    "q_zipf_fit" -> 2.0,
    "text_bpe_encode" -> 5.5,
    "text_bpe_train" -> 4.5,
    "text_calibration_fit" -> 3.0,
    "text_calibration_fitted" -> 2.0,
    "text_classifier_calibration" -> 2.0,
    "text_decontaminate_spans" -> 4.0,
    "text_lm_kn" -> 4.0,
    "text_lm_perplexity" -> 3.0,
    "text_ppl_buckets" -> 6.5,
    "text_quality_audit" -> 2.0,
    "text_substring_scrub" -> 5.5,
    "text_substring_scrub_inc" -> 5.5,
    // keep-first block rank + reassembly agg (quiet min 0.90 s sf0.1, flat to sf1)
    "text_paragraph_dedup" -> 3.0,
    // 6191-cell (A,B) grid x the bounded histogram (quiet min 3.3 s, sf-independent)
    "text_calibration_platt" -> 10.0,
    // the round-16 gap (ledger directive): BPE train + encode + global
    // prefix-sum pack (quiet min 2.0 s sf0.1)
    "q_pack_bpe" -> 6.0,
    // Round-17 surface, ~3x quiet mins (the round-16 sizing convention).
    // Graph build + index write + bucket-pruned serve (quiet 5.1 s)
    "ann_graph_search_indexed" -> 13.0,
    // platt fit + one audit-sized binning on top of text_calibration_platt
    "text_calibration_platt_fitted" -> 11.0,
    // batch-only shingling + pruned index probe: strictly less work
    // than the full containment join
    "dedup_containment_inc" -> 4.0,
    // v4 + the DSIR feature store/model/Gumbel selection stage
    "corpus_pipeline_v5" -> 15.0,
    // two gated epochs of the paragraph keep-first rank + store probe
    "text_paragraph_dedup_inc" -> 4.5,
    // scoring + one bounded histogram + driver PAV + an audit binning
    // (sf-independent fixture)
    "text_calibration_isotonic" -> 3.0,
    // lossless prefix probe: index write + batch-sized candidate join
    "dedup_jaccard_inc" -> 6.0,
    // same build + walk as ann_graph_search plus one answer semi-join
    "ann_graph_search_filtered" -> 12.0,
    // the ann_graph_search_indexed gate (build + index write + indexed
    // walk) plus the answer-side semi-join
    "ann_graph_search_filtered_indexed" -> 12.0,
    // q_hybrid_rrf's two rankers plus one SQ8 code scan + 3-way fusion
    "q_hybrid_rrf3" -> 6.0,
    // two epoch appends (the corpus split once each) + the pruned probe
    "text_bm25_epochs" -> 6.0,
    // BM25 term-pruned pass + one salted cosine top-m + bounded fusion
    "q_hybrid_rrf" -> 5.0,
    // builds BOTH on-disk indexes in-query, then the pruned probes
    "q_hybrid_rrf_indexed" -> 8.0,
    // two model-sized top-k lists joined + integer metric folds
    "q_retrieval_eval" -> 5.0,
    // each: the family's pruned train+probe chain + the metric fold
    "q_retrieval_eval_pq" -> 6.0,
    "q_retrieval_eval_ivfpq" -> 8.0,
    "q_retrieval_eval_res" -> 8.0,
    "q_retrieval_eval_opq" -> 10.0,
    // the q_hybrid_rrf plan + one exact dense pass + the metric fold
    "q_retrieval_eval_hybrid" -> 6.0,
    // one salted top-m + a 20x20 sim matrix + the driver greedy fold
    "q_retrieval_mmr" -> 4.0,
    // batch-only signing + block-equality probe of the persisted store
    "dedup_simhash_inc" -> 6.0,
    // the q_hybrid_rrf plan + one 15-row re-score + the greedy fold
    "q_retrieval_pipeline" -> 6.0,
    // builds both stores in-query + the pruned probes + the same tail
    "q_retrieval_pipeline_indexed" -> 10.0,
    // the ann_graph_search build + walk plus the bounded metric fold
    "q_retrieval_eval_graph" -> 12.0,
    // one cell assignment + a cell-restricted rank + the exact pass
    "q_retrieval_eval_ivf" -> 5.0,
    // the ann_sq8 integer estimator + the exact pass + metric fold
    "q_retrieval_eval_sq" -> 6.0,
    // two brute-force cosine passes (32- and 64-dim) + metric fold
    "q_retrieval_eval_trunc" -> 5.0,
    // the lossless prefix join + one portable-signature pass
    "dedup_est_error" -> 8.0,
    // the text_bpe_encode plan with a lang-level group-by tail
    "text_bpe_fertility" -> 6.0,
    // the multiprobe candidate join + one exact pass + metric fold
    "q_retrieval_eval_lsh_mp" -> 5.0)

  /** FIXED-WORK single-core calibration kernel: 4·10⁸ xorshift64 steps
    * — pure register arithmetic, no allocation, no memory traffic, so
    * its wall time tracks the host's effective single-thread speed and
    * nothing else. The round-15 verdict's recurring finding: byte-
    * identical plans drifted 1.40× fleet-wide between round artifacts
    * because the HOST was slower that session (below the competing-JVM
    * check's radar). Recording this scalar beside the totals lets any
    * cross-round comparison self-normalize:
    * `value_normalized = value · (REF / calibration_sec)`.
    * Returns (seconds, checksum) — the checksum defeats DCE and is
    * emitted so the work is auditable as identical across rounds. */
  private[graft] def xorshiftSlice(seed: Long, steps: Long): Long = {
    var x = seed
    var i = 0L
    while (i < steps) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    x
  }

  private[graft] def calibrationRun(): (Double, Long) = {
    val t0 = System.nanoTime()
    val x = xorshiftSlice(0x9E3779B97F4A7C15L, 400000000L)
    ((System.nanoTime() - t0) / 1e9, x)
  }

  /** ALL-CORES calibration kernel — the blind spot the round-18
    * verdict named: the official r18 artifact ran ~17 % slower than a
    * same-code builder run at IDENTICAL single-thread calibration,
    * because co-tenant load steals PARALLEL throughput (scheduler
    * slots, SMT siblings, turbo headroom) that one pinned register
    * loop never observes. Every available core runs a fixed 10⁸-step
    * xorshift slice simultaneously; the wall is the slowest slice, so
    * contention for cores shows up here even when the single-thread
    * kernel reads quiet. Checksum = sum of the per-slice finals
    * (seeds `base + t`) — recomputable serially, so the work is
    * auditable; it varies with the core count, which the spec
    * recomputes rather than pins. */
  private[graft] def calibrationParRun(): (Double, Long) = {
    val n = Runtime.getRuntime.availableProcessors
    val finals = new java.util.concurrent.atomic.AtomicLong(0L)
    val threads = (0 until n).map { t =>
      new Thread(() => {
        finals.addAndGet(xorshiftSlice(0x9E3779B97F4A7C15L + t, 100000000L))
        ()
      })
    }
    val t0 = System.nanoTime()
    threads.foreach(_.start())
    threads.foreach(_.join())
    ((System.nanoTime() - t0) / 1e9, finals.get())
  }

  /** [[calibrationParRun]] reference (min of 5, 2026-08-16 quiet
    * session, 32 cores — ¼ of the single-thread wall, i.e. all cores
    * delivered full speed simultaneously). par_sec/par_ref ≫ sec/ref
    * is the signature of multi-core contention the single-thread
    * kernel cannot see. */
  private[graft] val ReferenceCalibrationParSec = 0.200

  /** 1-minute load average from /proc/loadavg (−1 where unreadable) —
    * the direct co-tenancy witness the r18 artifact lacked: recorded
    * at run start and end, so a divergent record shows whether the
    * HOST was busy without needing a same-code re-run to prove it. */
  private[graft] def loadAvg1(): Double =
    try new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get("/proc/loadavg")),
        java.nio.charset.StandardCharsets.UTF_8).split(" ")(0).toDouble
    catch { case scala.util.control.NonFatal(_) => -1.0 }

  /** (steal, total) jiffies from /proc/stat's aggregate cpu line —
    * the hypervisor-contention counter; the steal FRACTION over the
    * run interval goes in the artifact. (0, 0) where unreadable. */
  private[graft] def cpuStatTicks(): (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get("/proc/stat")),
          java.nio.charset.StandardCharsets.UTF_8)
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  /** The committed reference for [[calibrationRun]] on a QUIET driver
    * host (min of 5 interleaved samples, 2026-08-15 session). A future
    * round's artifact normalizes against this: calibration_sec above
    * REF ⇒ the host was that factor slower, and raw walls inflate by
    * the same factor on unchanged plans. */
  private[graft] val ReferenceCalibrationSec = 0.850

  /** MEMORY-BANDWIDTH calibration: stream-sum a 64 MB long array 16
    * times (1 GB of DRAM reads — far past any cache, so the wall
    * tracks effective memory bandwidth). The companion blind-spot
    * probe to [[calibrationRun]]: measured this round, a session can
    * show cal_cpu only 1.03× the reference while byte-identical plans
    * run 1.31× — co-tenant MEMORY traffic that pure-register xorshift
    * cannot see but shuffle/scan-bound Spark pays in full. A record
    * whose walls inflate beyond what `sec/ref` explains should find
    * the remainder in `mem_sec/mem_ref`. */
  private[graft] def calibrationMemRun(): (Double, Long) = {
    val n = 1 << 23
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
    var s = 0L
    // untimed warm passes: the sum loop only reaches its C2/vectorized
    // form after ~3 traversals — timing cold passes would measure JIT
    // tiering, not bandwidth (observed 0.21 s cold vs 0.085 s warm)
    var w = 0
    while (w < 4) {
      var j = 0
      while (j < n) { s += a(j); j += 1 }
      w += 1
    }
    val t0 = System.nanoTime()
    var r = 0
    while (r < 16) {
      var j = 0
      while (j < n) { s += a(j); j += 1 }
      r += 1
    }
    ((System.nanoTime() - t0) / 1e9, s)
  }

  /** [[calibrationMemRun]] reference (min of 5 calls, same 2026-08-15
    * session as the CPU reference; quiet-session min-of-4 with the
    * in-method warm passes — partially-warm or loaded sessions measure
    * 0.12–0.21 s, so treat mem_sec/mem_ref ≫ 1 as bandwidth contention
    * only when the CPU ratio stays near 1). */
  private[graft] val ReferenceCalibrationMemSec = 0.054

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val jvms = competingJvms()
    jvms.foreach(j => System.err.println(s"[bench] competing JVM: $j"))
    // host-speed calibration, half the samples up front (min over all
    // wins — a stall can only inflate a sample, never deflate it)
    val kernels = Seq(calibrationRun _, calibrationMemRun _, calibrationParRun _)
    val calStarts = kernels.map(k => (1 to 2).map(_ => k()))
    val loadStart = loadAvg1()
    val statStart = cpuStatTicks()

    // Warm the JVM/codegen once so measured times are compute, not
    // first-call classloading. A warmup failure must not kill the run
    // before the JSON artifact exists — the measured rounds will
    // surface the same error as a per-query hard failure.
    // NonFatal only: an OutOfMemoryError/VM failure must abort the run —
    // timings measured after one are untrustworthy.
    try RunMeter.query(spark, "q1_agg", sfDir)(RunMeter.noop)
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] warmup failed: ${e.getMessage}") }

    // Optional comma-separated subset for focused local iteration, e.g.
    // SPARK_GRAFT_BENCH_QUERIES=dedup_minhash_lsh,dedup_simhash.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_QUERIES")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // A subset naming no valid query must fail loudly, not print a
    // clean-looking zero-total result.
    subset.foreach { s =>
      val unknown = s -- headline.toSet
      if (unknown.nonEmpty)
        System.err.println(s"[bench] WARNING: unknown subset queries: ${unknown.toSeq.sorted.mkString(",")}")
      if (s.intersect(headline.toSet).isEmpty) {
        System.err.println(s"[bench] FATAL: subset matches no headline query")
        spark.stop()
        sys.exit(2)
      }
    }
    val present = headline.filter(n => subset.forall(_.contains(n)))
    // A sample that THROWS must never masquerade as a fast run: an
    // instant failure records a near-zero wall time, wins the min, and
    // sails under every budget (exactly how the seed-selection bug at
    // sf1 hid inside a "0.2 s" ann_ivf for a full round). A failed
    // sample therefore contributes +∞ — the min only ever reflects
    // samples that produced every row. A query with NO successful
    // sample stays infinite, is reported in `failures`, and is forced
    // into `budget_violations` with sentinel 9999 (never into the
    // finite `queries`/total numbers). None is a failed sample.
    def timeOnce(name: String): Option[RunMeter.Run[Unit]] =
      try Some(RunMeter.query(spark, name, sfDir)(RunMeter.noop))
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        None
      }
    def wall(r: Option[RunMeter.Run[Unit]]): Double = r.fold(Double.PositiveInfinity)(_.wallSec)
    // Three timed rounds, INTERLEAVED (round 1 of every query before
    // round 2 of any), min per query: the shared VM shows intermittent
    // multi-minute stalls (high host sys-time), and back-to-back samples
    // of one query can both land inside a single stall window —
    // interleaving spreads a query's samples minutes apart so one stall
    // can contaminate at most one of them.
    val rounds = (1 to 3).map(_ => present.map(n => n -> timeOnce(n)).toMap)
    val firstPass = present.map(n => n -> rounds.map(r => wall(r(n))).min)
    // Per-query bytes: min over SUCCESSFUL samples. Shuffle volume is
    // deterministic modulo AQE runtime decisions; the min is the
    // leanest plan observed and is what byte budgets would gate on.
    def byteMin(sel: RunMeter.Run[Unit] => Long): Seq[(String, Long)] =
      present.flatMap(n => rounds.flatMap(_(n)).map(sel).minOption.map(n -> _))
    val shuffleBytes = byteMin(_.shuffleWriteBytes)
    val spillBytes = byteMin(_.spillBytes)
    // GC ms and jobs of the WINNING (min-wall) sample per query: even
    // the best observed run's time decomposes into compute + this. GC
    // ms is the wall-time-inflation attributor — a sample whose wall
    // runs hot WITH a hot GC delta hit memory pressure, one without hit
    // the host.
    val winners = present.flatMap(n => rounds.flatMap(_(n)).minByOption(_.wallSec).map(n -> _))
    val gcOfMin = winners.map { case (n, w) => n -> w.gcMs }
    val jobsOfMin = winners.map { case (n, w) => n -> w.jobs.toLong }
    val budgets = if (sfDir.endsWith("sf0.1")) budgetsSf01 else Map.empty[String, Double]
    val firstViolations = firstPass.filter { case (n, t) => budgets.get(n).exists(t > _) }

    // Stall adjudication: a co-tenant stall long enough to swallow all
    // three interleaved samples of one query (seen in round 5: 60.9 s
    // recorded vs 6.5 s re-measured 18 min later on the same commit) is
    // indistinguishable from a regression in the first pass alone. So a
    // budget violation triggers an automatic SOLO re-measure — 4 extra
    // samples per violator, spaced ~20 s apart so they cannot all sit in
    // one stall window — and only a query whose re-measured min ALSO
    // violates is reported as a budget violation. Both numbers stay in
    // the artifact so a stall leaves an audit trail instead of a red gate.
    val remeasured: Map[String, Double] =
      if (firstViolations.isEmpty) Map.empty
      else {
        val names = firstViolations.map(_._1)
        System.err.println(s"[bench] re-measuring solo (stall check): ${names.mkString(",")}")
        val extras = (1 to 4).map { r =>
          if (r > 1) Thread.sleep(20000)
          names.map(n => n -> wall(timeOnce(n))).toMap
        }
        names.map(n => n -> extras.map(_(n)).min).toMap
      }

    // Final per-query time: min over every sample taken (interleaved
    // rounds plus any solo re-measure) — the best observed quiet time.
    val allResults = firstPass.map { case (n, t) =>
      n -> math.min(t, remeasured.getOrElse(n, Double.PositiveInfinity))
    }
    // Hard failures (no successful sample anywhere) stay infinite —
    // excluded from the finite per-query numbers, always violating.
    val (results, failed) = allResults.partition(_._2.isFinite)
    val failures = failed.map(_._1)
    failures.foreach(n => System.err.println(s"[bench] HARD FAILURE: $n never completed"))
    val violations = results.filter { case (n, t) => budgets.get(n).exists(t > _) } ++
      failures.map(_ -> 9999.0)
    firstViolations.foreach { case (n, t) =>
      val re = remeasured(n)
      val verdict = if (budgets.get(n).exists(re > _)) "CONFIRMED" else "stall (cleared)"
      System.err.println(
        f"[bench] BUDGET VIOLATION first-pass: $n $t%.1f s, solo re-measure $re%.1f s (budget ${budgets(n)}%.1f s) → $verdict")
    }
    // Non-finite values (hard-failure sentinels) must never reach the
    // JSON line — clamp to the 9999 failure sentinel.
    def num(v: Double): String = f"${if (v.isFinite) v else 9999.0}%.3f"
    def obj(kv: Seq[(String, Double)]): String =
      kv.map { case (k, v) => s"${q(k)}:${num(v)}" }.mkString("{", ",", "}")
    def objL(kv: Seq[(String, Long)]): String =
      kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val extraJson = new StringBuilder
    if (firstViolations.nonEmpty) {
      extraJson ++= s""","first_pass_violations":${obj(firstViolations)}"""
      extraJson ++= s""","remeasured_solo":${obj(remeasured.toSeq.sortBy(_._1))}"""
    }
    // Record when a subset was active so a partial run's lower total can
    // never be mistaken for a full-gate result in round artifacts; emit
    // only the validated names that actually ran. Both lines carry these.
    val runNotes =
      (if (subset.isDefined) s""","subset":${present.sorted.map(q).mkString("[", ",", "]")}""" else "") +
      (if (failures.nonEmpty) s""","failures":${failures.sorted.map(q).mkString("[", ",", "]")}""" else "")
    extraJson ++= runNotes
    extraJson ++= s""","shuffle_bytes":${objL(shuffleBytes)}"""
    extraJson ++= s""","spill_bytes":${objL(spillBytes.filter(_._2 > 0))}"""
    // Full-artifact-only session-noise audit trail (round-13 "What's
    // wrong" #1): every interleaved sample per query (so a divergent
    // record shows WHICH samples inflated and by how much), the GC ms
    // inside each query's winning sample, and the competing-JVM count
    // observed at start (the cmdlines are on stderr).
    extraJson ++= s""","samples":${
      present.map { n =>
        s"${q(n)}:" + rounds.map(r => num(wall(r(n)))).mkString("[", ",", "]")
      }.mkString("{", ",", "}")}"""
    extraJson ++= s""","gc_ms":${objL(gcOfMin.filter(_._2 > 0))}"""
    extraJson ++= s""","jobs":${objL(jobsOfMin)}"""
    extraJson ++= s""","competing_jvms":${jvms.length}"""
    // close the calibration sampling (other half at the end) and emit
    // the host-speed scalar + the self-normalized total next to raw —
    // the round-15 verdict's cross-session noise mitigation
    val calAlls = kernels.zip(calStarts).map { case (k, s) => s ++ (1 to 2).map(_ => k()) }
    val Seq(calSec, calMemSec, calParSec) = calAlls.map(_.map(_._1).min)
    val loadEnd = loadAvg1()
    val statEnd = cpuStatTicks()
    val stealFrac =
      if (statEnd._2 > statStart._2)
        (statEnd._1 - statStart._1).toDouble / (statEnd._2 - statStart._2)
      else 0.0
    val totalNorm = total * (ReferenceCalibrationSec / calSec)
    // the PARALLEL normalization is the honest one for a 32-thread
    // local-mode run: Spark pays multi-core contention in full even
    // when the single-thread kernel reads quiet (r18 What's-wrong #2)
    val totalNormPar = total * (ReferenceCalibrationParSec / calParSec)
    extraJson ++= f""","calibration":{"sec":$calSec%.3f,"ref":$ReferenceCalibrationSec%.3f,"checksum":"${calAlls.head.head._2}%016x","mem_sec":$calMemSec%.3f,"mem_ref":$ReferenceCalibrationMemSec%.3f,"par_sec":$calParSec%.3f,"par_ref":$ReferenceCalibrationParSec%.3f}"""
    extraJson ++= f""","host":{"loadavg_start":$loadStart%.2f,"loadavg_end":$loadEnd%.2f,"steal_frac":$stealFrac%.4f}"""
    extraJson ++= f""","value_normalized":$totalNorm%.3f"""
    extraJson ++= f""","value_normalized_par":$totalNormPar%.3f"""
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":${obj(results)},"budget_violations":${obj(violations)}$extraJson,"sf":${q(sfDir)}}"""
    // Full-fidelity record (per-query 3-decimal timings + byte metrics +
    // stall diagnostics) goes to a stable file the round commits — the
    // driver's output capture keeps only the LAST ~2000 chars, and
    // BENCH_r08/r09 both lost their per-query maps when the only copy of
    // this line straddled that cap.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_artifact.json"), fullLine + "\n")
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] WARNING: bench_artifact.json not written: ${e.getMessage}") }
    println(fullLine)
    // Lean twin printed LAST so one COMPLETE parseable JSON line always
    // sits inside the 2000-char output tail a caller parses: the per-query
    // maps (3–4 KB at 178 queries) live in bench_artifact.json only.
    val leanViolations =
      if (violations.isEmpty) ""
      else s""","budget_violations":${violations.map { case (k, v) =>
        s"${q(k)}:" + String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
      }.mkString("{", ",", "}")}"""
    println(f"""{"metric":"total","value":$total%.2f,"unit":"sec","value_normalized":$totalNorm%.2f,"calibration_sec":$calSec%.2f,"n_queries":${results.length}$leanViolations$runNotes,"sf":${q(sfDir)}}""")
    spark.stop()
  }
}
