package graft.queries

import graft.Tables
import graft.operators.{AsOfJoin, Sessionize}
import graft.ops.IvfIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Second wave of the query surface: set operations, distinct and
  * grouping-set aggregates, semi/anti joins, as-of join, sessionization,
  * IVF similarity — operators beyond the reference's own inventory that
  * a complete analytics engine needs (SURVEY.md §2.4 "absent" rows and
  * §7.2.8 extensions). Same oracle conventions as [[QueryCatalog]].
  */
object ExtraQueries {
  import QueryCatalog.Q

  /** Anti join: customers with no finalized ('F') order (NOT EXISTS —
    * the unfiltered variant is empty at every SF, so filter the build
    * side to keep the result checkable). */
  val qAntiJoin: Q = (s, dir) => {
    val cust = Tables.customer(s, dir)
    val ord = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select("o_custkey")
    cust.join(ord, cust("c_custkey") === ord("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey"))
  }
  val qAntiJoinSql: String =
    """SELECT c_custkey, c_name FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
      |ORDER BY c_custkey""".stripMargin

  /** Semi join: parts that appear in at least one lineitem (EXISTS). */
  val qSemiJoin: Q = (s, dir) => {
    val part = Tables.part(s, dir)
    val li = Tables.lineitem(s, dir).select("l_partkey")
    part.join(li, part("p_partkey") === li("l_partkey"), "left_semi")
      .select(col("p_partkey"), col("p_brand"))
      .orderBy(col("p_partkey"))
  }
  val qSemiJoinSql: String =
    """SELECT p_partkey, p_brand FROM part
      |WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_partkey = p_partkey)
      |ORDER BY p_partkey""".stripMargin

  /** Set ops: union / intersect / except of key sets, tagged. */
  val qSetOps: Q = (s, dir) => {
    val a = Tables.orders(s, dir).filter(col("o_orderstatus") === "F")
      .select(col("o_custkey").as("k"))
    val b = Tables.orders(s, dir).filter(col("o_orderstatus") === "O")
      .select(col("o_custkey").as("k"))
    val inter = a.intersect(b).withColumn("tag", lit("both"))
    val onlyA = a.except(b).withColumn("tag", lit("only_f"))
    val onlyB = b.except(a).withColumn("tag", lit("only_o"))
    inter.unionByName(onlyA).unionByName(onlyB)
      .orderBy(col("tag"), col("k"))
  }
  val qSetOpsSql: String =
    """WITH a AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
      |b AS (SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O')
      |SELECT k, 'both' AS tag FROM (SELECT k FROM a INTERSECT SELECT k FROM b)
      |UNION ALL
      |SELECT k, 'only_f' AS tag FROM (SELECT k FROM a EXCEPT SELECT k FROM b)
      |UNION ALL
      |SELECT k, 'only_o' AS tag FROM (SELECT k FROM b EXCEPT SELECT k FROM a)
      |ORDER BY tag, k""".stripMargin

  /** Exact + approximate distinct aggregation. The approximate twin
    * (`approx_count_distinct`, HLL) runs in DistinctSpec against a
    * relative-error bound — sketches are engine-specific so only the
    * exact side carries an oracle. */
  val qDistinctAgg: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("l_returnflag"))
  }
  val qDistinctAggSql: String =
    """SELECT l_returnflag,
      |  count(DISTINCT l_partkey) AS n_parts,
      |  count(DISTINCT l_suppkey) AS n_supps,
      |  count(*) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin

  /** ROLLUP grouping sets over orders. */
  val qRollup: Q = (s, dir) => {
    Tables.orders(s, dir)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))
  }
  val qRollupSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  /** CUBE — every grouping-set combination plus the bit-vector
    * `grouping_id` (Spark) ≡ `GROUPING(a, b)` (DuckDB): both encode
    * the rolled-up columns as the same big-endian bit mask, so the id
    * is hash-comparable across engines, and it disambiguates a real
    * 'ALL'-valued key from a rolled-up one (the coalesce trick alone
    * cannot). */
  val qCube: Q = (s, dir) => {
    Tables.orders(s, dir)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"),
        grouping_id().as("gid"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("gid"), col("n"), col("total"))
      .orderBy(col("gid"), col("status"), col("priority"))
  }
  val qCubeSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY CUBE (o_orderstatus, o_orderpriority)
      |ORDER BY gid, status, priority""".stripMargin

  /** Explicit GROUPING SETS — the third member of the multi-grouping
    * family (rollup = prefix sets, cube = all sets, this = caller-
    * chosen sets): per-status and per-priority totals in ONE pass of
    * the fact table (a UNION ALL of two group-bys would scan twice;
    * the Expand formulation scans once and reuses the exchange). */
  val qGroupingSets: Q = (s, dir) => {
    Tables.orders(s, dir)
      .groupingSets(
        Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"), col("total"))
      .orderBy(col("status"), col("priority"))
  }
  val qGroupingSetsSql: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority,
      |  count(*) AS n, round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin

  /** Salted two-phase top-k ([[graft.ops.Skew.saltedTopK]]) in the
    * oracle surface: per-event-type top-5 by value (event_id
    * tiebreak — the ordering must be total for phase equivalence).
    * The oracle is the SINGLE-window formulation: salting is
    * semantically invisible, which is exactly the claim — the hot
    * key's sort runs `salt`-way parallel and the result cannot tell.
    * The single-partition-window failure mode it prevents and both
    * plan gates live in SkewSpec. */
  val qSkewTopk: Q = (s, dir) => {
    graft.ops.Skew.saltedTopK(
        Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value")),
        keys = Seq("event_type"),
        order = Seq(col("value").desc, col("event_id")),
        k = 5, saltBy = col("event_id"), salt = 8)
      .select(col("event_type"), col("event_id"),
        round(col("value"), 2).as("value"), col("rank"))
      .orderBy(col("event_type"), col("rank"))
  }
  val qSkewTopkSql: String =
    """SELECT event_type, event_id, round(value, 2) AS value, rank FROM (
      |  SELECT event_type, event_id, value,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY value DESC, event_id) AS rank
      |  FROM events) t
      |WHERE rank <= 5
      |ORDER BY event_type, rank""".stripMargin

  /** Exact interpolated percentiles per group: Spark's `percentile`
    * uses the same linear-interpolation definition as ANSI
    * `percentile_cont`, so values match DuckDB bit-for-bit after
    * rounding. (The approximate variant, `approx_percentile`/t-digest,
    * is the 100 TB path — one pass, mergeable sketches — but its
    * results are engine-specific, so the exact form is the gated one.)
    */
  val qPercentiles: Q = (s, dir) => {
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        round(expr("percentile(o_totalprice, 0.5)"), 2).as("p50"),
        round(expr("percentile(o_totalprice, 0.95)"), 2).as("p95"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus"))
  }
  val qPercentilesSql: String =
    """SELECT o_orderstatus,
      |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p50,
      |  round(percentile_cont(0.95) WITHIN GROUP (ORDER BY o_totalprice), 2) AS p95,
      |  count(*) AS n
      |FROM orders
      |GROUP BY o_orderstatus
      |ORDER BY o_orderstatus""".stripMargin

  /** Pivot: event counts per user bucket × event type. The Spark side
    * uses the native `pivot` operator (one shuffle, map-side partial
    * aggregation per pivot value); the oracle expresses the same
    * relation with portable conditional aggregation. */
  val qPivot: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("user_bucket", pmod(col("user_id"), lit(10)))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_bucket"))
  }
  val qPivotSql: String =
    """SELECT user_id % 10 AS user_bucket,
      |  count(*) FILTER (WHERE event_type = 'click') AS "click",
      |  count(*) FILTER (WHERE event_type = 'view') AS "view",
      |  count(*) FILTER (WHERE event_type = 'purchase') AS "purchase",
      |  count(*) FILTER (WHERE event_type = 'signup') AS "signup",
      |  count(*) FILTER (WHERE event_type = 'error') AS "error"
      |FROM events
      |GROUP BY user_id % 10
      |ORDER BY user_bucket""".stripMargin

  /** As-of join: each event picks up the latest order (by o_orderdate)
    * of the same user at or before the event time. Spark side uses the
    * union+window carry-forward (one shuffle); DuckDB side uses its
    * native ASOF JOIN. */
  val qAsofJoin: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("user_id"), Tables.tsSeconds(col("ts")).as("t_sec"))
    // One order per (user, time): as-of tie-breaking between same-second
    // orders is unspecified in both engines, so dedup deterministically
    // (highest orderkey wins) before the join.
    val wDedup = Window.partitionBy(col("user_id"), col("t_sec"))
      .orderBy(col("o_orderkey").desc)
    val ord = Tables.orders(s, dir)
      .select(col("o_custkey").as("user_id"),
        unix_timestamp(col("o_orderdate")).as("t_sec"),
        col("o_orderkey"), round(col("o_totalprice"), 2).as("o_total"))
      .withColumn("_rn", row_number().over(wDedup))
      .filter(col("_rn") === 1).drop("_rn")
    AsOfJoin.asOf(ev, ord, Seq("user_id"), "t_sec", "t_sec",
        Seq("o_orderkey", "o_total"))
      .select(col("event_id"), col("user_id"), col("o_orderkey"), col("o_total"))
      .orderBy(col("event_id"))
  }
  val qAsofJoinSql: String =
    """SELECT event_id, user_id, o_orderkey, o_total
      |FROM (SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec FROM events) e
      |ASOF LEFT JOIN (
      |  SELECT o_custkey AS user_id, CAST(epoch(o_orderdate) AS BIGINT) AS t_sec,
      |         o_orderkey, round(o_totalprice, 2) AS o_total
      |  FROM orders
      |  QUALIFY row_number() OVER (PARTITION BY o_custkey, CAST(epoch(o_orderdate) AS BIGINT)
      |                             ORDER BY o_orderkey DESC) = 1) o
      |USING (user_id, t_sec)
      |ORDER BY event_id""".stripMargin

  /** Gap-based sessionization of the event stream (30-minute gap). */
  val qSessionize: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), Tables.tsSeconds(col("ts")).as("t_sec"))
    Sessionize.sessionStats(ev, "user_id", "t_sec", gapSeconds = 1800)
      .orderBy(col("user_id"), col("session_id"))
  }
  val qSessionizeSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec FROM events),
      |marked AS (
      |  SELECT user_id, t_sec,
      |    CASE WHEN t_sec - lag(t_sec) OVER (PARTITION BY user_id ORDER BY t_sec) > 1800
      |         THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |sess AS (
      |  SELECT user_id, t_sec,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY t_sec
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM marked)
      |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
      |  min(t_sec) AS session_start, max(t_sec) AS session_end,
      |  max(t_sec) - min(t_sec) AS duration_sec, count(*) AS n_events
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin

  /** IVF ANN, oracle-gated in exhaustive-probe mode: with nProbe = k
    * every cell is probed, so the full train→assign→probe-join→re-rank
    * pipeline must reproduce the brute-force top-k exactly (the same
    * DuckDB oracle as `ann_topk`) regardless of where k-means placed the
    * centroids — a hash-green check of all the IVF plumbing. The pruned
    * configuration (nProbe < k) is approximate by design; its recall is
    * asserted in IvfIndexSpec. */
  val annIvf: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir)
    AnnHarness.answer(AnnHarness.ivf(queries, corpus, nProbe = 8, seed = "km"))
  }

  /** Metadata-FILTERED vector search
    * ([[graft.ops.IvfIndex.topKIndexedFiltered]]): top-10 among corpus
    * rows whose `label` passes a relational predicate, served from the
    * on-disk cell-partitioned index — cell probe as PartitionFilters,
    * label predicate as PushedFilters, ONE scan, both prunings
    * composed (plan-gated in IvfIndexSpec). Probe is exhaustive here so
    * the result is exactly brute-force-over-the-filtered-corpus, which
    * the oracle replays with a WHERE clause; the production lever is
    * `nProbe`, same as `ann_ivf_pruned`. */
  val annFiltered: Q = (s, dir) => {
    val (queries, corpus) = AnnHarness.split(s, dir, "label")
    val centroids = IvfIndex.train(corpus, "id", "vec", k = 8, iters = 2)
    val path = graft.Staging.dirFor("ann-filtered-ivf")
    IvfIndex.writeIndexed(corpus, centroids, path)
    AnnHarness.answer(IvfIndex.topKIndexedFiltered(s, path, queries, centroids,
      k = AnnHarness.K, nProbe = 8, predicate = col("label") % 3 === 0))
  }
  val annFilteredSql: String = AnnHarness.exactSql(" AND label % 3 = 0")

  /** Funnel analysis — the batch twin of the streaming funnel in
    * [[graft.streaming.EventAggregates]]: users whose FIRST click is
    * followed by a purchase within 24 hours, with the earliest such
    * purchase. Shape at scale: one user-keyed aggregation for the
    * anchor stage, then an equi-join on user with the time band as a
    * residual predicate — user-partitioned work end to end, no
    * cross-user data movement beyond the one keyed shuffle. */
  val qFunnel: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), Tables.tsSeconds(col("ts")).as("t_sec"))
    graft.operators.Funnel.firstCompletion(ev,
        Seq("click", "purchase"), Seq(86400L))
      .select(col("user_id"), col("t0").as("t_click"),
        col("t1").as("t_purchase"), (col("t1") - col("t0")).as("secs_to_convert"))
      .orderBy(col("user_id"))
  }
  val qFunnelSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec FROM events),
      |clicks AS (
      |  SELECT user_id, min(t_sec) AS t_click FROM e
      |  WHERE event_type = 'click' GROUP BY user_id),
      |conv AS (
      |  SELECT c.user_id, c.t_click, min(p.t_sec) AS t_purchase
      |  FROM clicks c JOIN e p ON p.user_id = c.user_id
      |  WHERE p.event_type = 'purchase'
      |    AND p.t_sec > c.t_click AND p.t_sec <= c.t_click + 86400
      |  GROUP BY c.user_id, c.t_click)
      |SELECT user_id, t_click, t_purchase, t_purchase - t_click AS secs_to_convert
      |FROM conv ORDER BY user_id""".stripMargin

  /** Retention / cohort analysis — the third member of the
    * event-analytics trio (funnel, retention, sessionization): users
    * cohorted by the week of their FIRST event; for each (cohort,
    * week-offset), how many distinct users were active. Two user-keyed
    * aggregations and one user equi-join — the same
    * stays-partitioned-by-user shape as [[qFunnel]]. */
  val qRetention: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), Tables.tsSeconds(col("ts")).as("t_sec"))
      .withColumn("week", (col("t_sec") - pmod(col("t_sec"), lit(604800L))) / 604800L)
      .select(col("user_id"), col("week").cast("long").as("week"))
    val cohort = ev.groupBy(col("user_id")).agg(min(col("week")).as("cohort_week"))
    ev.join(cohort, Seq("user_id"))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("cohort_week"), col("week_offset"))
  }
  val qRetentionSql: String =
    """WITH e AS (
      |  SELECT user_id,
      |    CAST((CAST(floor(epoch(ts)) AS BIGINT)
      |          - CAST(floor(epoch(ts)) AS BIGINT) % 604800) / 604800 AS BIGINT) AS week
      |  FROM events),
      |cohort AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY user_id)
      |SELECT c.cohort_week, e.week - c.cohort_week AS week_offset,
      |  count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN cohort c USING (user_id)
      |GROUP BY c.cohort_week, week_offset
      |ORDER BY cohort_week, week_offset""".stripMargin

  /** Time-grid resampling with forward fill
    * ([[graft.ops.Resample.hourlyFfill]]): each user's `value` stream
    * resampled onto an hourly grid spanning that user's own observed
    * range, missing hours carrying the last observation forward.
    * Per-user work throughout, and the grid explode is CHUNKED so a
    * pathological multi-year key cannot materialize one unbounded
    * array (Resample.scala; adversarial 30-year span in ResampleSpec).
    * The per-hour representative value is the LATEST event's
    * (max t_sec, event_id as tiebreak) — a total order both engines
    * replay. */
  val qResampleFfill: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        Tables.tsSeconds(col("ts")).as("t_sec"),
        Tables.tsHourEpoch(col("ts")).as("hour"),
        round(col("value"), 2).as("value"))
    graft.ops.Resample.hourlyFfill(ev)
      .orderBy(col("user_id"), col("hour"))
  }
  val qResampleFfillSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec,
      |    CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS hour,
      |    round(value, 2) AS value
      |  FROM events),
      |hourly AS (
      |  SELECT user_id, hour, value AS obs FROM (
      |    SELECT user_id, hour, value,
      |      row_number() OVER (PARTITION BY user_id, hour
      |                         ORDER BY t_sec DESC, event_id DESC) AS rn
      |    FROM e) t WHERE rn = 1),
      |span AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1 FROM hourly GROUP BY user_id),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(h0, h1, 3600)) AS hour FROM span)
      |SELECT g.user_id, g.hour,
      |  last_value(h.obs IGNORE NULLS) OVER (
      |    PARTITION BY g.user_id ORDER BY g.hour
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled,
      |  h.obs IS NOT NULL AS is_observed
      |FROM grid g LEFT JOIN hourly h USING (user_id, hour)
      |ORDER BY user_id, hour""".stripMargin

  /** Multi-step funnel: view → click (within 24 h of the first view) →
    * purchase (within 24 h of the click step) — the k-step extension
    * of `q_funnel`, as a chain of user-keyed min-aggregations + equi-
    * joins with residual time bands (each step's relation shrinks, so
    * the chain's shuffles operate on monotonically smaller keyed
    * relations — the scale shape a 100 TB event log needs; no window
    * over the raw event stream anywhere). The streaming sibling is
    * [[graft.streaming.FunnelStream.completions]] (generic k-step; same
    * pinning rule per step, parity pinned on this very chain). */
  val qFunnelSteps: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), Tables.tsSeconds(col("ts")).as("t_sec"))
    graft.operators.Funnel.firstCompletion(ev,
        Seq("view", "click", "purchase"), Seq(86400L, 86400L))
      .select(col("user_id"), col("t0").as("t_view"), col("t1").as("t_click"),
        col("t2").as("t_purchase"), (col("t2") - col("t0")).as("secs_total"))
      .orderBy(col("user_id"))
  }
  val qFunnelStepsSql: String =
    """WITH e AS (
      |  SELECT user_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec FROM events),
      |views AS (
      |  SELECT user_id, min(t_sec) AS t_view FROM e
      |  WHERE event_type = 'view' GROUP BY user_id),
      |clicks AS (
      |  SELECT v.user_id, v.t_view, min(c.t_sec) AS t_click
      |  FROM views v JOIN e c ON c.user_id = v.user_id
      |  WHERE c.event_type = 'click'
      |    AND c.t_sec > v.t_view AND c.t_sec <= v.t_view + 86400
      |  GROUP BY v.user_id, v.t_view),
      |conv AS (
      |  SELECT k.user_id, k.t_view, k.t_click, min(p.t_sec) AS t_purchase
      |  FROM clicks k JOIN e p ON p.user_id = k.user_id
      |  WHERE p.event_type = 'purchase'
      |    AND p.t_sec > k.t_click AND p.t_sec <= k.t_click + 86400
      |  GROUP BY k.user_id, k.t_view, k.t_click)
      |SELECT user_id, t_view, t_click, t_purchase,
      |  t_purchase - t_view AS secs_total
      |FROM conv ORDER BY user_id""".stripMargin

  /** Trailing 24 h rolling aggregate per user — the time-series
    * companion of resample/sessionize: for every event, the count and
    * mean of the user's `value` over the preceding day, via a RANGE
    * window frame (`rangeBetween`), which is TIE-SAFE — equal
    * timestamps are frame peers in both engines, so no ROWS-frame
    * ordering ambiguity exists. Exactness: values become integer cents
    * before the frame sum, the mean is INTEGER-truncated to 4 dp
    * (`(Σcents·100) div n`), and the only float op is dividing that
    * exact integer by 10⁴ — every step is bit-identical across
    * engines. (A `round(double, 4)` here was observed to differ at an
    * exact half: engines disagree on whether 34.76125 is above or
    * below its nearest-double half — truncated integer math has no
    * halves.) State per frame is bounded by one user-day of events —
    * the window never sees the corpus. */
  val qRolling: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_sec"))
      .rangeBetween(-86399, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        Tables.tsSeconds(col("ts")).as("t_sec"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("n_24h", count(lit(1)).over(w))
      .withColumn("cents_sum", sum(col("cents")).over(w))
      .withColumn("avg_24h",
        expr("(cents_sum * 100) DIV n_24h") / lit(10000.0))
      .select(col("user_id"), col("event_id"), col("t_sec"),
        col("n_24h"), col("avg_24h"))
      .orderBy(col("user_id"), col("t_sec"), col("event_id"))
  }
  val qRollingSql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events)
      |SELECT user_id, event_id, t_sec,
      |  count(*) OVER w AS n_24h,
      |  (((sum(cents) OVER w) * 100) // (count(*) OVER w))
      |    / CAST(10000.0 AS DOUBLE) AS avg_24h
      |FROM e
      |WINDOW w AS (PARTITION BY user_id ORDER BY t_sec
      |             RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, t_sec, event_id""".stripMargin

  /** Rolling z-score anomaly detection — the alerting companion of
    * [[qRolling]]: for every event (in a ≥8-event trailing frame),
    * does its value deviate from the user's trailing-24h mean by more
    * than 2 trailing standard deviations? The entire test is EXACT
    * INTEGER arithmetic: with cents x, frame sums S=Σx and Q=Σx², the
    * test (x−μ)² > 4σ² multiplies through by n² to
    * `(x·n − S)² > 4·(n·Q − S²)` — no division, no sqrt, no float
    * anywhere, so both engines agree bit-for-bit (the same move as
    * [[qRolling]]'s integer-truncated mean, pushed further).
    * Magnitudes: x ≤ 5·10⁴ cents, day-frames ≤ ~10³ events → every
    * product fits a Long with 10³ headroom. The flag is EMITTED, not
    * filtered on, so the oracle hashes the full frame-stats relation —
    * the harness's uniform values make >2σ rare by construction
    * (a uniform's max deviation is √3 σ; only sample-σ noise in small
    * frames can cross 2), which is itself part of what the gate
    * checks. */
  val qAnomaly: Q = (s, dir) => {
    val w = Window.partitionBy(col("user_id")).orderBy(col("t_sec"))
      .rangeBetween(-86399, 0)
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"),
        Tables.tsSeconds(col("ts")).as("t_sec"),
        round(col("value") * 100, 0).cast("long").as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", sum(col("cents")).over(w))
      .withColumn("q", sum(col("cents") * col("cents")).over(w))
      .filter(col("n") >= 8)
      .withColumn("dev", col("cents") * col("n") - col("s"))
      .withColumn("is_anomaly", col("dev") * col("dev") >
        lit(4L) * (col("n") * col("q") - col("s") * col("s")))
      .select(col("user_id"), col("event_id"), col("t_sec"),
        col("cents"), col("n"), col("s"), col("q"), col("is_anomaly"))
      .orderBy(col("user_id"), col("t_sec"), col("event_id"))
  }
  val qAnomalySql: String =
    """WITH e AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS t_sec,
      |    CAST(round(value * 100, 0) AS BIGINT) AS cents
      |  FROM events),
      |f AS (
      |  SELECT user_id, event_id, t_sec, cents,
      |    count(*) OVER w AS n,
      |    sum(cents) OVER w AS s,
      |    sum(cents * cents) OVER w AS q
      |  FROM e
      |  WINDOW w AS (PARTITION BY user_id ORDER BY t_sec
      |               RANGE BETWEEN 86399 PRECEDING AND CURRENT ROW))
      |SELECT user_id, event_id, t_sec, cents, n,
      |  CAST(s AS BIGINT) AS s, CAST(q AS BIGINT) AS q,
      |  (cents * n - s) * (cents * n - s) > 4 * (n * q - s * s) AS is_anomaly
      |FROM f
      |WHERE n >= 8
      |ORDER BY user_id, t_sec, event_id""".stripMargin

  /** Embedding-column analytics: per-label corpus statistics — count,
    * mean L2 norm (through the codegen'd [[Similarity.dot]] inside the
    * aggregation), and leading centroid components. The everyday
    * health-check query over an embedding table (collapsed labels,
    * norm drift after a re-embed) — one scan, one group-by exchange,
    * map-side partials; 4-dp rounding absorbs the engines' different
    * float-summation orders. */
  val qEmbeddingStats: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val dv = graft.ops.Similarity.dot(col("embedding"), col("embedding"))
    emb.groupBy(col("label")).agg(
        count(lit(1)).as("n_vecs"),
        round(avg(sqrt(dv)), 4).as("avg_norm"),
        round(avg(element_at(col("embedding"), 1).cast("double")), 4).as("c0"),
        round(avg(element_at(col("embedding"), 2).cast("double")), 4).as("c1"))
      .orderBy(col("label"))
  }
  val qEmbeddingStatsSql: String =
    """SELECT label, count(*) AS n_vecs,
      |  round(avg(sqrt(list_dot_product(dv, dv))), 4) AS avg_norm,
      |  round(avg(CAST(embedding[1] AS DOUBLE)), 4) AS c0,
      |  round(avg(CAST(embedding[2] AS DOUBLE)), 4) AS c1
      |FROM (SELECT label, embedding,
      |        list_transform(embedding, x -> CAST(x AS DOUBLE)) AS dv
      |      FROM embeddings)
      |GROUP BY label ORDER BY label""".stripMargin

  /** Correlated-subquery pattern: parts priced above their type's
    * average (decorrelated to a window/self-join by both engines). */
  val qAboveTypeAvg: Q = (s, dir) => {
    val w = Window.partitionBy(col("p_type"))
    Tables.part(s, dir)
      .withColumn("type_avg", avg(col("p_retailprice")).over(w))
      .filter(col("p_retailprice") > col("type_avg"))
      .select(col("p_partkey"), col("p_type"),
        round(col("p_retailprice"), 2).as("price"),
        round(col("type_avg"), 2).as("type_avg"))
      .orderBy(col("p_partkey"))
  }
  val qAboveTypeAvgSql: String =
    """SELECT p_partkey, p_type, round(p_retailprice, 2) AS price,
      |  round(type_avg, 2) AS type_avg
      |FROM (SELECT *, avg(p_retailprice) OVER (PARTITION BY p_type) AS type_avg
      |      FROM part) t
      |WHERE p_retailprice > type_avg
      |ORDER BY p_partkey""".stripMargin

  /** One-pass column profiler over `documents`
    * ([[graft.ops.Profile.profile]]): exact ndv for the oracle gate;
    * the `approxNdv = true` HLL path is the 100 TB form (asserted
    * equivalent-shape in ProfileSpec). Min/max are lexicographic over
    * the string form by the operator's contract. */
  val qProfile: Q = (s, dir) => {
    graft.ops.Profile.profile(Tables.documents(s, dir),
        Seq("doc_id", "lang", "source", "n_chars"))
      .orderBy(col("col_name"))
  }
  val qProfileSql: String = {
    def one(c: String) =
      s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
         |  count(DISTINCT $c) AS ndv,
         |  min(CAST($c AS VARCHAR)) AS min_val,
         |  max(CAST($c AS VARCHAR)) AS max_val FROM documents""".stripMargin
    Seq("doc_id", "lang", "source", "n_chars").map(one)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
  }

  /** ANALYZE + percentiles in one report
    * ([[graft.ops.Profile.profileWithQuantiles]]): the column profile
    * joined with per-column rank-adaptive p50/p90 from the bottom-k
    * sample sketch, quantiles grouped BY COLUMN NAME over a melted
    * (col_name, id, v) relation. Non-numeric columns carry null
    * quantiles. The oracle replays BOTH halves — the exact profile
    * aggregates and the full sketch (hash, cut, rank pick). */
  val qProfileQuantiles: Q = (s, dir) => {
    graft.ops.Profile.profileWithQuantiles(Tables.documents(s, dir),
        Seq("doc_id", "lang", "source", "n_chars"),
        Seq("doc_id", "n_chars"), "doc_id", seed = "profQ", k = 256,
        qs = Seq("p50_est" -> 0.5, "p90_est" -> 0.9))
      .orderBy(col("col_name"))
  }
  val qProfileQuantilesSql: String = {
    val hexVal = Md5Sql.hexVal
    def one(c: String) =
      s"""SELECT '$c' AS col_name, count($c) AS n_nonnull,
         |  count(DISTINCT $c) AS ndv,
         |  min(CAST($c AS VARCHAR)) AS min_val,
         |  max(CAST($c AS VARCHAR)) AS max_val FROM documents""".stripMargin
    val prof = Seq("doc_id", "lang", "source", "n_chars").map(one)
      .mkString("\nUNION ALL\n")
    s"""WITH prof AS (
       |$prof),
       |melted AS (
       |  SELECT doc_id AS pid, 'doc_id' AS col_name, CAST(doc_id AS DOUBLE) AS v FROM documents
       |  UNION ALL
       |  SELECT doc_id, 'n_chars', CAST(n_chars AS DOUBLE) FROM documents),
       |hashed AS (
       |  SELECT col_name, CAST($hexVal AS BIGINT) AS h, v
       |  FROM (SELECT col_name, v,
       |          substring(md5('profQ' || CAST(pid AS VARCHAR)), 1, 15) AS h15
       |        FROM melted WHERE v IS NOT NULL)),
       |bottom AS (
       |  SELECT col_name, h, v FROM (
       |    SELECT col_name, h, v,
       |      row_number() OVER (PARTITION BY col_name ORDER BY h, v) AS rn
       |    FROM hashed)
       |  WHERE rn <= 256),
       |ranked AS (
       |  SELECT col_name, v,
       |    row_number() OVER (PARTITION BY col_name ORDER BY v, h) AS vr,
       |    count(*) OVER (PARTITION BY col_name) AS m
       |  FROM bottom),
       |q AS (
       |  SELECT col_name,
       |    round(min(CASE WHEN vr >= ceil(0.5 * m) THEN v END), 2) AS p50_est,
       |    round(min(CASE WHEN vr >= ceil(0.9 * m) THEN v END), 2) AS p90_est,
       |    CAST(max(m) AS BIGINT) AS m_sample
       |  FROM ranked GROUP BY col_name)
       |SELECT p.col_name, n_nonnull, ndv, min_val, max_val,
       |  p50_est, p90_est, m_sample
       |FROM prof p LEFT JOIN q USING (col_name)
       |ORDER BY col_name""".stripMargin
  }

  val all: Map[String, Q] = Map(
    "q_profile" -> qProfile,
    "q_profile_quantiles" -> qProfileQuantiles,
    "q_above_type_avg" -> qAboveTypeAvg,
    "q_anti_join" -> qAntiJoin,
    "q_semi_join" -> qSemiJoin,
    "q_set_ops" -> qSetOps,
    "q_distinct_agg" -> qDistinctAgg,
    "q_rollup" -> qRollup,
    "q_cube" -> qCube,
    "q_grouping_sets" -> qGroupingSets,
    "q_skew_topk" -> qSkewTopk,
    "q_asof_join" -> qAsofJoin,
    "q_sessionize" -> qSessionize,
    "q_percentiles" -> qPercentiles,
    "q_pivot" -> qPivot,
    "ann_ivf" -> annIvf,
    "ann_filtered" -> annFiltered,
    "q_embedding_stats" -> qEmbeddingStats,
    "q_funnel" -> qFunnel,
    "q_funnel_steps" -> qFunnelSteps,
    "q_rolling" -> qRolling,
    "q_anomaly" -> qAnomaly,
    "q_retention" -> qRetention,
    "q_resample_ffill" -> qResampleFfill)

  val oracles: Map[String, String] = Map(
    "q_profile" -> qProfileSql,
    "q_profile_quantiles" -> qProfileQuantilesSql,
    "q_above_type_avg" -> qAboveTypeAvgSql,
    "q_anti_join" -> qAntiJoinSql,
    "q_semi_join" -> qSemiJoinSql,
    "q_set_ops" -> qSetOpsSql,
    "q_distinct_agg" -> qDistinctAggSql,
    "q_rollup" -> qRollupSql,
    "q_cube" -> qCubeSql,
    "q_grouping_sets" -> qGroupingSetsSql,
    "q_skew_topk" -> qSkewTopkSql,
    "q_asof_join" -> qAsofJoinSql,
    "q_sessionize" -> qSessionizeSql,
    "q_percentiles" -> qPercentilesSql,
    "q_pivot" -> qPivotSql,
    "ann_ivf" -> AnnHarness.exactSql(),
    "ann_filtered" -> annFilteredSql,
    "q_embedding_stats" -> qEmbeddingStatsSql,
    "q_funnel" -> qFunnelSql,
    "q_funnel_steps" -> qFunnelStepsSql,
    "q_rolling" -> qRollingSql,
    "q_anomaly" -> qAnomalySql,
    "q_retention" -> qRetentionSql,
    "q_resample_ffill" -> qResampleFfillSql)
}
