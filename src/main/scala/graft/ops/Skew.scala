package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-handling utilities for hot keys — the failure mode of every
  * `groupBy`/`join`/`Window.partitionBy` on real user data at 100 TB:
  * one key owning 1% of the corpus turns a 1000-executor shuffle into a
  * single straggler task.
  *
  * Two standard remedies, both as composable DataFrame ops:
  *   - [[saltedJoin]] — replicate the small side `salt` times and spread
  *     the large side's hot keys across `salt` sub-partitions; the join
  *     result is row-identical to the unsalted join (spec-asserted).
  *   - [[saltedTopK]] — two-phase per-key top-k: partial top-k inside
  *     each (key, salt-bucket), then final top-k over the `salt × k`
  *     survivors. The hot key's sort is split `salt` ways; the final
  *     phase sees a bounded relation. Row-identical to the single-window
  *     formulation for unique order keys.
  *
  * AQE (`spark.sql.adaptive.skewJoin`) handles sort-merge-join skew at
  * runtime; these operators cover what AQE cannot: broadcast-side
  * replication pressure and single-partition *window* skew, and they
  * work identically on static plans.
  *
  * ==Which remedy when (SkewSpec plan-gates both)==
  *
  *   1. '''Prefer AQE skew-join''' for batch equi-joins: it is free (no
  *      plan rewrite, no extra column), splits only the partitions that
  *      are actually oversized at runtime (`skewedPartitionFactor` ×
  *      median AND > `skewedPartitionThresholdInBytes`), and composes
  *      with partition coalescing. It applies ONLY to sort-merge /
  *      shuffled-hash JOIN partitions in an adaptive plan.
  *   2. '''Use [[saltedJoin]]''' when AQE cannot see or split the
  *      shuffle: Structured Streaming micro-batches (no AQE), a join
  *      that must keep a deterministic partitioning for a downstream
  *      stage (AQE's runtime splits change partitioning), or when the
  *      skewed side feeds a mapGroups/cogroup where a single hot
  *      partition OOMs before AQE's byte threshold trips.
  *   3. '''Use [[saltedTopK]]''' for per-key window/top-k skew: a
  *      `Window.partitionBy(key)` puts ALL of a hot key's rows in one
  *      task by definition — AQE never splits a window partition, so
  *      salting (or groupBy-based partial top-k) is the only remedy.
  *   4. '''Use [[Rank.head]] / [[Rank.prefix]]''' for a GLOBAL top-k or
  *      rank (no key): salting a constant key still shuffles every row
  *      into `salt` groups and merges them in one task, where the head
  *      keeps k rows per partition and the prefix ranks per bucket.
  */
object Skew {

  /** Deterministic salt in [0, salt): hash of `saltBy` (typically a
    * unique/id column, NOT the join key — the point is to split rows of
    * one key across buckets). */
  def saltCol(saltBy: Column, salt: Int): Column =
    pmod(xxhash64(saltBy), lit(salt)).cast("int")

  /** Skew-safe equi-join of a large, possibly hot-keyed relation against
    * a small one: the small side is exploded `salt`× (salt values
    * 0..salt-1), the large side tags each row with a deterministic salt
    * from `saltBy`, and the join adds `_salt` to the key — so one hot
    * key's rows land in `salt` different shuffle partitions instead of
    * one straggler. Output equals `large.join(small, keys)` exactly.
    */
  def saltedJoin(large: DataFrame, small: DataFrame, keys: Seq[String],
      saltBy: Column, salt: Int = 16): DataFrame = {
    require(salt >= 1, "salt must be >= 1")
    val l = large.withColumn("_salt", saltCol(saltBy, salt))
    val s = small.withColumn("_salt",
      explode(array((0 until salt).map(i => lit(i)): _*)))
    l.join(s, keys :+ "_salt").drop("_salt")
  }

  /** Two-phase per-key top-k by `order` descending (ties broken by the
    * caller folding a tiebreaker into `order`'s secondary sort — the
    * phases use identical ordering, so the result is row-identical to
    * one global window when the ordering is total).
    *
    * Phase 1 ranks inside (keys, salt-bucket) — the hot key's sort is
    * `salt`-way parallel; phase 2 ranks the ≤ `salt × k` survivors per
    * key. Both phases are plain window functions, fully codegen'd.
    */
  def saltedTopK(df: DataFrame, keys: Seq[String], order: Seq[Column], k: Int,
      saltBy: Column, salt: Int = 16): DataFrame = {
    require(salt >= 1 && k >= 1)
    val keyCols = keys.map(col)
    val w1 = Window.partitionBy((keyCols :+ col("_salt")): _*).orderBy(order: _*)
    val w2 = Window.partitionBy(keyCols: _*).orderBy(order: _*)
    df.withColumn("_salt", saltCol(saltBy, salt))
      .withColumn("_r1", row_number().over(w1))
      .filter(col("_r1") <= k)
      .withColumn("rank", row_number().over(w2))
      .filter(col("rank") <= k)
      .drop("_salt", "_r1")
  }
}
