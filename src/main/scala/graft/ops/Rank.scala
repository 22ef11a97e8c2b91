package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one global ranker: every rank over a whole relation (no group
  * key) goes through one of two shapes, so no window ever funnels an
  * unbounded relation into a single task. Both prune locally in each
  * partition and merge only a bounded remainder globally — the REPOSE
  * (ICDE 2021) top-k stance.
  *
  *   - [[head]]: the first k rows of a total order with their rank
  *     1..k. `orderBy(order).limit(k)` plans as TakeOrderedAndProject
  *     (a k-row heap per partition, the heads merged in one task), so
  *     the rank window sees at most k rows.
  *   - [[prefix]]: an exclusive running sum over the whole relation in
  *     a total order — a rank when the summand is 1, a token offset for
  *     shard packing. The caller buckets the rows by a key monotone in
  *     the order; the per-bucket totals (one row per bucket) get their
  *     exclusive offsets in the only single-partition window, and each
  *     bucket then sums its own rows in parallel on top of its
  *     broadcast offset.
  *
  * Both are row-identical to the single unpartitioned window over the
  * same order (RankSpec) when the order is total.
  */
object Rank {

  /** The rank column [[head]] adds (an int, 1..k). */
  val Col = "rk"

  /** The bucket column of [[prefix]]'s totals relation — the only input
    * a global window outside [[head]] may rank. */
  val Bucket = "_bucket"

  /** The first `k` rows of `df` under `order` (total: break ties with a
    * unique column) plus their rank [[Col]]. Fewer rows when `df` has
    * fewer than `k`. */
  def head(df: DataFrame, k: Int, order: Column*): DataFrame = {
    require(k >= 1, s"Rank.head needs k >= 1, got $k")
    df.orderBy(order: _*).limit(k)
      .withColumn(Col, row_number().over(Window.orderBy(order: _*)))
  }

  /** `df` plus the long column `out`: the sum of `value` over every row
    * before this one in `order` (0 for the first). `order` must be total
    * and `bucket` monotone in it — every row of a lower bucket comes
    * before every row of a higher one (a prefix of the order key, or a
    * coarsening of it such as its high hash bits). The rank 1..n is
    * `prefix(df, bucket, lit(1L), p)(order)` plus one. */
  def prefix(df: DataFrame, bucket: Column, value: Column, out: String)(
      order: Column*): DataFrame = {
    val b = df.withColumn(Bucket, bucket)
    val before = Window.partitionBy(col(Bucket)).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    b.join(broadcast(offsets(b, value)), Seq(Bucket))
      .withColumn(out, col("_boff") + coalesce(sum(value).over(before), lit(0L)))
      .drop(Bucket, "_boff")
  }

  /** (bucket, exclusive sum of `value` over the lower buckets). */
  private def offsets(b: DataFrame, value: Column): DataFrame =
    b.groupBy(Bucket).agg(sum(value).as("_btot"))
      .withColumn("_boff", coalesce(sum(col("_btot")).over(
        Window.orderBy(col(Bucket)).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(Bucket), col("_boff"))
}
