package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.{FilterExec, InputAdapter, ProjectExec, SortExec, SparkPlan,
  TakeOrderedAndProjectExec, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** [[Rank.head]] and [[Rank.prefix]] against the single unpartitioned
  * window over the same order — the form they replace — on ties, short
  * relations, degenerate bucketings and a Zipf vocabulary. */
class RankSpec extends SparkSpec {
  import spark.implicits._

  /** (id, rank) rows sorted by rank. */
  private def rows(df: DataFrame, rank: String): Seq[(Long, Long)] =
    df.select(col("id"), col(rank).cast("long")).as[(Long, Long)].collect()
      .sortBy(_._2).toSeq

  private def window(df: DataFrame, order: Column*): DataFrame =
    df.withColumn("w", row_number().over(Window.orderBy(order: _*)))

  private def rankByPrefix(df: DataFrame, bucket: Column, order: Column*): DataFrame =
    Rank.prefix(df, bucket, lit(1L), "before")(order: _*)
      .withColumn("r", col("before") + 1)

  /** 500 rows over 7 score values: every score is a long run of ties. */
  private lazy val tied = spark.range(500).select(col("id"), (col("id") * 37 % 7).as("s"))

  test("head: ties resolve by the tiebreak exactly as the single window does") {
    val order = Seq(col("s").desc, col("id"))
    val head = Rank.head(tied, 60, order: _*)
    assert(rows(head, Rank.Col) == rows(window(tied, order: _*), "w").take(60))
    assert(head.schema(Rank.Col).dataType == org.apache.spark.sql.types.IntegerType)
  }

  test("head: k larger than the relation ranks every row once") {
    val order = Seq(col("s"), col("id").desc)
    assert(rows(Rank.head(tied, 10000, order: _*), Rank.Col) ==
      rows(window(tied, order: _*), "w"))
    assert(Rank.head(tied.filter(lit(false)), 5, order: _*).count() == 0)
  }

  test("prefix: ties resolve by the tiebreak; a running token sum matches the window's") {
    val order = Seq(col("s"), col("id"))
    // bucket = the primary key, monotone in (s, id)
    assert(rows(rankByPrefix(tied, col("s"), order: _*), "r") ==
      rows(window(tied, order: _*), "w"))
    val before = Window.orderBy(order: _*).rowsBetween(Window.unboundedPreceding, -1)
    val sums = Rank.prefix(tied, col("s"), col("id"), "p")(order: _*)
      .select("id", "p").as[(Long, Long)].collect().toMap
    val ref = tied.withColumn("p", coalesce(sum(col("id")).over(before), lit(0L)))
      .select("id", "p").as[(Long, Long)].collect().toMap
    assert(sums == ref)
  }

  test("prefix: every row in one bucket") {
    val order = Seq(col("s").desc, col("id"))
    assert(rows(rankByPrefix(tied, lit(0), order: _*), "r") ==
      rows(window(tied, order: _*), "w"))
  }

  test("prefix: empty buckets between occupied ones, and an empty relation") {
    // ids in two far-apart runs: buckets 0, 1, 2, 50 and 51 of width
    // 100 hold rows, every bucket between them none
    val sparse = spark.range(0, 250).union(spark.range(5000, 5150)).toDF("id")
      .select(col("id"), (col("id") % 3).as("s"))
    val order = Seq(col("id"))
    assert(rows(rankByPrefix(sparse, floor(col("id") / 100), order: _*), "r") ==
      rows(window(sparse, order: _*), "w"))
    assert(rankByPrefix(sparse.filter(lit(false)), floor(col("id") / 100), order: _*)
      .count() == 0)
  }

  test("prefix: a Zipf vocabulary over (f, first character) buckets ≡ the single window") {
    // f(rank) = ⌊2000 / rank⌋ over 3000 types: a long hapax band (f ≤ 1)
    // split by first character, and ties at every f
    val vocab = spark.range(1, 3001).select(col("id"),
      concat(substring(lit("abcdefghijklmnopqrstuvwxyz"), (col("id") * 7 % 26 + 1).cast("int"), lit(1)),
        col("id").cast("string")).as("token"),
      greatest(lit(1L), floor(lit(2000.0) / col("id")).cast("long")).as("f"))
    val order = Seq(col("f").desc, col("token"))
    val bucket = struct(-col("f"), substring(col("token"), 1, 1))
    assert(vocab.select(bucket).distinct().count() > 26, "several buckets")
    val got = rankByPrefix(vocab, bucket, order: _*)
    assert(rows(got, "r") == rows(window(vocab, order: _*), "w"))
    // and its only global window reads the bucket totals
    got.collect()
    val plan = got.queryExecution.executedPlan
    assert(RankPlans.global(plan).nonEmpty && RankPlans.unbounded(plan).isEmpty, plan)
  }

  test("plan: the head's window reads the TakeOrdered cut; a whole-relation window is reported") {
    val head = Rank.head(tied, 10, col("s"), col("id"))
    head.collect()
    val plan = head.queryExecution.executedPlan
    assert(RankPlans.global(plan).size == 1 && RankPlans.unbounded(plan).isEmpty, plan)
    val whole = window(tied, col("s"), col("id"))
    whole.collect()
    assert(RankPlans.unbounded(whole.queryExecution.executedPlan).size == 1)
  }
}

/** Where the unpartitioned windows of a physical plan read from. */
object RankPlans {

  private def kids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case q: QueryStageExec => Seq(q.plan)
    case r: ReusedExchangeExec => Seq(r.child)
    case _ => p.children
  }

  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(nodes)

  /** The first node under `p` that is not a sort, projection, filter,
    * exchange, stage wrapper or another window — none of which adds
    * rows. */
  private def source(p: SparkPlan): SparkPlan = p match {
    case _: SortExec | _: ProjectExec | _: FilterExec | _: Exchange | _: WholeStageCodegenExec |
        _: InputAdapter | _: AQEShuffleReadExec | _: AdaptiveSparkPlanExec | _: QueryStageExec |
        _: ReusedExchangeExec | _: WindowExec => source(kids(p).head)
    case _ => p
  }

  /** Every window with an empty partition spec (across AQE stages,
    * broadcasts and reused exchanges). */
  def global(plan: SparkPlan): Seq[WindowExec] =
    nodes(plan).collect { case w: WindowExec if w.partitionSpec.isEmpty => w }

  /** The global windows that read neither a TakeOrdered head nor
    * [[Rank.prefix]]'s bucket totals. */
  def unbounded(plan: SparkPlan): Seq[WindowExec] = global(plan).filterNot { w =>
    source(w.child) match {
      case _: TakeOrderedAndProjectExec => true
      case a: BaseAggregateExec => a.groupingExpressions.map(_.name) == Seq(Rank.Bucket)
      case _ => false
    }
  }
}
