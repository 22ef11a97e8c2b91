package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Skew remedies must be *semantically invisible*: salted plans produce
  * row-identical results to their naive formulations on a deliberately
  * hot-keyed dataset (one key owning ~90% of rows).
  */
class SkewSpec extends SparkSpec {
  import spark.implicits._

  // hot key "whale" owns 9000 rows; 100 cold keys own 10 each
  private lazy val skewed = {
    val hot = (0 until 9000).map(i => ("whale", i.toLong, (i * 7919) % 10007))
    val cold = for (kId <- 0 until 100; i <- 0 until 10)
      yield (s"k$kId", (100000 + kId * 10 + i).toLong, (kId * 31 + i) % 997)
    (hot ++ cold).toDF("key", "row_id", "value")
  }

  test("saltedJoin equals the naive join on a hot-keyed relation") {
    val dim = (Seq("whale") ++ (0 until 100 by 3).map(i => s"k$i"))
      .zipWithIndex.map { case (k, i) => (k, s"dim$i") }.toDF("key", "attr")
    val naive = skewed.join(dim, Seq("key"))
      .select("key", "row_id", "attr").collect().toSet
    val salted = Skew.saltedJoin(skewed, dim, Seq("key"),
        saltBy = col("row_id"), salt = 8)
      .select("key", "row_id", "attr").collect().toSet
    assert(salted == naive)
    assert(salted.size == 9000 + 34 * 10)
  }

  test("saltedJoin spreads a hot key across salt sub-partitions") {
    val salts = skewed.filter($"key" === "whale")
      .select(Skew.saltCol(col("row_id"), 8).as("s"))
      .distinct().collect().map(_.getInt(0)).toSet
    assert(salts.size == 8, "hot key's rows must cover every salt bucket")
  }

  private def withConfs[A](confs: Seq[(String, String)])(body: => A): A = {
    val prev = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("saltedJoin's shuffle partitions on (key, _salt) — the straggler split is in the plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val dim = (Seq("whale") ++ (0 until 100).map(i => s"k$i")).map((_, 1)).toDF("key", "w")
    // Static plan (AQE off — the salting contract must hold WITHOUT
    // runtime replanning, e.g. inside streaming micro-batches), shuffle
    // path forced (no broadcast) so the gate sees the exchange.
    withConfs(Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")) {
      val salted = Skew.saltedJoin(skewed, dim, Seq("key"), saltBy = col("row_id"), salt = 8)
      val shuffles = salted.queryExecution.executedPlan.collect {
        case s: ShuffleExchangeExec => s.outputPartitioning
      }
      assert(shuffles.nonEmpty, "salted join must shuffle (broadcast disabled)")
      assert(shuffles.forall {
        case h: HashPartitioning => h.expressions.exists(_.toString.contains("_salt"))
        case _ => false
      }, s"every join shuffle must partition on (key, _salt):\n${salted.queryExecution.executedPlan}")
    }
  }

  test("AQE splits the skewed sort-merge-join partition at runtime") {
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    // Inflate the hot key to real SHUFFLE bytes: payload must be
    // incompressible-ish (sha2 hex, ~2:1 under lz4), or the byte
    // threshold never trips on a constant pad. ~40k rows × 64 B hex ≈
    // 2.5 MB raw ≫ the lowered 100 KB threshold in one hash partition.
    val payload = sha2(concat(lit("p"), $"id".cast("string")), 256)
    val big = spark.range(40000).select(lit("whale").as("key"), $"id".as("row_id"), payload.as("payload"))
      .union(spark.range(1000).select(concat(lit("k"), $"id" % 100).as("key"), ($"id" + 100000).as("row_id"), payload.as("payload")))
    val dim = (Seq("whale") ++ (0 until 100).map(i => s"k$i")).map((_, 1)).toDF("key", "w")
    withConfs(Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "100KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "50KB")) {
      val joined = big.join(dim, Seq("key"))
      // collect() executes THIS DataFrame's QueryExecution (count()
      // would plan a different query and leave this one unexecuted).
      assert(joined.collect().length == 41000)
      val nodes = planNodes(joined.queryExecution.executedPlan)
      val smj = nodes.collect { case j: SortMergeJoinExec => j }
      assert(smj.nonEmpty,
        s"expected a sort-merge join:\n${joined.queryExecution.executedPlan}")
      assert(smj.exists(_.isSkewJoin),
        s"AQE must mark the hot partition's join as skew-split:\n${joined.queryExecution.executedPlan}")
    }
  }

  test("saltedTopK equals the single-window top-k (total order)") {
    val order = Seq(col("value").desc, col("row_id").asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"key").orderBy(order: _*)
    val naive = skewed.withColumn("rank", row_number().over(w))
      .filter($"rank" <= 5)
      .select("key", "row_id", "rank").collect().toSet
    val salted = Skew.saltedTopK(skewed, Seq("key"), order, k = 5,
        saltBy = col("row_id"), salt = 8)
      .select("key", "row_id", "rank").collect().toSet
    assert(salted == naive)
    assert(salted.count(_.getString(0) == "whale") == 5)
  }
}
