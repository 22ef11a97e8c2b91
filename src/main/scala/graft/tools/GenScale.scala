package graft.tools

import graft.GraftSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a harness SF directory: `GenScale <src>
  * <dst> <factor>` writes `<dst>` with every fact table replicated
  * `factor`× under shifted keys — the local stand-in for a larger
  * driver-generated SF (no network, no external generator), used for
  * the sf0.1→sf1 scaling sanity run.
  *
  * Recipe (copy c = 0 keeps the original rows bit-identical):
  *   - dimension tables (`region`, `nation`) are copied verbatim —
  *     TPC-H holds them fixed across SFs;
  *   - every key/foreign-key column gains `c × 100_000_000` (far above
  *     any key domain at these SFs), so referential integrity holds
  *     within each copy and keys never collide across copies;
  *   - `events` keeps its timestamps (same time window, `factor`× the
  *     traffic — group counts grow, group count stays), and shifts
  *     `user_id` so sessions replicate per-copy instead of interleaving;
  *   - `documents` prefixes copy c's text with a `"v<c> "` tag:
  *     cross-copy texts stay NEAR-duplicates (Jaccard ≈ 1), modeling
  *     the duplicate-cluster-heavy distribution a crawl corpus actually
  *     has at scale — dedup output therefore grows faster than rows by
  *     design (clusters of size `factor`), which the scaling note must
  *     account for rather than read as a perf regression;
  *   - `embeddings` perturbs one coordinate per copy by `c × 1e-3`:
  *     distinct vectors, near-identical neighborhoods.
  */
object GenScale {

  private val Off = 100000000L

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: GenScale <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")

    def read(name: String): DataFrame = spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit = {
      df.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
    }

    def copies(df: DataFrame)(shift: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(c => if (c == 0) df else shift(df, c)).reduce(_.unionAll(_))

    /** Replicate with the listed int64 key columns shifted per copy. */
    def scaleKeys(name: String, keys: Seq[String]): Unit = {
      val df = read(name)
      write(copies(df) { (d, c) =>
        keys.foldLeft(d)((acc, k) => acc.withColumn(k, col(k) + lit(c * Off)))
      }.select(df.columns.map(col): _*), name)
    }

    Seq("region", "nation").foreach(n => write(read(n), n))
    scaleKeys("customer", Seq("c_custkey"))
    scaleKeys("supplier", Seq("s_suppkey"))
    scaleKeys("part", Seq("p_partkey"))
    scaleKeys("orders", Seq("o_orderkey", "o_custkey"))
    scaleKeys("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    scaleKeys("events", Seq("event_id", "user_id"))

    val docs = read("documents")
    write(copies(docs) { (d, c) =>
      d.withColumn("doc_id", col("doc_id") + lit(c * Off))
        .withColumn("text", concat(lit(s"v$c "), col("text")))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }.select(docs.columns.map(col): _*), "documents")

    val emb = read("embeddings")
    write(copies(emb) { (d, c) =>
      d.withColumn("vec_id", col("vec_id") + lit(c * Off))
        .withColumn("embedding", expr(
          s"transform(embedding, (x, i) -> CASE WHEN i = ${c % 8} " +
            s"THEN cast(x + ${c}e-3 AS float) ELSE x END)"))
    }.select(emb.columns.map(col): _*), "embeddings")

    spark.stop()
  }
}
