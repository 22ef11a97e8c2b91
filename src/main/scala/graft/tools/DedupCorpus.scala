package graft.tools

import graft.GraftSession

/** End-to-end corpus dedup CLI: read a documents parquet, drop near-
  * duplicates (one representative per MinHash-LSH cluster — see
  * [[graft.ops.Dedup.dedupByMinhash]]), write the deduplicated corpus.
  *
  *   sbt "runMain graft.tools.DedupCorpus <in.parquet> <out.parquet> \
  *     [idCol] [textCol] [bands]"
  *
  * Prints one JSON line with input/output row counts and wall time —
  * the linear-output dedup path measured in SCALING.md.
  */
object DedupCorpus {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DedupCorpus <in.parquet> <out.parquet> [idCol] [textCol] [bands]")
    val in = args(0)
    val out = args(1)
    val idCol = if (args.length > 2) args(2) else "doc_id"
    val textCol = if (args.length > 3) args(3) else "text"
    val bands = if (args.length > 4) args(4).toInt else 32
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("ERROR")
    val t0 = System.nanoTime()
    val docs = spark.read.parquet(in)
    val nIn = docs.count()
    val kept = graft.ops.Dedup.dedupByMinhash(docs, idCol, textCol, bands = bands)
    kept.write.mode("overwrite").parquet(out)
    val nOut = spark.read.parquet(out).count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(f"""{"rows_in":$nIn,"rows_out":$nOut,"seconds":$sec%.2f,"bands":$bands}""")
    spark.stop()
  }
}
