package graft.ops

import graft.Materialize
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** TextRank: PageRank over the token co-occurrence graph (adjacent
  * tokens, undirected, weighted by bigram count) — corpus-level
  * keyword/salience extraction, and the engine's iterative NUMERIC
  * fixpoint next to [[Dedup]]'s iterative label fixpoint (connected
  * components): propagation with weighted sums instead of min-labels.
  *
  * Scale shape — the part that matters at 100 TB: the corpus is
  * touched exactly ONCE (the bigram explode → edge-count aggregation);
  * every iteration after that operates on the VOCABULARY-sized edge
  * and rank relations (joins keyed by token), so 10 iterations cost 10
  * small shuffles, not 10 corpus scans. Edge and rank state are
  * `localCheckpoint`ed ([[Dedup.componentsFromStar]]'s lineage-cut
  * discipline) so the plan does not grow with the iteration count.
  *
  * Determinism: the final ranks are rounded to 6 dp and tie-broken by
  * token. Both engines evaluate the SAME float expression shapes —
  * `r · w / deg` left-associated, teleport `(1−d)/n + d·Σ` — so the
  * only cross-engine noise is summation order inside `Σ`, absorbed by
  * the end-of-loop rounding (the `q_mix_divergence` ln-sum
  * convention). The `text_rank` oracle replays all 10 iterations in a
  * recursive CTE.
  */
object TextRank {

  private def tokens(textCol: Column): Column =
    filter(split(textCol, "\\s+"), t => t =!= "")

  /** Per-token PageRank: the top-`k` tokens as `(token, r, rk)` with
    * `r` rounded to 6 dp and `rk` the ordering by (r desc, token).
    * Self-loops (`a == b` bigrams) are dropped — a repeated token must
    * not vote for itself.
    *
    * The final ranking is CUT to `k` with `orderBy+limit` (Spark plans
    * a `TakeOrderedAndProject`: per-partition top-k, then a merge of
    * |partitions|·k rows) BEFORE the `rk` window — so the one
    * single-partition window in the plan sees ≤ k rows, never the
    * vocabulary (10⁷–10⁸ tokens at 100 TB). Callers wanting salience
    * want the head, not a total ordering; raise `k` if more of the
    * tail matters — the cost is k·|partitions| driver-merge rows, not
    * a vocabulary sort on one reducer. Same idiom as
    * [[Sampling.reservoir]] and the CMS top-k cut. */
  def tokenRank(docs: DataFrame, textCol: String,
      iterations: Int = 10, damping: Double = 0.85,
      k: Int = 100): DataFrame = {
    require(k >= 1, "need a positive top-k cut")
    require(iterations >= 1, "need at least one iteration")
    require(damping > 0 && damping < 1, "damping must be in (0,1)")
    val ts = docs.filter(col(textCol).isNotNull)
      .select(tokens(col(textCol)).as("ts"))
      .filter(size(col("ts")) > 1)
    val pairs = ts.select(explode(zip_with(
        slice(col("ts"), lit(1), size(col("ts")) - 1),
        slice(col("ts"), lit(2), size(col("ts")) - 1),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
      .filter(col("a") =!= col("b"))
    // both directions from ONE explode (a self-union of `pairs` trips
    // Catalyst's duplicate-exprId analysis on UNION children)
    val sym = pairs.select(explode(array(
        struct(col("a"), col("b")),
        struct(col("b").as("a"), col("a").as("b")))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val edges = sym.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).cast("double").as("w"))
    val deg = edges.groupBy(col("a")).agg(sum(col("w")).as("deg"))
    // edges with out-degree denormalized: the relation every iteration
    // joins — materialized once, vocabulary²-bounded, lineage cut
    val ew = Materialize(edges.join(deg, Seq("a"))
      .select(col("a").as("src"), col("b").as("dst"), col("w"), col("deg")))
    val nRel = Materialize(deg.agg(count(lit(1)).cast("double").as("n")))
    val init = deg.select(col("a").as("node")).crossJoin(broadcast(nRel))
      .select(col("node"), (lit(1.0) / col("n")).as("r"))
    val ranks = Materialize.iterate(Materialize(init), iterations) { rs =>
      ew.join(rs, col("src") === col("node"))
        .groupBy(col("dst"))
        .agg(sum(col("r") * col("w") / col("deg")).as("s"))
        .crossJoin(broadcast(nRel))
        .select(col("dst").as("node"),
          (lit(1.0 - damping) / col("n") + lit(damping) * col("s")).as("r"))
    }
    Materialize.release(ew)
    Materialize.release(nRel)
    import org.apache.spark.sql.expressions.Window
    // TakeOrdered cut FIRST (bounded ≤ k), window over the survivors
    // only — rk is 1..k by construction because limit and window share
    // one total order (r desc, token-tiebreak).
    ranks.select(col("node").as("token"), round(col("r"), 6).as("r"))
      .orderBy(col("r").desc, col("token"))
      .limit(k)
      .withColumn("rk", row_number().over(
        Window.orderBy(col("r").desc, col("token"))))
  }
}
