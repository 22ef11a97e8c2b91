package graft.ops

import graft.Materialize
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed trainer for the hashed linear quality classifier
  * ([[TextAnalysis.classifierScore]]): logistic regression over
  * md5-hashed token buckets, fit by full-batch gradient descent where
  * each epoch is ONE pair of Spark aggregations — the
  * [[IvfIndex.train]] Lloyd pattern applied to a linear model. Only
  * dim-sized objects (the weight vector and its gradient) ever reach
  * the driver; the corpus-sized relations stay distributed and the
  * per-doc feature relation is computed once and persisted across
  * epochs.
  *
  * The model is trained WITHOUT an intercept on length-normalized
  * bucket counts (x_b = count_b / n_tokens), so its decision function
  * is exactly the serving kernel's score — the mean per-token bucket
  * weight ([[graft.functions.HashedScoreExpr]] computes `raw/n` scaled
  * by 1000) — and `raw > 0` IS the trained decision boundary. Trained
  * double weights are quantized to the serving form's integer scale by
  * [[quantize]]; weights then ship as DATA (a parquet relation /
  * reference array), never as code — swapping models is a data change
  * (the rules-as-data stance of the sync plane, see
  * /root/reference/syncer/api/v1alpha1/krmsyncer_types.go:24-40).
  *
  * Scale: one epoch = (feature ⨝ broadcast weights → per-doc score,
  * one doc-keyed exchange) + (residual ⨝ features → per-bucket
  * gradient, one bucket-keyed exchange of ≤ dim map-side-reduced
  * rows). Cost per epoch is two shuffles over |corpus| token-bucket
  * rows — at 100 TB one trains on a SAMPLE (the label signal is
  * corpus-wide statistics; a few million docs saturate a 2¹⁰–2²⁰
  * bucket model), so the full-corpus pass stays an inference-only
  * concern.
  */
object ClassifierTrain {

  /** The per-doc hashed feature relation: (id, bucket, cnt, n) — one
    * explode pass, one (id, bucket) aggregation; `n` (doc token count,
    * the normalizer) is denormalized into every row the same way
    * [[TextIndex.postings]] denormalizes `dl`. Null text scores as one
    * empty token — the [[TextAnalysis.classifierScore]] contract. */
  def features(docs: DataFrame, idCol: String, textCol: String,
      dim: Int = 1024): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(split(coalesce(col(textCol), lit("")), "\\s+")).as("tok"))
      .select(col("id"),
        (Dedup.md5TokenHash60(col("tok")) % dim).cast("int").as("bucket"))
    val counts = toks.groupBy("id", "bucket").agg(count(lit(1)).as("cnt"))
    val totals = counts.groupBy("id").agg(sum("cnt").as("n"))
    counts.join(totals, Seq("id"))
  }

  /** Fit logistic weights. `labels` is (id, y) with y ∈ {0.0, 1.0}.
    * Returns the dense double weight vector (length `dim`). */
  def fit(spark: SparkSession, feats: DataFrame, labels: DataFrame,
      dim: Int = 1024, epochs: Int = 60, lr: Double = 40.0): Array[Double] = {
    Materialize.cached(feats)(f => Materialize.cached(labels) { l =>
      val nDocs = l.count().toDouble
      require(nDocs > 0, "no labeled docs")
      val w = new Array[Double](dim)
      (1 to epochs).foreach { _ =>
        val wDf = spark.createDataFrame(
          w.toIndexedSeq.zipWithIndex.map { case (x, b) => (b, x) })
          .toDF("bucket", "w")
        // per-doc margin s = Σ w_b·cnt_b / n  (the serving score, unscaled)
        val scores = f.join(broadcast(wDf), Seq("bucket"))
          .groupBy("id").agg(sum(col("w") * col("cnt") / col("n")).as("s"))
        // residual r = σ(s) − y, then per-bucket mean gradient — the
        // bucket aggregation map-side-reduces to ≤ dim rows per task
        val resid = scores.join(l, Seq("id"))
          .select(col("id"),
            (lit(1.0) / (lit(1.0) + exp(-col("s"))) - col("y")).as("r"))
        val grad = f.join(resid, Seq("id"))
          .groupBy("bucket")
          .agg(sum(col("r") * col("cnt") / col("n")).as("g"))
          .collect()
        grad.foreach { row =>
          val b = row.getInt(0)
          w(b) -= lr * row.getDouble(1) / nDocs
        }
      }
      w
    })
  }

  /** Fraction of `labels` docs the weight vector classifies correctly
    * (decision = mean bucket weight > 0, i.e. the serving `keep`). */
  def accuracy(spark: SparkSession, feats: DataFrame, labels: DataFrame,
      w: Array[Double]): Double = {
    val wDf = spark.createDataFrame(
      w.toIndexedSeq.zipWithIndex.map { case (x, b) => (b, x) })
      .toDF("bucket", "w")
    val scores = feats.join(broadcast(wDf), Seq("bucket"))
      .groupBy("id").agg((sum(col("w") * col("cnt")) / first(col("n"))).as("s"))
    val hit = scores.join(labels, Seq("id"))
      .select(((col("s") > 0).cast("int") === col("y").cast("int"))
        .cast("long").as("ok"))
      .agg(avg(col("ok"))).collect().head
    // avg over an EMPTY slice is SQL NULL — getDouble would NPE. An
    // arbitrary labeled-corpus path can legitimately produce an empty
    // audit subset (e.g. a holdout residue with nothing in it); NaN is
    // the honest "nothing to measure" the trainer records.
    if (hit.isNullAt(0)) Double.NaN else hit.getDouble(0)
  }

  /** Quantize trained double weights to the serving kernel's integer
    * scale: iw = round(w·1000), so the integer mean-weight score
    * `raw/(n·1000)` reproduces the trained decision function to 1e-3
    * per token — and stays exact / summation-order-free across
    * engines (the reason the serving path is integer in the first
    * place). */
  def quantize(w: Array[Double], scale: Long = 1000L): Array[Long] =
    w.map(x => math.round(x * scale))
}
