package graft.tools

import graft.ops.{ClassifierTrain, TextAnalysis}
import graft.GraftSession
import org.apache.spark.sql.functions._

/** One-off trainer for the committed quality-classifier weights behind
  * `text_quality_classifier` and pipeline v3's fused gate — the
  * [[GenMediaFixtures]] pattern applied to a model: train once, commit
  * the weights as a single-file parquet fixture plus a write-time
  * manifest recording how they were made and how well they did, so the
  * oracle (and any auditor) replays the scoring against the exact
  * committed relation.
  *
  * Labels come from the committed LABELED corpus
  * (`fixtures/labeled_quality.parquet`, generated and digest-pinned by
  * [[GenQualityFixtures]]): ground truth by construction of the
  * generator's six quality classes, NOT any statistic the engine can
  * compute — half that corpus is deliberately adversarial to the
  * stopword-density rule, so a model that merely re-derived the rule
  * would score ~50% on it. The manifest therefore records, alongside
  * the usual holdout accuracy, the stopword RULE's holdout accuracy
  * and the model's accuracy on exactly the held-out docs the rule
  * gets wrong (`rule_wrong_model_acc`) — the number that proves the
  * learned weights add information a scan-speed filter cannot
  * (ClassifierSpec re-derives and pins it). This replaces the
  * first-generation trainer whose labels WERE the stopword rule
  * (round-12 verdict: label circularity).
  *
  * Run once, outputs committed:
  * `sbt "runMain graft.tools.TrainClassifier"`.
  */
object TrainClassifier {

  val Dim = 1024
  /** The scan-speed gate the labeled corpus is adversarial to —
    * [[GenQualityFixtures.RuleThreshold]], the 25%-of-cap point of the
    * composite quality score's stopword component. */
  val RuleThreshold: Double = GenQualityFixtures.RuleThreshold

  def main(args: Array[String]): Unit = {
    val labeledPath = args.headOption.getOrElse("fixtures/labeled_quality.parquet")
    val outDir = if (args.length > 1) args(1) else "fixtures"
    val spark = GraftSession(8)
    try {
      val docs = spark.read.parquet(labeledPath)
        .select("doc_id", "klass", "label", "text")
      val labels = docs.select(col("doc_id").as("id"),
        col("label").cast("double").as("y"))
      // the rule's own verdict per doc, for the added-information audit
      val rulePred = docs.select(col("doc_id").as("id"),
        (TextAnalysis.stopwordRatio(col("text")) >= RuleThreshold)
          .cast("double").as("rule_y"))
      val feats = ClassifierTrain.features(docs, "doc_id", "text", Dim)
      // deterministic 80/20 split keyed on the id itself
      val trainIds = labels.filter(pmod(col("id"), lit(5)) =!= 0)
      val holdIds = labels.filter(pmod(col("id"), lit(5)) === 0)
      val w = ClassifierTrain.fit(spark, feats.join(trainIds.select("id"), Seq("id")),
        trainIds, Dim, epochs = 300, lr = 80.0)
      val trainAcc = ClassifierTrain.accuracy(spark,
        feats.join(trainIds.select("id"), Seq("id")), trainIds, w)
      val holdAcc = ClassifierTrain.accuracy(spark,
        feats.join(holdIds.select("id"), Seq("id")), holdIds, w)
      // the two audit numbers: how the RULE does on holdout, and how
      // the MODEL does on the holdout docs the rule misclassifies
      val holdWithRule = holdIds.join(rulePred, Seq("id"))
      val ruleHoldAcc = {
        val r = holdWithRule
          .select((col("rule_y") === col("y")).cast("long").as("ok"))
          .agg(avg("ok")).collect().head
        // empty holdout (a labeled path whose ids all avoid id%5==0) —
        // NaN, not an avg(NULL) NPE; same contract as accuracy()
        if (r.isNullAt(0)) Double.NaN else r.getDouble(0)
      }
      val ruleWrongIds = holdWithRule.filter(col("rule_y") =!= col("y"))
        .select("id", "y")
      val nRuleWrong = ruleWrongIds.count()
      // The trainer accepts ANY labeled corpus path: on one where the
      // rule misclassifies nothing, accuracy-over-empty is an avg(NULL)
      // NPE. Record NaN — "no rule-wrong subset to measure" — instead.
      val ruleWrongModelAcc =
        if (nRuleWrong == 0) Double.NaN
        else ClassifierTrain.accuracy(spark,
          feats.join(ruleWrongIds.select("id"), Seq("id")), ruleWrongIds, w)
      val iw = ClassifierTrain.quantize(w)
      val posFrac = labels.agg(avg("y")).collect().head.getDouble(0)

      // dense (bucket, iw) relation — every bucket present so an inner
      // join is a left join and the inline array form agrees exactly
      import spark.implicits._
      val weightsDf = iw.toIndexedSeq.zipWithIndex
        .map { case (v, b) => (b, v) }.toDF("bucket", "iw")
        .select(col("bucket").cast("int"), col("iw").cast("long"))
      FixtureIO.writeSingleFile(spark, weightsDf.orderBy("bucket"),
        s"$outDir/classifier_weights.parquet")
      val md5 = weightsMd5(iw)
      val labelsMd5 = spark.read
        .parquet(s"${new java.io.File(labeledPath).getParent}/labeled_quality_manifest.parquet")
        .collect().head.getAs[String]("corpus_md5")
      val manifest = Seq((Dim, posFrac, trainIds.count(), holdIds.count(),
        trainAcc, holdAcc, ruleHoldAcc, nRuleWrong, ruleWrongModelAcc,
        md5, labelsMd5, labeledPath))
        .toDF("dim", "pos_frac", "n_train", "n_holdout",
          "train_acc", "holdout_acc", "rule_holdout_acc",
          "n_rule_wrong_holdout", "rule_wrong_model_acc",
          "weights_md5", "labels_md5", "trained_on")
      FixtureIO.writeSingleFile(spark, manifest,
        s"$outDir/classifier_weights_manifest.parquet")
      println(f"trained dim=$Dim pos_frac=$posFrac%.3f " +
        f"train_acc=$trainAcc%.4f holdout_acc=$holdAcc%.4f " +
        f"rule_holdout_acc=$ruleHoldAcc%.4f " +
        f"rule_wrong_model_acc=$ruleWrongModelAcc%.4f (n=$nRuleWrong) md5=$md5")
    } finally spark.stop()
  }

  /** Canonical digest of the quantized weights: md5 over
    * "bucket:iw\n" lines in bucket order — recomputable from the
    * fixture by anyone (ClassifierSpec re-derives it). */
  def weightsMd5(iw: Array[Long]): String = {
    val s = iw.zipWithIndex.map { case (v, b) => s"$b:$v" }.mkString("\n")
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
  }
}
