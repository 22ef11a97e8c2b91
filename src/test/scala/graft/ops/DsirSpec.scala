package graft.ops

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

class DsirSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, sf001)
  private lazy val model =
    Dsir.train(docs, "doc_id", "text", col("lang") === "en", buckets = 512)
  private lazy val weights =
    Dsir.logWeights(docs, "doc_id", "text", model).persist()

  test("model is bucket-bounded and smoothing leaves no bucket unscoreable") {
    val ratios = model.ratios.collect()
    assert(ratios.length <= 512, "model larger than the bucket space")
    assert(ratios.forall(!_.isNullAt(ratios.head.fieldIndex("llr"))),
      "a bucket got a null llr — smoothing failed")
    assert(model.rawTotal >= model.targetTotal && model.targetTotal > 0)
  }

  test("target-domain documents score higher than off-domain ones") {
    val byLang = weights
      .join(docs.select("doc_id", "lang"), weights("id") === docs("doc_id"))
      .groupBy("lang").agg(avg("logw").as("m"))
      .as[(String, Double)].collect().toMap
    val others = byLang.filterNot(_._1 == "en").values
    assert(others.nonEmpty)
    assert(others.forall(byLang("en") > _),
      s"en mean ${byLang("en")} not above every non-target mean: $byLang")
  }

  test("every scoreable document is present with a finite weight") {
    val scoreable = docs.filter(col("text").isNotNull &&
      size(split(col("text"), "\\s+")) > 1).count()
    assert(weights.count() == scoreable)
    assert(weights.filter(col("logw").isNull || isnan(col("logw"))).count() == 0)
  }

  test("resampling selects the target-like docs far above base rate, deterministically") {
    val sel = Dsir.resample(weights, n = 50, seed = "dsirSpec")
      .join(docs.select(col("doc_id").as("id"), col("lang")), Seq("id"))
    val enSel = sel.filter(col("lang") === "en").count().toDouble / 50
    val enBase = docs.filter(col("lang") === "en").count().toDouble / docs.count()
    assert(enSel > enBase + 0.2,
      s"selected en fraction $enSel not materially above base $enBase")
    val again = Dsir.resample(weights, n = 50, seed = "dsirSpec")
      .select("id").as[Long].collect().toSet
    assert(again == sel.select("id").as[Long].collect().toSet, "same seed ⇒ same sample")
    val other = Dsir.resample(weights, n = 50, seed = "other")
      .select("id").as[Long].collect().toSet
    assert(other != again, "different seed should move the Gumbel race")
  }

  test("the on-disk feature store reproduces the inline path row for row") {
    val path = graft.Staging.dirFor("dsir-feats-spec")
    Dsir.writeFeatures(docs, "doc_id", "text", 512, path)
    val feats = Dsir.readFeatures(spark, path)
    val tIds = docs.filter(col("lang") === "en")
      .select(col("doc_id").as("id")).distinct()
    val stored = Dsir.trainFeatures(feats, tIds, buckets = 512)
    assert(stored.targetTotal == model.targetTotal &&
      stored.rawTotal == model.rawTotal)
    val a = Dsir.logWeightsFeatures(feats, stored)
      .orderBy("id").collect().toSeq
    val b = weights.orderBy("id").collect().toSeq
    assert(a == b, "store-path weights diverge from the inline explode")
  }

  test("the model is DENSE: a new document's unseen bucket gets the smoothed llr, not a drop") {
    assert(model.ratios.count() == 512,
      "ratios must cover every bucket, observed or not")
    // the pure-smoothing llr every unobserved bucket must carry
    val expected = math.log(1.0 / (model.targetTotal + 512.0)) -
      math.log(1.0 / (model.rawTotal + 512.0))
    val unobserved = model.ratios.filter(col("rc") === 0)
      .select("llr").as[Double].collect()
    assert(unobserved.nonEmpty, "fixture should leave some buckets unobserved")
    assert(unobserved.forall(l => math.abs(l - expected) < 1e-12))
    // scoring a doc whose bigrams the training pool never saw: every
    // feature lands (n_feats counts all of them) instead of dropping
    val novel = Seq((999999L, "zzqq1 zzqq2 zzqq3")).toDF("doc_id", "text")
    val w = Dsir.logWeights(novel, "doc_id", "text", model).collect()
    assert(w.length == 1 && w.head.getLong(1) == 2,
      s"both novel bigrams must be scored: ${w.toSeq}")
  }

  test("trainFeatures: the same dense ratios and totals as two collected totals, bit for bit") {
    val feats = Dsir.hashedFeatures(docs, "doc_id", "text", 512)
    // duplicated target ids must not double-count (semi-join semantics)
    val ids = docs.filter(col("lang") === "en").select(col("doc_id").as("id"))
    val tIds = ids.union(ids)
    // the formula trainFeatures replaced: rN and tN collected to the
    // driver, then the ratios computed over them as literals
    val raw = feats.groupBy("bucket").agg(sum("cnt").as("rc"))
    val tgt = feats.join(broadcast(tIds), Seq("id"), "left_semi")
      .groupBy("bucket").agg(sum("cnt").as("tc"))
    val rN = raw.agg(sum("rc")).collect().head.getLong(0)
    val tN = tgt.agg(sum("tc")).collect().head.getLong(0)
    val expected = spark.range(512).select(col("id").cast("int").as("bucket"))
      .join(raw, Seq("bucket"), "left").join(tgt, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("rc"), lit(0L)).as("rc"),
        coalesce(col("tc"), lit(0L)).as("tc"),
        (log((coalesce(col("tc"), lit(0L)) + lit(1L)).cast("double") /
            (lit(tN) + lit(512L)).cast("double")) -
          log((coalesce(col("rc"), lit(0L)) + lit(1L)).cast("double") /
            (lit(rN) + lit(512L)).cast("double"))).as("llr"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("bucket", "rc", "tc", "llr").as[(Int, Long, Long, Double)].collect()
        .sortBy(_._1).map { case (b, r, t, l) => (b, r, t, java.lang.Double.doubleToRawLongBits(l)) }
        .toSeq
    val m = Dsir.trainFeatures(feats, tIds, buckets = 512)
    assert(m.targetTotal == tN && m.rawTotal == rN)
    assert(rows(m.ratios) == rows(expected))
  }

  test("an empty target slice fails loudly instead of training on nothing") {
    val feats = Dsir.hashedFeatures(docs, "doc_id", "text", 512)
    val e = intercept[IllegalArgumentException](
      Dsir.trainFeatures(feats, Seq.empty[Long].toDF("id"), buckets = 512))
    assert(e.getMessage.contains("DSIR target slice is empty"), e.getMessage)
    val inline = intercept[IllegalArgumentException](
      Dsir.train(docs, "doc_id", "text", col("lang") === "no-such-lang", buckets = 512))
    assert(inline.getMessage.contains("DSIR target slice is empty"), inline.getMessage)
  }

  test("plan: the model side broadcasts into the scoring join") {
    val df = Dsir.logWeights(docs, "doc_id", "text", model)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastQueryStage"),
      s"model join not broadcast:\n$plan")
  }
}
