package graft.ops

import graft.{RunMeter, SparkSpec}
import org.apache.spark.sql.DataFrame
import org.apache.spark.util.LongAccumulator

/** The curation operators that collect a scalar from a relation and
  * return a plan over it compute that relation once: every input row
  * is read exactly once per operator call, however many model
  * relations and actions follow. */
class StageOnceSpec extends SparkSpec {
  import spark.implicits._

  /** `df` as a frame whose every read adds its rows to the accumulator. */
  private def counted(df: DataFrame): (DataFrame, LongAccumulator) = {
    val reads = spark.sparkContext.longAccumulator
    val rows = df.rdd.map { r => reads.add(1); r }
    (spark.createDataFrame(rows, df.schema), reads)
  }

  test("perplexityBuckets reads each scored row once: cuts and bands share it") {
    val (ppl, reads) = counted((1 to 30).map(i => (i.toLong, (i % 7) * 0.5)).toDF("id", "nll"))
    val out = LanguageModel.perplexityBuckets(ppl, bands = 3).collect()
    assert(out.length == 30)
    assert(reads.value == 30, s"30 scored rows were read ${reads.value} times")
  }

  test("trainKnBigramLm reads each reference row once: every model relation and scalar share it") {
    val (ref, reads) = counted(Seq((0L, "a b a b a c"), (1L, "b c d"), (2L, "d"),
      (3L, null)).toDF("doc_id", "text"))
    val lm = LanguageModel.trainKnBigramLm(ref, "text")
    assert(lm.vocab == 4 && lm.n1all == 5)
    lm.bigrams.collect(); lm.contexts.collect(); lm.rights.collect()
    val docs = Seq((7L, "a b c d"), (8L, "c a")).toDF("doc_id", "text")
    assert(LanguageModel.perplexityKn(docs, "doc_id", "text", lm).count() == 2)
    assert(reads.value == 4, s"4 reference rows were read ${reads.value} times")
  }

  test("trainFeatures reads each feature row once: both counts and both totals share it") {
    val (feats, reads) = counted(Seq((1L, 0, 2L), (1L, 3, 1L), (2L, 3, 4L), (3L, 5, 1L))
      .toDF("id", "bucket", "cnt"))
    val model = Dsir.trainFeatures(feats, Seq(1L, 3L).toDF("id"), buckets = 8)
    assert(model.targetTotal == 4 && model.rawTotal == 8)
    assert(model.ratios.count() == 8)
    assert(reads.value == 4, s"4 feature rows were read ${reads.value} times")
  }

  test("corpus_pipeline_v5 runs a fixed number of Spark jobs (sf0.001)") {
    val run = RunMeter.query(spark, "corpus_pipeline_v5", sf001)(RunMeter.noop)
    val jobs = run.jobs
    assert(run.untagged == 0, s"${run.untagged} corpus_pipeline_v5 jobs ran untagged")
    info(s"corpus_pipeline_v5 ran $jobs jobs")
    assert(jobs <= StageOnceSpec.V5Jobs,
      s"corpus_pipeline_v5 ran $jobs jobs, more than ${StageOnceSpec.V5Jobs}")
  }
}

object StageOnceSpec {
  /** Jobs of one scoped `corpus_pipeline_v5` pass at sf0.001 on 4 cores,
    * each stage computed once. */
  val V5Jobs = 57
}
