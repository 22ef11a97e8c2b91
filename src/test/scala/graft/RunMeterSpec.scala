package graft

import org.apache.spark.StorageAccess
import org.scalatest.concurrent.Eventually
import org.scalatest.time.{Seconds, Span}

/** [[RunMeter]]: every job a catalog query starts carries that query's
  * tag and is filed under a `graft.*` call site, the meter reports the
  * jobs that did not carry the tag, and a metered run leaves no blocks
  * behind (releases are asynchronous, so that check polls). */
class RunMeterSpec extends SparkSpec with Eventually {

  override implicit val patienceConfig: PatienceConfig =
    PatienceConfig(timeout = Span(20, Seconds))

  test("two catalog queries: every job carries its query's tag, and no blocks are left") {
    val sc = spark.sparkContext
    val before = StorageAccess.rddsWithBlocks()
    Seq("q1_agg", "corpus_pipeline_v5").foreach { name =>
      val run = RunMeter.query(spark, name, sf001)(RunMeter.noop)
      info(s"$name: ${run.jobs} jobs, ${run.tasksPerStage.values.sum} tasks, " +
        s"${run.sites.size} call sites: ${run.sites.map(s => s"${s.site}=${s.jobs}").mkString(" ")}")
      assert(run.jobs > 0 && run.untagged == 0, s"$name started ${run.untagged} untagged jobs")
      assert(run.sites.map(_.jobs).sum == run.jobs && run.sites.exists(_.wallMs > 0), name)
      // the final noop write is the meter's own action, filed under it
      assert(!run.sites.exists(_.site == "(outside graft)"), s"$name: ${run.sites}")
      assert(run.sites.exists(_.site.startsWith("RunMeter.noop:")), s"$name: ${run.sites}")
      // a job outside any SQL execution is filed under its own call site:
      // the parquet schema read of a table the query loads
      assert(run.sites.exists(_.site.startsWith("Tables.load:")), s"$name: ${run.sites}")
      assert(run.tasksPerStage.nonEmpty && run.tasksPerStage.values.forall(_ > 0), name)
      assert(!sc.getJobTags().contains(RunMeter.tagOf(name)), s"$name's tag outlived its run")
      eventually(assert((StorageAccess.rddsWithBlocks() -- before).isEmpty, s"$name left blocks"))
    }
  }

  test("a job started without the run's tag is counted as untagged, not as the run's") {
    val sc = spark.sparkContext
    val run = RunMeter.measure(spark, "run-meter-spec") {
      sc.parallelize(1 to 8, 2).count()
      val other = new Thread(() => {
        sc.clearJobTags() // the child thread inherits the tag; drop it
        sc.parallelize(1 to 8, 2).count()
        ()
      })
      other.start(); other.join()
    }
    assert(run.jobs == 1 && run.untagged == 1, run)
    assert(run.tasksPerStage.values.toSeq == Seq(2), run)
    assert(run.sites.map(_.jobs) == Seq(1), run)
  }

  test("a failing run drops its tag; the next run meters as usual") {
    intercept[IllegalStateException] {
      RunMeter.measure(spark, "run-meter-failing")(throw new IllegalStateException("boom"))
    }
    assert(!spark.sparkContext.getJobTags().contains("run-meter-failing"))
    val next = RunMeter.measure(spark, "run-meter-next")(spark.range(10).count())
    assert(next.untagged == 0 && next.jobs >= 1, next)
  }
}
