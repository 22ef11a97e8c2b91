package graft

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** [[Verify]]'s name filter: a subset writes only its own outputs and
  * oracle entries, an unknown name is an error, and a selected query
  * that fails keeps its oracle entry so the oracle check still fails. */
class VerifySpec extends SparkSpec {

  private def oracleKeys(out: Path): Set[String] =
    "\"([a-z0-9_]+)\": \"".r.findAllMatchIn(Files.readString(out.resolve("oracle_sql.json")))
      .map(_.group(1)).toSet

  test("a name filter selects in catalog order; no names select every query") {
    val names = Seq("q1_agg", "ann_topk")
    assert(Verify.select(names.reverse).toSet == names.toSet)
    assert(Verify.select(names) == SparkEntry.queries.keys.toSeq.filter(names.contains))
    assert(Verify.select(Nil) == SparkEntry.queries.keys.toSeq)
  }

  test("an unknown name is an error, not an empty selection") {
    val e = intercept[IllegalArgumentException](Verify.select(Seq("q1_agg", "no_such_query")))
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("q1_agg"))
  }

  test("a subset writes only its own outputs and oracle entries; a failed query keeps its entry") {
    val out = Files.createTempDirectory("verify-spec")
    Verify.dump(spark, sf001, out.toString, Seq("q1_agg"))
    assert(oracleKeys(out) == Set("q1_agg"))
    assert(Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("q1_agg", "oracle_sql.json"))

    val failed = Files.createTempDirectory("verify-spec-missing")
    Verify.dump(spark, s"$failed/no-tables", failed.toString, Seq("q1_agg"))
    assert(oracleKeys(failed) == Set("q1_agg"))
    assert(!Files.exists(failed.resolve("q1_agg")))
    Seq(out, failed).foreach(d => Files.walk(d).iterator().asScala.toSeq.reverse
      .foreach(Files.delete))
  }
}
