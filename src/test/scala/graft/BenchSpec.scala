package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Bench's timing rule: every sample materializes the full result, and a
  * query that throws is failed and timed nowhere. */
class BenchSpec extends SparkSpec {

  private def timePass(queries: (String, (SparkSession, String) => DataFrame)*): Bench.Pass =
    Bench.timePass(spark, sf, queries)

  test("Scale times each gated query it names exactly once") {
    val names = Scale.opNames
    assert(names.distinct == names,
      s"timed twice: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val ungated = names.filterNot(SparkEntry.queries.contains)
    assert(ungated.isEmpty, s"not gated queries: ${ungated.mkString(", ")}")
    assert(names.size == 50)
  }

  test("a query that throws is recorded as failed and timed nowhere") {
    var slowRuns = 0
    val pass = timePass(
      "boom" -> ((_, _) => throw new IllegalStateException("fails at once")),
      "slow" -> ((s, _) => { slowRuns += 1; Thread.sleep(20); s.range(1).toDF() }),
      "late" -> { var n = 0; (s, _) => { n += 1; if (n == 3) sys.error("fails on its 3rd run"); s.range(1).toDF() } })
    assert(pass.failed == Seq("boom", "late"))
    assert(pass.results.map(_._1) == Seq("slow"),
      s"a failing query must not be timed: ${pass.results}")
    assert(slowRuns == 3, "one cold and two warm samples")
    val (cold, warm) = pass.results.head._2
    assert(cold >= 0.02 && warm >= 0.02)
    assert(Bench.timed(throw new RuntimeException("x")).isEmpty)
  }

  test("a query whose projected column throws is recorded as failed") {
    // Integer division by zero under ANSI throws only when the column is
    // computed; a `.count()` prunes the projection and would pass.
    val pass = timePass(
      "div0" -> ((s, _) => s.range(4).select(expr("CAST(id AS INT) div 0").as("q"))),
      "ok" -> ((s, _) => s.range(4).select(expr("CAST(id AS INT) div 1").as("q"))))
    assert(pass.failed == Seq("div0"))
    assert(pass.results.map(_._1) == Seq("ok"))
  }
}
