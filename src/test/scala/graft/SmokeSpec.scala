package graft

/** Every declared query runs and yields rows at sf0.001, and declared
  * oracles refer to declared queries (SparkEntry contract hygiene). Results
  * are collected, not counted: a count lets Catalyst prune projections,
  * so a column that throws would pass. */
class SmokeSpec extends SparkSpec {

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).collect().nonEmpty)
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  /** Queries whose CORRECT answer on the shipped corpus is empty — the
    * oracle verifies the emptiness and a synthetic-corpus spec carries the
    * positive signal. mm_phash_pairs: text-payload stand-in assets have no
    * <=2-hamming perceptual pairs (min observed 9; shingled text shifts
    * every byte, unlike the local edits perceptual dedup targets —
    * MultimodalSpec pins pairing on identical payloads). */
  private val legitimatelyEmpty = Set("mm_phash_pairs")

  SparkEntry.queries.foreach { case (name, fn) =>
    if (legitimatelyEmpty(name))
      test(s"$name runs at sf0.001 (honestly-empty result)") {
        assert(fn(spark, sf).collect().isEmpty, s"$name: corpus changed — re-check emptiness rationale")
      }
    else
      test(s"$name yields rows at sf0.001") {
        assert(fn(spark, sf).collect().nonEmpty, s"$name returned no rows")
      }
  }
}
