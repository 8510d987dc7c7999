package graft

import graft.operators.AnnModels
import org.apache.spark.sql.SparkSession

/** Spark's compiled-class cache holds graft's plan working set: a query
  * re-run in the same JVM reuses its generated classes instead of
  * compiling them again (`GraftSession.CodegenCacheEntries`). */
class CodegenCacheSpec extends SparkSpec {

  /** The `nightly_build` benchmark pass: six corpus queries, each from an
    * empty registry, so every artifact build plans and runs too. */
  private val nightlyBuild = Seq("dedup_exact", "sim_knn_graph", "text_langid_model",
    "pipeline_pack", "mm_phash", "stream_dedup_incremental")

  /** Classes compiled by one nightly-build pass over a fresh registry root. */
  private def passCompiles(s: SparkSession): Long = {
    val root = java.nio.file.Files.createTempDirectory("graft-codegen-cache").toString
    AnnModels.withRoot(root) {
      val c0 = Bench.compiles()
      nightlyBuild.foreach(q => Bench.materialize(SparkEntry.queries(q)(s, sf)))
      Bench.compiles() - c0
    }
  }

  test("the shared session carries graft's codegen cache size") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      GraftSession.CodegenCacheEntries.toString)
  }

  test("a second nightly-build pass compiles under 10% of what the first compiled") {
    // Spark caches a class per (class loader, code). A session that always
    // applies its own class loader plans and runs under keys no earlier
    // suite used, so the first pass compiles its whole working set in any
    // suite order.
    val s = spark.newSession()
    s.conf.set("spark.sql.artifact.isolation.alwaysApplyClassloader", "true")
    val first = passCompiles(s)
    val second = passCompiles(s)
    info(s"compiled $first classes, then $second")
    assert(second * 10 < first, s"first pass compiled $first classes, second $second")
  }
}
