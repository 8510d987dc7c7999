package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class ExtensionsSpec extends AnyFunSuite {

  test("GraftExtensions wires functions and strategy into a fresh session") {
    val s = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      // the first session in the JVM fixes the codegen cache size for
      // every suite after it, so it must carry graft's setting
      .config("spark.sql.codegen.cache.maxEntries", GraftSession.CodegenCacheEntries.toString)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val c = s.sql(
        "SELECT graft_cosine(array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)), array(CAST(3.0 AS FLOAT), CAST(0.0 AS FLOAT)))")
        .collect().head.getDouble(0)
      assert(c == 1.0)
      val d = s.sql(
        "SELECT graft_dot(array(CAST(2.0 AS FLOAT), CAST(3.0 AS FLOAT)), array(CAST(4.0 AS FLOAT), CAST(5.0 AS FLOAT)))")
        .collect().head.getDouble(0)
      assert(d == 23.0)
      import org.apache.spark.sql.functions._
      import s.implicits._
      val df = Seq(("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 4, 5.0))
        .toDF("k", "id", "v")
      val top = graft.plans.TopKPerKey.topKPerKey(df, Seq("k"), Seq(col("v").desc), 2)
      assert(top.count() == 3)
    } finally ()
    // deliberately not stopped: getOrCreate may hand back the JVM-shared
    // session (one SparkContext per JVM); stopping it would sink every
    // suite scheduled after this one.
  }
}
