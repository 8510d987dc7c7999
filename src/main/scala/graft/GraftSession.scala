package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Scale posture: AQE on (runtime coalesce + skew-join splitting), shuffle
  * partitions sized to the local core count (a cluster deploy overrides via
  * `spark.sql.shuffle.partitions`), UTC so results are oracle-stable.
  */
object GraftSession {

  /** Entries in Spark's compiled-class cache (`spark.sql.codegen.cache.maxEntries`,
    * default 100): every generated class graft's plans use stays compiled
    * for the life of the JVM.
    *
    * Sized from the working set, counted with Catalyst's
    * `CodegenMetrics.METRIC_COMPILATION_TIME` on 4 cores. One
    * `nightly_build` pass (perfbench: six corpus queries from an empty
    * registry) compiles 150 distinct classes; at the default size every
    * later pass recompiled 142 of them, and with an unbounded cache 0 to 4.
    * The `analytics` pass compiles 79, which fits either way. A sweep of
    * all 201 gated queries at sf0.01 from an empty registry compiles 2,708
    * classes, then 18 and 24 on the next two sweeps: 4096 holds that too,
    * so `Bench`/`Verify` sweeps and the test suite do not thrash either.
    * At the default size the recompiling cost a `nightly_build` pass about
    * a fifth of its wall time: median pass_s 5.81 s at 100 entries, 4.59 s
    * at 4096 (10 alternating perfbench pairs, 4 cores).
    *
    * A static conf, read once per JVM: the cache is built at the JVM's
    * first code generation, and `getOrCreate` hands an existing session
    * back with its static confs unchanged. A session created earlier in
    * the JVM without this setting therefore fixes the cache size for
    * every later `local` session. */
  val CodegenCacheEntries: Int = 4096

  def local(cores: Int = Runtime.getRuntime.availableProcessors()): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("graft")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", math.max(cores, 4).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorExpressions.register(spark)
    spark
  }
}
