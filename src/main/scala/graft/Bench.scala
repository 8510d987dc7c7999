package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The all-queries sweep, timed the way perfbench times its workloads:
  * every sample runs from the call into the query to the end of a full
  * `noop` write of its result. */
object Bench {

  /** Compute every column of every row and drop it. `.count()` lets
    * Catalyst prune projections and drop sorts, so work a consumer would
    * receive (and a column that throws) goes untimed; a `noop` write
    * cannot skip any of it. */
  def materialize(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Wall seconds of `body`, or None when it throws: a failed query has no
    * timing, so it can never read as the fastest one. */
  private[graft] def timed(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case _: Throwable => None }
  }

  /** Generated classes compiled in this JVM so far: Catalyst records one
    * compile-time sample per class it compiles, none for a class its
    * codegen cache serves. */
  private[graft] def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** One timed pass: per query (cold, best-of-2 warm) seconds, the names
    * that threw, and the classes compiled during the warm samples. */
  private[graft] case class Pass(results: Seq[(String, (Double, Double))], failed: Seq[String],
      warmCompiles: Long)

  /** Time `queries` at `dir` in the order given: a cold sample, then two
    * warm ones, each materializing `fn(spark, dir)`. A query that throws
    * in any sample is listed in `failed` and appears in no timing, so no
    * total counts it. A warm sample re-plans a query the cold one already
    * compiled, so its compiles are codegen cache misses. */
  private[graft] def timePass(spark: SparkSession, dir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)]): Pass = {
    var warmCompiles = 0L
    val samples = queries.map { case (name, fn) =>
      name -> Iterator.tabulate(3) { i =>
        val c0 = compiles()
        val t = timed(materialize(fn(spark, dir)))
        if (i > 0) warmCompiles += compiles() - c0
        t
      }.takeWhile(_.isDefined).flatten.toSeq
    }
    Pass(samples.collect { case (name, Seq(c, w1, w2)) => name -> ((c, math.min(w1, w2))) },
      samples.collect { case (name, ts) if ts.size < 3 => name }, warmCompiles)
  }

  /** Args: `<sfDir> <warmupDir>` — the dataset to time, and a small one
    * the untimed warm-up pass runs first. Prints one JSON line on stdout
    * and writes no file; `value` is the warm total, `compiles` the classes
    * compiled during the warm samples (codegen cache thrash, as one number). */
  def main(args: Array[String]): Unit = {
    val (sfDir, warmupDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString).toInt
    val spark = GraftSession.local(cpus)
    // Stamped, not acted on: a run on a busy box identifies itself.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Sorted, so runs diff query by query and the first-query JIT cost
    // always lands on the same query.
    val queries = SparkEntry.queries.toSeq.sortBy(_._1)
    // Warm-up at a small SF: JIT, codegen and shuffle machinery, so the
    // timed samples reflect steady-state throughput, not JVM start-up.
    queries.foreach { case (name, fn) =>
      try materialize(fn(spark, warmupDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    }
    val Pass(results, failed, warmCompiles) = timePass(spark, sfDir, queries)
    def r3(d: Double): Double = math.round(d * 1000) / 1000.0
    def obj(sel: ((Double, Double)) => Double): String = results
      .map { case (k, v) => "\"" + k + "\":" + r3(sel(v)) }.mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","cpus":$cpus,"load_avg_start":${r3(loadAvg)},""" +
      s""""materialize":"noop","cold_total":${r3(results.map(_._2._1).sum)},""" +
      s""""queries_cold":${obj(_._1)},"queries":${obj(_._2)},""" +
      s""""failed":${failed.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
      s""""compiles":$warmCompiles,""" +
      s""""value":${r3(results.map(_._2._2).sum)}}""")
    spark.stop()
  }
}
