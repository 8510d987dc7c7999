package graft.tools

/** Dev-only: print the executed plan of named queries at a target SF. */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    args.drop(1).foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      df.count() // let AQE finalize
      println(s"===== $q =====")
      println(df.queryExecution.executedPlan.toString.take(9000))
    }
    spark.stop()
  }
}
