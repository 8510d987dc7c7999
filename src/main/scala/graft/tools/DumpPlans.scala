package graft.tools

import org.apache.spark.sql.execution.ExplainMode

/** Dev-only: write `.explain("formatted")` for named gated queries to
  * `<outDir>/<query>_<suffix>.txt`, the before/after plan evidence of a
  * change (diff two dumps with expression ids masked). Args: sfDir outDir
  * suffix query... */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = graft.GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    new java.io.File(outDir).mkdirs()
    args.drop(3).foreach { q =>
      val df = graft.SparkEntry.queries(q)(spark, sfDir)
      val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plans] wrote $outDir/${q}_$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
