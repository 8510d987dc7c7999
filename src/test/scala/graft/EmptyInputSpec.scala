package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Every operator must degrade to an empty (or identity) result on
  * zero-row inputs — a production pipeline hits empty dates, empty
  * partitions and empty sources constantly, and a crash there takes the
  * whole job down. The fixture preserves on-disk schemas exactly
  * (events keeps its raw nanos LONG so Tables.load's conversion applies).
  * Results are collected, so every output column is evaluated. */
class EmptyInputSpec extends SparkSpec {

  private lazy val emptyDir: String = {
    val dir = Files.createTempDirectory("graft_empty").toString
    graft.sources.Tables.names.foreach { t =>
      spark.read.parquet(s"$sf/$t.parquet")
        .filter(lit(false)).write.parquet(s"$dir/$t.parquet")
    }
    dir
  }

  test("all gated queries run on an all-empty dataset without crashing") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try { fn(spark, emptyDir).collect(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getClass.getSimpleName} ${e.getMessage}") }
    }
    assert(failures.isEmpty, s"${failures.size} queries crash on empty input:\n${failures.mkString("\n")}")
  }
}
