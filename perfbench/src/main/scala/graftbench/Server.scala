package graftbench

import java.io.{BufferedReader, File, InputStreamReader, PrintStream}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame

import graft.{GraftSession, SparkEntry}
import graft.sources.Tables

/** Spark execution counters of one job group, filled by [[StageListener]]. */
final class GroupStats {
  var jobs, stages, tasks, singleTaskStages = 0L
  var runMs, gcMs, shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var peakExecMem = 0L
  /** max ÷ median task run time of each stage with at least two tasks. */
  val skew = mutable.ArrayBuffer.empty[Double]

  def toJson: Map[String, Any] = Map(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks,
    "single_task_stages" -> singleTaskStages, "run_ms" -> runMs, "gc_ms" -> gcMs,
    "shuffle_write_bytes" -> shuffleWriteBytes, "shuffle_read_bytes" -> shuffleReadBytes,
    "spill_bytes" -> spillBytes, "peak_exec_mem_bytes" -> peakExecMem, "skew" -> skew.toSeq)
}

/** Collects per-job-group stage and task metrics. Groups come from the
  * `spark.jobGroup.id` property the server sets around every call; jobs
  * outside any group land in "-". All handlers run on the listener bus
  * thread; readers synchronize on the listener. */
final class StageListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  private val groups = mutable.Map.empty[String, GroupStats]
  @volatile private var lastEventNs = System.nanoTime()

  private def stats(g: String) = groups.getOrElseUpdate(g, new GroupStats)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("-")
    e.stageIds.foreach(stageGroup(_) = g)
    stats(g).jobs += 1
    lastEventNs = System.nanoTime()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, "-"))
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
      s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId), mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
    lastEventNs = System.nanoTime()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val s = stats(stageGroup.getOrElse(info.stageId, "-"))
    s.stages += 1
    if (info.numTasks == 1) s.singleTaskStages += 1
    stageTaskMs.remove((info.stageId, info.attemptNumber())).foreach { ms =>
      if (ms.size >= 2) {
        val sorted = ms.sorted
        val median = math.max(sorted(sorted.size / 2), 1L)
        s.skew += sorted.last.toDouble / median
      }
    }
    lastEventNs = System.nanoTime()
  }

  /** Wait until the bus has been quiet for `quietMs` (at most `maxMs`). */
  def awaitQuiet(quietMs: Long = 250, maxMs: Long = 5000): Unit = {
    val start = System.nanoTime()
    while ((System.nanoTime() - lastEventNs) / 1000000 < quietMs &&
        (System.nanoTime() - start) / 1000000 < maxMs) Thread.sleep(25)
  }

  /** The groups recorded since the last drain, and forget them. */
  def drain(): Map[String, GroupStats] = synchronized {
    val out = groups.toMap
    groups.clear()
    out
  }
}

/** Line protocol over stdin/stdout. Each request is one tab-separated
  * line; each reply is one line starting with "@@ " and holding a JSON
  * object (Spark's own logging goes to stderr). Commands:
  *
  *   oracles <out.json>               write SparkEntry.oracleSql as JSON
  *   query <name> <dir> <group> <c>   construct, plan and noop-write one
  *                                    query; c=1 also times `.count()`
  *   dump <name> <dir> <out>          write one query's output as parquet
  *   scan <dir> <table> <group>       Tables.load + noop write
  *   view <name> <dir> <table>        register Tables.load as a temp view
  *   sql <group> <text>               spark.sql(text) + noop write
  *   clock                            process CPU and GC seconds so far
  *   stats                            listener counters per group, drained
  *   quit
  */
object Server {
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  private def cpuS: Double = osBean.getProcessCpuTime / 1e9
  private def gcS: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3
  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  private def errorText(e: Throwable): String =
    (e.getClass.getSimpleName + ": " + Option(e.getMessage).getOrElse(""))
      .linesIterator.nextOption().getOrElse("").take(300)

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val cores = args(0).toInt
    val registryRoot = new File(args(1)).getCanonicalPath
    // Replies go to the real stdout; anything else printed there goes to stderr.
    val out = new PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true, "UTF-8")
    System.setOut(System.err)
    val spark = GraftSession.local(cores)
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new StageListener
    spark.sparkContext.addSparkListener(listener)
    val sc = spark.sparkContext
    def reply(fields: Map[String, Any]): Unit = out.println("@@ " + json(fields))

    def query(name: String, dir: String, group: String, withCount: Boolean): Map[String, Any] = {
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      var marks = Vector.empty[Double]
      val result = try {
        val df = SparkEntry.queries(name)(spark, dir)
        marks :+= secondsSince(t0)
        df.queryExecution.executedPlan
        marks :+= secondsSince(t0)
        noop(df)
        marks :+= secondsSince(t0)
        val served = df.inputFiles.map(f => new File(new java.net.URI(f).getPath))
          .filter(_.getPath.startsWith(registryRoot + File.separator))
        val servedBytes = served.map(_.length).sum
        Map[String, Any]("ok" -> true, "served_files" -> served.length,
          "served_bytes" -> servedBytes)
      } catch { case e: Throwable => Map[String, Any]("ok" -> false, "error" -> errorText(e)) }
      val latency = secondsSince(t0)
      val count = if (withCount && result("ok") == true) {
        sc.setJobGroup(group + "/count", name, interruptOnCancel = false)
        val c0 = System.nanoTime()
        try { SparkEntry.queries(name)(spark, dir).count(); Some(secondsSince(c0)) }
        catch { case _: Throwable => None }
      } else None
      sc.clearJobGroup()
      result ++ Map("latency_s" -> latency, "construct_s" -> marks.lift(0),
        "plan_s" -> marks.lift(1).map(_ - marks(0)),
        "execute_s" -> marks.lift(2).map(_ - marks(1)),
        "count_s" -> count)
    }

    def timed(group: String)(body: => Unit): Map[String, Any] = {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try { body; Map("ok" -> true, "seconds" -> secondsSince(t0)) }
      catch { case e: Throwable => Map("ok" -> false, "error" -> errorText(e)) }
      finally sc.clearJobGroup()
    }

    reply(Map("ready" -> true))
    val in = new BufferedReader(new InputStreamReader(System.in, "UTF-8"))
    var line = in.readLine()
    while (line != null && line != "quit") {
      val a = line.split("\t", -1)
      a(0) match {
        case "oracles" =>
          java.nio.file.Files.writeString(java.nio.file.Paths.get(a(1)), json(SparkEntry.oracleSql))
          reply(Map("ok" -> true))
        case "query" => reply(query(a(1), a(2), a(3), a(4) == "1"))
        case "dump" => reply(timed("check") {
            SparkEntry.queries(a(1))(spark, a(2)).write.mode("overwrite").parquet(a(3))
          })
        case "scan" => reply(timed(a(3))(noop(Tables.load(spark, a(1), a(2)))))
        case "view" => reply(timed("view")(Tables.load(spark, a(2), a(3)).createOrReplaceTempView(a(1))))
        case "sql" => reply(timed(a(1))(noop(spark.sql(a(2)))))
        case "clock" => reply(Map("cpu_s" -> cpuS, "gc_s" -> gcS))
        case "stats" =>
          listener.awaitQuiet()
          reply(listener.drain().map { case (g, s) => g -> s.toJson })
        case other => reply(Map("ok" -> false, "error" -> s"unknown command $other"))
      }
      line = in.readLine()
    }
    spark.stop()
  }
}
