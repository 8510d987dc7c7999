package graft
object Bench {

  /** Where a run's artifact belongs: a contended run (start load average
    * above [[ContendedLoad]]) is demoted to `<path>.contended` whenever an
    * artifact already EXISTS at `path` and does not affirmatively record a
    * contended start — so a busy-box re-run can never overwrite idle-box
    * evidence, and an unparseable existing artifact fails SAFE (demote)
    * rather than silently disarming the guard. A clean run, a missing
    * prior artifact, or a prior artifact stamped contended all write
    * `path` as before. */
  val ContendedLoad = 2.0
  private[graft] def artifactDestination(path: String, loadAvg: Double,
      fileExists: Boolean, existingLoad: Option[Double]): String =
    if (loadAvg > ContendedLoad && fileExists && existingLoad.forall(_ <= ContendedLoad))
      path + ".contended"
    else path

  /** The `load_avg_start` stamped into an existing artifact, if one parses. */
  private[graft] def existingLoadAvg(path: String): Option[Double] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      """"load_avg_start"\s*:\s*(-?[0-9.]+)""".r
        .findFirstMatchIn(txt).map(_.group(1).toDouble)
    } catch { case _: Throwable => None }

  /** The `cpus` stamped into an existing artifact, if one parses. */
  private[graft] def existingCpus(path: String): Option[Int] =
    try {
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
      """"cpus"\s*:\s*([0-9]+)""".r.findFirstMatchIn(txt).map(_.group(1).toInt)
    } catch { case _: Throwable => None }

  /** Core-count guard (r17, VERDICT r16 #6): the self-defense above only
    * guards CONTENDED runs, so the driver's 8-core scaling run (load 1.99,
    * under the bar) clobbered the 32-core clean artifact in r16. A run
    * whose `SPARK_GRAFT_CPUS` differs from the cpus stamped in the
    * existing artifact writes `<path>.c<cpus>` instead — each core count
    * keeps its own slot. Legacy artifacts without a cpus stamp keep the
    * old behavior (the stamp arms the guard from this round on). */
  private[graft] def cpusDestination(path: String, cpus: Int,
      existing: Option[Int]): Option[String] =
    existing.filter(_ != cpus).map(_ => path + s".c$cpus")

  private[graft] def numField(txt: String, key: String): Option[Double] =
    (s""""$key"\\s*:\\s*(-?[0-9.]+)""").r.findFirstMatchIn(txt).map(_.group(1).toDouble)
  private[graft] def objField(txt: String, key: String): Option[String] =
    (s""""$key"\\s*:\\s*(\\{[^}]*\\})""").r.findFirstMatchIn(txt).map(_.group(1))
  /** The LAST `"key": {...}` object in `txt` — a round artifact's archived
    * tail can carry several control blocks (the full-artifact line, then
    * the compact round line); the compact line is printed last and records
    * the numbers the round actually kept, so the last occurrence is the
    * committed evidence. */
  private[graft] def objFieldLast(txt: String, key: String): Option[String] =
    (s""""$key"\\s*:\\s*(\\{[^}]*\\})""").r.findAllMatchIn(txt)
      .map(_.group(1)).toSeq.lastOption
  /** The key set of a flat `{"name":num,...}` JSON object string. */
  private[graft] def objKeys(obj: String): Set[String] =
    """"([^"]+)"\s*:""".r.findAllMatchIn(obj).map(_.group(1)).toSet
  private[graft] def objPairs(obj: String): Map[String, Double] =
    """"([^"]+)"\s*:\s*(-?[0-9.]+)""".r.findAllMatchIn(obj)
      .map(m => m.group(1) -> m.group(2).toDouble).toMap

  /** Minimum control intersection for a drift stamp (ADVICE r15): with
    * fewer shared names — e.g. right after a control-set swap against a
    * degenerate prior — the "median" collapses onto one or two noisy
    * queries' ratios and can skew the normalized headline without any
    * flag in the artifact. Below the floor, no normalization is claimed. */
  val MinSharedControls = 3

  /** CONTROL-NORMALIZED drift factor (VERDICT r14 #5, re-anchored r16):
    * the median ratio of this run's control timings to the prior ROUND's
    * committed artifact's, over the controls both runs measured. > 1
    * means this box ran slower than the previous round's; dividing the
    * warm total by it yields `value_ctl_norm`, the number comparable
    * round-over-round without manual control math. The anchor text must
    * be a committed round artifact ([[priorRoundArtifact]]) — VERDICT r15
    * #3: anchoring on "whatever BENCH_FULL.json was on disk" normalized
    * against untracked same-round intermediates, which is not a
    * round-over-round number. Returns (median, shared-control count);
    * None when the anchor is missing/unparseable or the positive-valued
    * intersection is under [[MinSharedControls]]. */
  private[graft] def ctlDrift(priorTxt: String,
      controls: Seq[(String, Double)]): Option[(Double, Int)] = {
    val prior = objFieldLast(priorTxt, "controls").map(objPairs).getOrElse(Map.empty)
    val ratios = controls.flatMap { case (k, cur) =>
      prior.get(k).filter(p => p > 0 && cur > 0).map(p => cur / p)
    }.sorted
    if (ratios.size < MinSharedControls) None
    else Some((
      if (ratios.size % 2 == 1) ratios(ratios.size / 2)
      else (ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2,
      ratios.size))
  }

  /** The prior ROUND's committed bench artifact: the highest-numbered
    * `BENCH_r<N>.json` in `dir` (the files the round driver commits — a
    * mid-round re-run of Bench never writes one, so the drift anchor
    * cannot drift onto a same-round intermediate). Returns (round,
    * file text). */
  private[graft] def priorRoundArtifact(dir: String): Option[(Int, String)] =
    try {
      val rx = """^BENCH_r0*([0-9]+)\.json$""".r
      val files = new java.io.File(dir).listFiles()
      if (files == null) None
      else files.flatMap { f =>
        f.getName match {
          case rx(n) => Some((n.toInt, f))
          case _ => None
        }
      }.sortBy(-_._1).headOption.map { case (n, f) =>
        // the round artifact embeds the bench stdout as a JSON STRING
        // ("tail": "...\"controls\":{...}"), so the control blocks arrive
        // with escaped quotes — unescape before the field regexes look
        (n, new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          .replace("\\\"", "\""))
      }
    } catch { case _: Throwable => None }

  /** The round-close STDOUT line when this run was demoted (VERDICT r13
    * #8): the driver stamps BENCH_rN from the LAST stdout line, so a
    * contended run used to put busy-box numbers in the round artifact
    * while the self-defense rule correctly preserved the clean file — the
    * two artifacts disagreed. Re-emit the KEPT clean artifact's headline
    * numbers instead, provided it covers the SAME query-NAME set — set
    * equality, not cardinality (ADVICE r14: a round that adds one gated
    * query and drops another keeps the count, so a stale artifact would
    * masquerade as current) — otherwise the live numbers go out, flagged
    * contended. Returns None when the kept artifact can't stand in. */
  private[graft] def keptCompactLine(keptTxt: String, sfDir: String,
      queryNames: Set[String], demotedTo: String, liveLoad: Double): Option[String] =
    for {
      v <- numField(keptTxt, "value")
      c <- numField(keptTxt, "cold_total")
      m <- numField(keptTxt, "median_heavy_total")
      l <- numField(keptTxt, "load_avg_start")
      q <- objField(keptTxt, "queries")
      if objKeys(q) == queryNames
      ctl <- objField(keptTxt, "controls")
      med <- objField(keptTxt, "queries_median")
    } yield s"""{"metric":"total","unit":"sec","sf":"$sfDir","value":$v,""" +
      s""""cold_total":$c,"median_heavy_total":$m,"load_avg_start":$l,""" +
      s""""n_queries":${queryNames.size},"full_artifact":"kept clean artifact","controls":$ctl,""" +
      s""""queries_median":$med,"contended":false,""" +
      s""""live_run":"contended (load $liveLoad), demoted to $demotedTo"}"""

  /** Wall seconds of `body`, or None when it throws: a failed query has no
    * timing, so it can never read as the fastest one. */
  private[graft] def timed(body: => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    try { body; Some((System.nanoTime() - t0) / 1e9) }
    catch { case _: Throwable => None }
  }

  /** One timed pass: per query (cold, best-of-2 warm) seconds, the
    * median-of-3 warm seconds of the heavy tail, and the names that threw. */
  private[graft] case class Pass(results: Seq[(String, (Double, Double))],
      medians: Seq[(String, Double)], failed: Seq[String])

  /** Time `queries` in the order given: a cold sample and two warm ones
    * each, then a third warm sample for the `heavyN` slowest by warm time.
    * A query that throws in any sample is listed in `failed` and appears
    * in no timing, so no total counts it. */
  private[graft] def timePass(queries: Seq[(String, () => Unit)], heavyN: Int): Pass = {
    val samples = queries.map { case (name, run) =>
      (name, run, Iterator.fill(3)(timed(run())).takeWhile(_.isDefined).flatten.toSeq)
    }
    val ok = samples.collect { case (name, run, Seq(c, w1, w2)) => (name, run, c, w1, w2) }
    val heavy = ok.sortBy(t => -math.min(t._4, t._5)).take(heavyN).map {
      case (name, run, _, w1, w2) => name -> timed(run()).map(w3 => Seq(w1, w2, w3).sorted.apply(1))
    }
    val failed = (samples.collect { case (name, _, ts) if ts.size < 3 => name } ++
      heavy.collect { case (name, None) => name }).toSet
    Pass(
      ok.collect { case (name, _, c, w1, w2) if !failed(name) => name -> ((c, math.min(w1, w2))) },
      heavy.collect { case (name, Some(m)) => name -> m },
      queries.map(_._1).filter(failed))
  }

  /** Args: `<sfDir> <warmupDir>` — the dataset to time, and a small one
    * the untimed warm-up pass runs first. */
  def main(args: Array[String]): Unit = {
    val (sfDir, warmupDir) = (args(0), args(1))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus.toInt)
    // Bench hygiene: timings taken on a busy box are not evidence (the
    // round-5 driver artifact was contention-polluted). Stamp the start
    // load average into the artifact so a polluted run is self-identifying,
    // and say so loudly up front.
    val loadAvg = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    if (loadAvg > 2.0)
      System.err.println(f"[bench] WARNING: load average $loadAvg%.2f at start — " +
        "timings will be contention-polluted; re-run on an idle box")
    // Warmup pass at a small SF: JIT + codegen + shuffle machinery,
    // so timed numbers reflect steady-state throughput, not JVM startup.
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, warmupDir).count()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warm-up $name failed: ${e.getMessage}")
      }
    }
    // Cold = first timed pass at the target SF (includes per-query codegen);
    // warm = best-of-2 after it (steady-state throughput, GC/scheduler noise
    // minimized). Both are reported so rounds are comparable either way;
    // headline "value" is the warm total. Each sample times `.count()`.
    def run(fn: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)(): Unit =
      fn(spark, sfDir).count()
    // Sorted order: map-hash iteration reshuffles when queries are added,
    // which made round-over-round artifacts hard to diff (and moved the
    // first-query JIT cost to a random victim). Totals vary ±8% from run
    // to run and single warm samples flip sign between runs — so the HEAVY
    // tail (where per-query deltas matter) gets a THIRD warm sample and
    // reports the median of three: one outlier sample can no longer fake a
    // regression or an improvement on exactly the queries rounds are
    // compared by.
    val MedianQueries = 15
    val Pass(results, medians, failed) = timePass(
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) => name -> run(fn) _ },
      MedianQueries)
    // CONTROL BLOCK (r13, VERDICT r12 #8): a fixed set of queries whose
    // CODE no round touches, re-measured best-of-3 at the END of the run
    // (fully warm) and stamped into the artifact — so round-over-round
    // comparison normalizes box drift from the artifact itself instead of
    // reconstructing control numbers from session notes. Keep this list
    // STABLE: its value is that the code behind it never changes. r15:
    // sim_knn_graph left the block — its plan changed this round (the
    // ×100 fix), so its ratio measures the improvement, not the box;
    // q_market_share (untouched since r8) takes the slot. ctlDrift uses
    // the name intersection with the prior artifact, so the swap degrades
    // one round's median to 5 shared controls instead of corrupting it.
    val ControlQueries = Seq("mr_wordcount", "mr_sort", "q_local_supplier",
      "q_join_salted", "q_waiting_suppliers", "q_market_share")
    val controls = ControlQueries.flatMap(n => SparkEntry.queries.get(n).flatMap { fn =>
      val ts = Seq.fill(3)(timed(run(fn)()))
      if (ts.forall(_.isDefined)) Some(n -> ts.flatten.min) else None
    })
    def r3(d: Double): Double = math.round(d * 1000) / 1000.0
    val ctlObj = controls
      .map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    def obj(sel: ((Double, Double)) => Double): String = results
      .map { case (k, v) => s"\"" + k + "\":" + r3(sel(v)) }.mkString("{", ",", "}")
    val medObj = medians.map { case (k, v) => s"\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    val failedArr = failed.map(k => s"\"" + k + "\"").mkString("[", ",", "]")
    val coldTotal = results.map(_._2._1).sum
    val warmTotal = results.map(_._2._2).sum
    val medTotal = medians.map(_._2).sum
    val basePath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_FULL.json")
    // Prior clean artifact, read BEFORE this run overwrites it: a demoted
    // run re-emits it (self-defense). NOT the drift anchor — that is the
    // prior round's committed artifact below.
    val priorTxt: Option[String] =
      try Some(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(basePath)), "UTF-8"))
      catch { case _: Throwable => None }
    // Drift anchor (VERDICT r15 #3): the prior ROUND's committed
    // BENCH_r{N}.json, never the on-disk full artifact a same-round
    // intermediate run may have overwritten.
    val anchor = priorRoundArtifact(
      Option(new java.io.File(basePath).getParent).getOrElse("."))
    val drift = anchor.flatMap { case (_, txt) => ctlDrift(txt, controls) }
    // value_ctl_norm: the warm total divided by the control-drift median —
    // what this run would have read on the anchor round's box. The anchor
    // round id and the shared-control count are stamped alongside so the
    // normalization is auditable from the artifact alone.
    val ctlNormFields = (for ((n, _) <- anchor; (d, k) <- drift) yield
      s""""ctl_anchor_round":$n,"ctl_shared":$k,""" +
        s""""ctl_drift_median":${r3(d)},"value_ctl_norm":${r3(warmTotal / d)},""").getOrElse("")
    // The driver archives only the final ~2000 chars of output; a single
    // line with two 96-entry dicts (~6 KB) truncates mid-dictionary (the
    // r4 artifact lost its first 33 timings and didn't parse). So: the FULL
    // artifact goes out first on stdout AND to a file, and the LAST line is
    // a compact, complete JSON — headline totals plus the heavy-tail
    // medians — guaranteed to fit the archived tail and parse.
    val full = s"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,"load_avg_start":${r3(loadAvg)},"cold_total":${r3(coldTotal)},"queries_cold":${obj(_._1)},"queries":${obj(_._2)},"queries_median":$medObj,"median_heavy_total":${r3(medTotal)},"controls":$ctlObj,"controls_protocol":"best-of-3, end of run",$ctlNormFields"failed":$failedArr,"value":${r3(warmTotal)}}"""
    println(full)
    // Self-defense: a contended run (load > 2.0 at start) must not clobber a
    // clean artifact — rounds 6 and 8 both lost their idle-box numbers to a
    // later busy-box re-run. The contended timings still land on disk (as
    // `<path>.contended`) so nothing is hidden; only the clean slot is kept.
    // Core-count guard first (r17): a different-SPARK_GRAFT_CPUS run never
    // belongs in the main slot, clean or not.
    val cpusSlot = scala.util.Try(cpus.toInt).toOption
      .flatMap(c => cpusDestination(basePath, c, existingCpus(basePath)))
    val fullPath = cpusSlot.getOrElse(artifactDestination(basePath, loadAvg,
      java.nio.file.Files.exists(java.nio.file.Paths.get(basePath)),
      existingLoadAvg(basePath)))
    if (cpusSlot.isDefined)
      System.err.println(s"[bench] $basePath holds a run at a different core " +
        s"count — writing $fullPath instead")
    else if (fullPath != basePath)
      System.err.println(s"[bench] load average ${r3(loadAvg)} > 2.0 and $basePath " +
        s"holds a cleaner run — writing $fullPath instead")
    try java.nio.file.Files.write(java.nio.file.Paths.get(fullPath),
      (full + "\n").getBytes("UTF-8"))
    catch { case _: Throwable => () }
    // The LAST stdout line becomes the round artifact. If this run was
    // demoted, echo the kept clean artifact's numbers (same query set
    // required) so the round artifact and the clean file can't disagree;
    // otherwise the live numbers, with contended affirmatively stamped.
    val liveLine = s"""{"metric":"total","unit":"sec","sf":"$sfDir","cpus":$cpus,"value":${r3(warmTotal)},"cold_total":${r3(coldTotal)},"median_heavy_total":${r3(medTotal)},"load_avg_start":${r3(loadAvg)},"n_queries":${results.size},"full_artifact":"$fullPath","controls":$ctlObj,"queries_median":$medObj,$ctlNormFields"failed":$failedArr,"contended":${loadAvg > ContendedLoad}}"""
    // A cpus-demoted run reports its OWN numbers (the driver's low-core
    // scaling pass reads them from stdout); only a contention demote
    // re-emits the kept clean artifact.
    val lastLine =
      if (fullPath == basePath || cpusSlot.isDefined) liveLine
      else priorTxt
        .flatMap(keptCompactLine(_, sfDir, results.map(_._1).toSet, fullPath, r3(loadAvg)))
        .getOrElse(liveLine)
    println(lastLine)
    spark.stop()
  }
}
