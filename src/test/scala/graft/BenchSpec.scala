package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench artifact's self-defense rule: a contended run never
  * overwrites clean evidence. */
class BenchSpec extends AnyFunSuite {

  test("clean run always writes the primary artifact") {
    assert(Bench.artifactDestination("b.json", 0.9, fileExists = false, None) == "b.json")
    assert(Bench.artifactDestination("b.json", 0.9, fileExists = true, Some(0.5)) == "b.json")
    assert(Bench.artifactDestination("b.json", 0.9, fileExists = true, Some(6.5)) == "b.json")
  }

  test("contended run is demoted unless the existing artifact is affirmatively contended") {
    assert(Bench.artifactDestination("b.json", 6.5, fileExists = true, Some(0.99)) == "b.json.contended")
    // no prior artifact: some numbers beat none
    assert(Bench.artifactDestination("b.json", 6.5, fileExists = false, None) == "b.json")
    // prior artifact stamped contended: overwrite allowed
    assert(Bench.artifactDestination("b.json", 6.5, fileExists = true, Some(5.4)) == "b.json")
    // prior artifact exists but does not parse: fail SAFE, demote — a
    // truncated/hand-edited clean artifact must not lose to a busy box
    assert(Bench.artifactDestination("b.json", 6.5, fileExists = true, None) == "b.json.contended")
    // boundary: load exactly at the threshold counts as clean
    assert(Bench.artifactDestination("b.json", Bench.ContendedLoad, fileExists = true, Some(0.5)) == "b.json")
  }

  test("a different-core-count run writes its own slot, never the main artifact") {
    // existing artifact stamped at 32 cores, run at 8: demote to .c8
    assert(Bench.cpusDestination("b.json", 8, Some(32)).contains("b.json.c8"))
    // same core count: main slot
    assert(Bench.cpusDestination("b.json", 32, Some(32)).isEmpty)
    // legacy artifact without a cpus stamp: guard unarmed (old behavior)
    assert(Bench.cpusDestination("b.json", 8, None).isEmpty)
  }

  test("existingCpus parses the stamped field and tolerates garbage") {
    val p = java.nio.file.Files.createTempFile("bench-cpus", ".json")
    java.nio.file.Files.write(p,
      """{"metric":"total","cpus":32,"value":68.1}""".getBytes("UTF-8"))
    assert(Bench.existingCpus(p.toString).contains(32))
    java.nio.file.Files.write(p, "not json".getBytes("UTF-8"))
    assert(Bench.existingCpus(p.toString).isEmpty)
    assert(Bench.existingCpus("/nonexistent/x.json").isEmpty)
  }

  test("demoted run echoes the kept clean artifact — but only for the same query set") {
    val kept = """{"metric":"total","unit":"sec","sf":"/d","load_avg_start":0.98,""" +
      """"cold_total":147.6,"queries_cold":{"a":1.0,"b":2.0},"queries":{"a":0.5,"b":0.6},""" +
      """"queries_median":{"a":0.5},"median_heavy_total":0.5,"controls":{"mr_wordcount":0.133},""" +
      """"value":68.1}"""
    val line = Bench.keptCompactLine(kept, "/d", queryNames = Set("a", "b"),
      demotedTo = "b.json.contended", liveLoad = 6.25)
    assert(line.isDefined, "same query-name set must reuse the clean artifact")
    val l = line.get
    // the round artifact carries the CLEAN run's numbers and load...
    assert(l.contains(""""value":68.1""") && l.contains(""""load_avg_start":0.98"""))
    assert(l.contains(""""contended":false""") && l.contains("demoted to b.json.contended"))
    assert(l.contains(""""controls":{"mr_wordcount":0.133}"""))
    // ...a kept artifact covering a DIFFERENT query set must not stand in
    assert(Bench.keptCompactLine(kept, "/d", queryNames = Set("a", "b", "c"),
      demotedTo = "x", liveLoad = 6.25).isEmpty)
    // ...nor a SAME-SIZED but renamed set (ADVICE r14: count equality let a
    // round that swapped one gated query for another reuse stale numbers)
    assert(Bench.keptCompactLine(kept, "/d", queryNames = Set("a", "c"),
      demotedTo = "x", liveLoad = 6.25).isEmpty)
    // ...and garbage can't either
    assert(Bench.keptCompactLine("not json", "/d", Set("a", "b"), "x", 6.25).isEmpty)
  }

  test("control drift median normalizes the warm total against the prior artifact") {
    val prior = """{"metric":"total","controls":{"mr_wordcount":0.10,"mr_sort":0.20,""" +
      """"q_join_salted":0.40,"q_local_supplier":0.50},"value":50.0}"""
    // this box ran the three shared controls 1.5x, 1.1x, 2.0x slower →
    // median drift 1.5; an unknown control in the live set is ignored
    val live = Seq("mr_wordcount" -> 0.15, "mr_sort" -> 0.22,
      "q_join_salted" -> 0.80, "new_ctl" -> 9.9)
    assert(Bench.ctlDrift(prior, live).exists { case (d, k) =>
      math.abs(d - 1.5) < 1e-9 && k == 3 })
    // even count → mean of the middle two (1.1, 1.5, 1.6, 2.0 → 1.55)
    val liveFour = live.filterNot(_._1 == "new_ctl") :+ ("q_local_supplier" -> 0.80)
    assert(Bench.ctlDrift(prior, liveFour).exists { case (d, k) =>
      math.abs(d - 1.55) < 1e-9 && k == 4 })
    // under MinSharedControls shared names → no normalization claimed
    // (ADVICE r15: a post-swap round against a degenerate prior must not
    // stamp one noisy query's ratio as a "median")
    val liveTwo = Seq("mr_wordcount" -> 0.15, "mr_sort" -> 0.22)
    assert(Bench.ctlDrift(prior, liveTwo).isEmpty)
    // no shared controls / unparseable prior → no normalization claimed
    assert(Bench.ctlDrift(prior, Seq("other" -> 1.0)).isEmpty)
    assert(Bench.ctlDrift("not json", live).isEmpty)
    // zero-valued prior controls cannot divide
    val zero = """{"controls":{"mr_wordcount":0.0,"mr_sort":0.0,"q_join_salted":0.0}}"""
    assert(Bench.ctlDrift(zero, live).isEmpty)
    // a round-artifact tail carries TWO control blocks (full line, then
    // the compact round line): the LAST one — the kept evidence — anchors
    val tail = """{"controls":{"mr_wordcount":9.9,"mr_sort":9.9,"q_join_salted":9.9},""" +
      """"value":1} {"controls":{"mr_wordcount":0.10,"mr_sort":0.20,""" +
      """"q_join_salted":0.40},"value":2}"""
    assert(Bench.ctlDrift(tail, live).exists { case (d, _) =>
      math.abs(d - 1.5) < 1e-9 })
  }

  test("the drift anchor is the highest-numbered committed round artifact") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec-anchor")
    assert(Bench.priorRoundArtifact(dir.toString).isEmpty)
    java.nio.file.Files.write(dir.resolve("BENCH_r09.json"),
      """{"n":9,"tail":"nine"}""".getBytes("UTF-8"))
    // a real round artifact: bench stdout embedded as an escaped JSON
    // string — the anchor text must come back with usable quote chars
    java.nio.file.Files.write(dir.resolve("BENCH_r15.json"),
      ("""{"n":15,"tail":"fifteen {\"controls\":{\"mr_wordcount\":0.1,""" +
        """\"mr_sort\":0.2,\"q_join_salted\":0.4}}"}""").getBytes("UTF-8"))
    // the full artifact a mid-round run overwrites is NOT an anchor
    java.nio.file.Files.write(dir.resolve("BENCH_FULL.json"),
      """{"value":1}""".getBytes("UTF-8"))
    val got = Bench.priorRoundArtifact(dir.toString)
    assert(got.exists { case (n, txt) => n == 15 && txt.contains("fifteen") })
    // the unescaped anchor feeds ctlDrift end to end
    val live = Seq("mr_wordcount" -> 0.15, "mr_sort" -> 0.22, "q_join_salted" -> 0.80)
    assert(Bench.ctlDrift(got.get._2, live).exists { case (d, k) =>
      math.abs(d - 1.5) < 1e-9 && k == 3 })
    assert(Bench.priorRoundArtifact(dir.resolve("missing").toString).isEmpty)
  }

  test("Scale times each gated query it names exactly once") {
    val names = Scale.opNames
    assert(names.distinct == names,
      s"timed twice: ${names.diff(names.distinct).distinct.mkString(", ")}")
    val ungated = names.filterNot(SparkEntry.queries.contains)
    assert(ungated.isEmpty, s"not gated queries: ${ungated.mkString(", ")}")
    assert(names.size == 50)
  }

  test("existingLoadAvg parses the stamped field and tolerates garbage") {
    val dir = java.nio.file.Files.createTempDirectory("benchspec")
    val p = dir.resolve("a.json")
    java.nio.file.Files.write(p,
      """{"metric":"total","load_avg_start":0.987,"value":1.0}""".getBytes("UTF-8"))
    assert(Bench.existingLoadAvg(p.toString).contains(0.987))
    assert(Bench.existingLoadAvg(dir.resolve("missing.json").toString).isEmpty)
    val q = dir.resolve("b.json")
    java.nio.file.Files.write(q, "not json at all".getBytes("UTF-8"))
    assert(Bench.existingLoadAvg(q.toString).isEmpty)
  }
}
