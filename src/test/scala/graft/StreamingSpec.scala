package graft

import graft.sources.Tables
import graft.streaming.EventStreams

class StreamingSpec extends SparkSpec {

  test("streaming windowAgg emits rows consistent with the batch analog") {
    val q = EventStreams.startWindowAggStream(spark, sf, "stream_spec_out")
    try q.processAllAvailable()
    finally q.stop()
    import org.apache.spark.sql.functions._
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long)] =
      df.select(unix_micros(col("win_start").cast("timestamp")), col("event_type"), col("n"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val streamed = canon(spark.table("stream_spec_out"))
    val batch = canon(EventStreams.windowAgg(Tables.load(spark, sf, "events")))
    // append-mode emits only watermark-closed windows: subset of batch, non-empty
    assert(streamed.nonEmpty, "streaming query emitted nothing")
    assert(streamed.subsetOf(batch), "streamed window rows diverge from batch analog")
  }

  test("streaming per-window top-k: ranked sink rows match the batch analog's closed windows") {
    val q = EventStreams.startWindowTopKStream(spark, sf, "stream_topk_out")
    try q.processAllAvailable()
    finally q.stop()
    import org.apache.spark.sql.functions._
    // The rank is the post-sink step a dashboard runs — apply the SAME
    // bounded ranking to the sink table and compare against the batch path.
    val sunk = spark.table("stream_topk_out")
    val rankedSink = graft.plans.TopKPerKey.topKPerKey(sunk, Seq("win_start"),
        Seq(col("n").desc, col("event_type").asc), EventStreams.WindowTopK)
      .withColumn("rank", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("win_start"))
          .orderBy(col("n").desc, col("event_type").asc)))
    def canon(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Long, Int)] =
      df.select(unix_micros(col("win_start").cast("timestamp")), col("event_type"), col("n"), col("rank"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getInt(3))).toSet
    val streamed = canon(rankedSink)
    val batch = canon(EventStreams.windowTopKBatch(Tables.load(spark, sf, "events")))
    assert(streamed.nonEmpty, "streaming query emitted nothing")
    // append mode emits only watermark-closed windows — ranking closed
    // windows gives exactly the batch answer for those windows
    assert(streamed.subsetOf(batch), "streamed top-k diverges from batch analog")
    val p = EventStreams.windowTopKBatch(Tables.load(spark, sf, "events"))
      .queryExecution.executedPlan.toString
    assert(p.contains("TopKPerKey"), s"batch analog must rank through TopKPerKey:\n$p")
  }

  test("flatMapGroupsWithState sessionizer: closed sessions match batch; open ones stay in state") {
    val q = EventStreams.startSessionizeStream(spark, sf, "stream_sessions_out")
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("stream_sessions_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    import org.apache.spark.sql.functions._
    val batchAll = EventStreams.sessionize(spark, Tables.load(spark, sf, "events"))
      .select(col("user_id"), col("session_id"), col("n_events"),
        unix_micros(col("start_ts").cast("timestamp")),
        unix_micros(col("end_ts").cast("timestamp")),
        round(col("total_value") * 100).cast("long"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val nUsers = batchAll.map(_._1).distinct.length
    // EventTimeTimeout semantics: every gap-closed session emits, PLUS each
    // user's final session whose timeout (end + gap, in ms) fell strictly
    // behind the final watermark (max event time - 1 h). Final sessions still
    // inside the horizon stay open in the state store and must NOT emit.
    val lastPerUser = batchAll.groupBy(_._1).values.map(_.maxBy(_._2)).toSet
    val gapMs = EventStreams.SessionGapUs / 1000
    val wmMs = batchAll.map(_._5).max / 1000 - 3600000L
    val timedOut = lastPerUser.filter(s => s._5 / 1000 + gapMs < wmMs)
    val expected = (batchAll.toSet -- lastPerUser) ++ timedOut
    assert(streamed == expected,
      s"streamed=${streamed.size} expected=${expected.size} " +
        s"(closed=${batchAll.length - lastPerUser.size} timedOut=${timedOut.size} " +
        s"users=$nUsers)")
  }

  test("stream-stream interval join matches the batch join") {
    val q = EventStreams.startStreamStreamJoin(spark, sf, "stream_ssj_out")
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("stream_ssj_out").count()
    // same transform the gated stream_interval_join query runs
    val batch = EventStreams.intervalJoinBatch(Tables.load(spark, sf, "events")).count()
    assert(streamed == batch, s"streamed=$streamed batch=$batch")
  }

  test("streaming dropDuplicates emits exactly the distinct key set") {
    val q = EventStreams.startDedupStream(spark, sf, "stream_dedup_out")
    try q.processAllAvailable()
    finally q.stop()
    val streamed = spark.table("stream_dedup_out")
      .select("user_id", "event_type").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // same key set the gated stream_dedup batch analog produces
    val distinctBatch = EventStreams.dedupBatch(Tables.load(spark, sf, "events")).count()
    assert(streamed.length == distinctBatch, "streamed dedup cardinality mismatch")
    assert(streamed.distinct.length == streamed.length, "stream emitted duplicate keys")
  }

  test("streaming LSH dedup: bucket first-claims and novelty match the batch analog") {
    val sp = spark
    import sp.implicits._
    val in = java.nio.file.Files.createTempDirectory("graft_slsh").toString
    val rows = Seq(
      (1L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // exact copy of 1
      (3L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota lambda"), // near-dup of 1
      (4L, "src0", "one two three four five six seven eight nine ten")) // unrelated
    // one file per doc with strictly increasing mtimes: the file source
    // ingests them in doc order, so stream arrival order == doc_id order ==
    // the batch analog's first-claim ordering
    val base = System.currentTimeMillis() - 60000
    rows.zipWithIndex.foreach { case (r, i) =>
      val tmp = s"${in}_tmp_$i"
      Seq(r).toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dst = java.nio.file.Paths.get(in, f"d$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst)
      dst.toFile.setLastModified(base + i * 1000)
    }
    val q = EventStreams.startDedupLshStream(spark, in, "stream_lsh_out", "*.parquet", 1)
    try q.processAllAvailable()
    finally q.stop()
    val batchDocs = rows.toDF("doc_id", "source", "text")
    // 1) the sink's bucket owners ARE the batch first-claim owners
    val streamOwners = spark.table("stream_lsh_out").collect()
      .map(r => (r.getInt(1), r.getLong(2)) -> r.getLong(0)).toMap
    import org.apache.spark.sql.functions.{col, min}
    val batchOwners = graft.operators.Dedup.lshIndexOf(batchDocs)
      .groupBy("band", "h").agg(min(col("doc_id")).as("owner"))
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(streamOwners == batchOwners,
      s"bucket ownership diverged: stream=${streamOwners.size} batch=${batchOwners.size}")
    // 2) the post-sink novelty rollup equals the gated batch analog
    val nBands = graft.operators.Dedup.lshIndexOf(batchDocs)
      .groupBy("doc_id").count().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val owned = streamOwners.values.groupBy(identity).map { case (d, v) => d -> v.size.toLong }
    val streamNovelty = rows.map(_._1).map { d =>
      val o = owned.getOrElse(d, 0L)
      (d, o, if (nBands.getOrElse(d, 0L) == o) 1 else 0)
    }.toSet
    val batch = EventStreams.dedupLshNovelty(batchDocs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(streamNovelty == batch, s"novelty diverged: $streamNovelty vs $batch")
    // 3) semantics pinned: the exact copy owns nothing, the unrelated doc owns all
    val byDoc = batch.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byDoc(2L) == ((0L, 0)), s"exact copy must be fully claimed: ${byDoc(2L)}")
    assert(byDoc(4L)._2 == 1, s"unrelated doc must be novel: ${byDoc(4L)}")
    assert(byDoc(1L)._2 == 1, "first arrival must be novel")
  }

  test("stateful streams run on the RocksDB state store (the at-scale state backend)") {
    // The default HDFS-backed provider holds every key in executor heap —
    // fine for tests, an OOM at 100 TB key cardinalities. RocksDB (ships in
    // Spark's jars) spills state to local disk; flipping the provider must
    // be a pure config change with identical results. The sessionizer is
    // the heaviest state user (flatMapGroupsWithState + event-time
    // timeouts), so it is the path proven here.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = scala.util.Try(Option(spark.conf.get(key))).toOption.flatten
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val q = EventStreams.startSessionizeStream(spark, sf, "stream_rocks_out")
      try q.processAllAvailable()
      finally q.stop()
      val rocks = spark.table("stream_rocks_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
      // identical emission set to a default-provider baseline run into a
      // TEST-LOCAL sink — never another test's, so suite ordering (or
      // future parallelism) cannot couple into this assertion
      spark.conf.unset(key)
      val qd = EventStreams.startSessionizeStream(spark, sf, "stream_rocks_default_out")
      try qd.processAllAvailable()
      finally qd.stop()
      val default = spark.table("stream_rocks_default_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
        .toSet
      assert(rocks.nonEmpty, "RocksDB-backed query emitted nothing")
      assert(rocks == default, "state backend changed the emitted sessions")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("streaming per-window distinct estimate tracks the exact batch counts") {
    val q = EventStreams.startWindowDistinctStream(spark, sf, "stream_adc_out")
    try q.processAllAvailable()
    finally q.stop()
    import org.apache.spark.sql.functions._
    val streamed = spark.table("stream_adc_out").collect()
      .map(r => r.getTimestamp(0).getTime -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "streaming distinct query emitted nothing")
    val exact = EventStreams.windowDistinctSketch(Tables.load(spark, sf, "events"))
      .select(unix_micros(col("win_start").cast("timestamp")) / 1000, col("n_exact"))
      .collect().map(r => r.getDouble(0).toLong -> r.getLong(1)).toMap
    streamed.foreach { case (w, est) =>
      val ex = exact.getOrElse(w, -1L)
      assert(ex > 0, s"stream emitted a window $w batch never saw")
      val rel = math.abs(est - ex).toDouble / ex
      assert(rel < 0.25, s"window $w: HLL estimate $est vs exact $ex (rel $rel)")
    }
  }

  // --- restartable file-drop harness for the checkpointed sessionizer -----

  private val Min = 60L * 1000000 // one minute in micros
  private val Hr = 60 * Min

  /** Drop one parquet file of events (user_id, event_id, ts-nanos, value)
    * into the stream input dir under a deterministic name. */
  private def addEventsFile(in: String, tag: String,
      rows: Seq[(Long, Long, Long, Double)]): Unit = {
    val sp = spark
    import sp.implicits._
    val tmp = s"${in}_tmp_$tag"
    rows.map { case (u, e, us, v) => (u, e, us * 1000, v) }
      .toDF("user_id", "event_id", "ts", "value")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(in, s"$tag.parquet"))
  }

  /** All sessions emitted to the file sink so far, as comparable tuples
    * (user_id, session_id, n_events, start_us, end_us, total_cents). */
  private def emitted(out: String): Set[(Long, Long, Long, Long, Long, Long)] = {
    val schema = org.apache.spark.sql.Encoders.product[EventStreams.SessionRow].schema
    if (!new java.io.File(out).exists()) Set.empty
    else spark.read.schema(schema).parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
      .toSet
  }

  test("sessionizer checkpoint restart: timeouts fire across runs and state drops") {
    val base = java.nio.file.Files.createTempDirectory("graft_restart").toString
    val in = s"$base/in"; val cp = s"$base/cp"; val out = s"$base/out"
    val t0 = 1700000000L * 1000000 // epoch micros
    def run() = EventStreams.runSessionizeStep(spark, in, cp, out)

    // run 1: user 1 has an open session; nothing is behind the watermark yet
    addEventsFile(in, "f1", Seq((1L, 1L, t0, 1.0), (1L, 2L, t0 + 10 * Min, 2.0), (2L, 3L, t0, 1.0)))
    run()
    assert(emitted(out).isEmpty, "no session should close in run 1")

    // run 2: a new file 3 h later advances the watermark to t0+2h — user 1's
    // open session (timeout t0+40min) fires via hasTimedOut and its state
    // drops; user 2's first session closes by gap against the new event
    addEventsFile(in, "f2", Seq((2L, 4L, t0 + 3 * Hr, 1.0)))
    run()
    val afterRun2 = emitted(out)
    assert(afterRun2 == Set(
      (1L, 1L, 2L, t0, t0 + 10 * Min, 300L),
      (2L, 1L, 1L, t0, t0, 100L)),
      s"run 2 should emit user 1 via timeout and user 2 via gap: $afterRun2")

    // run 3: another file 3 h later — if user 1's state had NOT been removed
    // on timeout, it would re-emit here; only user 2's second session closes
    addEventsFile(in, "f3", Seq((2L, 5L, t0 + 6 * Hr, 1.0)))
    run()
    val afterRun3 = emitted(out)
    assert(afterRun3 -- afterRun2 == Set((2L, 2L, 1L, t0 + 3 * Hr, t0 + 3 * Hr, 100L)),
      s"run 3 must emit only user 2's closed session (no duplicate for user 1): $afterRun3")
    assert(afterRun3.count(_._1 == 1L) == 1, "timed-out state must not re-emit")
  }

  test("sessionizer late data: events behind the watermark do not resurrect state") {
    val base = java.nio.file.Files.createTempDirectory("graft_late").toString
    val in = s"$base/in"; val cp = s"$base/cp"; val out = s"$base/out"
    val t0 = 1700000000L * 1000000
    def run() = EventStreams.runSessionizeStep(spark, in, cp, out)

    addEventsFile(in, "f1", Seq((1L, 1L, t0, 1.0), (9L, 2L, t0, 1.0)))
    run()
    // watermark → t0+2h: user 1's session times out, user 9's closes by gap
    addEventsFile(in, "f2", Seq((9L, 3L, t0 + 3 * Hr, 1.0)))
    run()
    val afterRun2 = emitted(out)
    assert(afterRun2 == Set((1L, 1L, 1L, t0, t0, 100L), (9L, 1L, 1L, t0, t0, 100L)),
      s"both initial sessions should have emitted: $afterRun2")

    // run 3: a LATE user-1 event at t0+10min (watermark is t0+2h) plus an
    // in-horizon user-9 event; the late event must be dropped, not open state
    addEventsFile(in, "f3", Seq((1L, 4L, t0 + 10 * Min, 5.0), (9L, 5L, t0 + 3 * Hr + 10 * Min, 1.0)))
    run()
    // run 4: advance the watermark far enough (t0+8h) that ANY state user 1
    // still held would fire — none may exist
    addEventsFile(in, "f4", Seq((9L, 6L, t0 + 9 * Hr, 1.0)))
    run()
    val finalOut = emitted(out)
    assert(finalOut.filter(_._1 == 1L) == Set((1L, 1L, 1L, t0, t0, 100L)),
      s"late event resurrected user-1 state: ${finalOut.filter(_._1 == 1L)}")
    assert(finalOut.filter(_._1 == 9L) == Set(
      (9L, 1L, 1L, t0, t0, 100L),
      (9L, 2L, 2L, t0 + 3 * Hr, t0 + 3 * Hr + 10 * Min, 200L)),
      s"user-9 sessions wrong: ${finalOut.filter(_._1 == 9L)}")
  }

  test("sessionize invariants: sessions partition events, gaps exceed threshold") {
    val events = Tables.load(spark, sf, "events")
    val sessions = EventStreams.sessionize(spark, events).cache()
    val nEvents = events.count()
    val sessionEventTotal = sessions.agg(org.apache.spark.sql.functions.sum("n_events"))
      .collect().head.getLong(0)
    assert(sessionEventTotal == nEvents, "sessions must partition all events")
    import org.apache.spark.sql.functions._
    val bad = sessions.withColumn("prev_end",
        lag(col("end_ts"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy("session_id")))
      .filter(col("prev_end").isNotNull &&
        unix_micros(col("start_ts").cast("timestamp")) -
          unix_micros(col("prev_end").cast("timestamp")) <= EventStreams.SessionGapUs)
      .count()
    assert(bad == 0, "adjacent sessions closer than the gap threshold")
  }

  test("streaming incremental probe vs the persisted LSH index matches the batch analog") {
    val sp = spark
    import sp.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_inclsh").toString
    // corpus (index side) + ingest batch (src0): one cross-corpus near-dup,
    // one novel doc, one too short to shingle (trivially novel)
    val tmp = s"${dir}_tmp"
    Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "srcB", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "srcA", "totally different corpus content nine ten eleven twelve"),
      (10L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (11L, "src0", "one two three four five six seven eight nine ten"),
      (12L, "src0", "short"))
      .toDF("doc_id", "source", "text")
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    // the shipped layout is a single FILE named documents.parquet
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    java.nio.file.Files.move(part.toPath,
      java.nio.file.Paths.get(dir, "documents.parquet"))
    val root = java.nio.file.Files.createTempDirectory("graft-inclsh-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val b0 = graft.operators.AnnModels.lshIndex.builds
      val q = EventStreams.startIncrementalLshStream(spark, dir, "inc_lsh_sink")
      try q.processAllAvailable()
      finally q.stop()
      val sinkPairs = spark.table("inc_lsh_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(sinkPairs == Set((10L, 1L), (10L, 2L)),
        s"stream must match the batch doc against BOTH corpus copies: $sinkPairs")
      // the post-sink rollup equals the gated batch analog (artifact-served)
      val counts = sinkPairs.groupBy(_._1).view.mapValues(_.size.toLong).toMap
      val batch = EventStreams.incrementalVsIndex(spark, dir).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val fromStream = batch.map(_._1).map { d =>
        (d, counts.getOrElse(d, 0L), if (counts.contains(d)) 0 else 1) }
      assert(fromStream == batch, s"rollup diverged: $fromStream vs $batch")
      assert(batch == Set((10L, 2L, 0), (11L, 0L, 1), (12L, 0L, 1)), s"batch semantics: $batch")
      // ONE index build serves both the stream and the batch probe
      assert(graft.operators.AnnModels.lshIndex.builds == b0 + 1,
        s"index rebuilt: ${graft.operators.AnnModels.lshIndex.builds - b0} builds")
    }
  }

  test("ingest admission gate: true stream equals the batch analog, one training") {
    val root = java.nio.file.Files.createTempDirectory("graft-ingate-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = graft.operators.AnnModels.ingestGate.builds
      val batch = EventStreams.ingestGateBatch(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(batch.nonEmpty, "the shipped corpus has src0 ingest docs")
      assert(batch.map(_._3).contains(1) && batch.map(_._3).contains(0),
        s"the corpus bar must actually split the ingest batch: $batch")
      val q = EventStreams.startIngestGateStream(spark, sf, "ingest_gate_sink")
      try q.processAllAvailable()
      finally q.stop()
      val stream = spark.table("ingest_gate_sink").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(stream == batch,
        s"stream admission must equal the batch analog: ${stream.diff(batch)} / ${batch.diff(stream)}")
      assert(graft.operators.AnnModels.ingestGate.builds == t0 + 1,
        "ONE corpus training must serve both the stream and the batch gate")
    }
  }

  test("restartable nightly admission: new drops score, processed files never re-score") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_ingate_step").toString
    val (corpusDir, dropDir, cp, out) =
      (s"$base/corpus", s"$base/drops", s"$base/cp", s"$base/out")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    // corpus: four docs of spread quality define the bar (the top-half
    // threshold); 'the'-laden fluent docs score high, garbage low
    writeSingle(corpusDir, "documents.parquet", Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog and the cat"),
      (2L, "srcA", "the data table holds the value rows and the key columns"),
      (3L, "srcA", "zz @@ ## !! ?? xx yy qq ww ee rr tt"),
      (4L, "srcA", "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa")))
    def admitted(): Map[Long, Int] = {
      if (!new java.io.File(out).exists()) Map.empty
      else spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val root = java.nio.file.Files.createTempDirectory("graft-ingate-step-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = graft.operators.AnnModels.ingestGate.builds
      writeSingle(dropDir, "d0.parquet", Seq(
        (10L, "src0", "the quick brown fox jumps over the lazy dog and the cat"),
        (11L, "src0", "@@ ## $$ %% ^^ && ** (( )) __ ++ ~~")))
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, cp, out)
      val a1 = admitted()
      assert(a1.keySet == Set(10L, 11L), s"run 1 scores the first drop: $a1")
      assert(a1(10L) == 1 && a1(11L) == 0,
        s"fluent doc admitted, garbage rejected by the corpus bar: $a1")
      // run 2: a new drop arrives; the processed file must NOT re-score
      // (exactly-once over files via the checkpoint)
      writeSingle(dropDir, "d1.parquet", Seq(
        (12L, "src0", "the data table holds the value rows and the key columns")))
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, cp, out)
      val a2 = admitted()
      assert(a2.keySet == Set(10L, 11L, 12L), s"run 2 adds only the new drop: $a2")
      assert(spark.read.parquet(out).count() == 3,
        "processed files must never re-score (no duplicate verdicts)")
      assert(a2(12L) == 1, s"second fluent doc admitted: $a2")
      // ONE corpus training served both runs
      assert(graft.operators.AnnModels.ingestGate.builds == t0 + 1,
        "the registry model must train once across nightly runs")
      // the step's verdicts equal the batch analog run over the same drops
      val batchDir = s"$base/all"
      writeSingle(batchDir, "documents.parquet", Seq(
        (1L, "srcA", "the quick brown fox jumps over the lazy dog and the cat"),
        (2L, "srcA", "the data table holds the value rows and the key columns"),
        (3L, "srcA", "zz @@ ## !! ?? xx yy qq ww ee rr tt"),
        (4L, "srcA", "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"),
        (10L, "src0", "the quick brown fox jumps over the lazy dog and the cat"),
        (11L, "src0", "@@ ## $$ %% ^^ && ** (( )) __ ++ ~~"),
        (12L, "src0", "the data table holds the value rows and the key columns")))
      val batch = EventStreams.ingestGateBatch(spark, batchDir).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(batch == a2, s"nightly verdicts must equal the batch analog: $batch vs $a2")
    }
  }

  test("phash probe: nightly step scores each drop once and equals the batch analog") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_phash_step").toString
    val (corpusDir, dropDir, cp, out) =
      (s"$base/corpus", s"$base/drops", s"$base/cp", s"$base/out")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    val payloadA = "aaa bbb ccc shared corpus asset body " * 4
    val payloadB = "ddd eee fff other corpus asset body " * 4
    writeSingle(corpusDir, "documents.parquet", Seq(
      (1L, "srcA", payloadA), (2L, "srcA", payloadB)))
    def verdicts(): Map[Long, (Long, Int)] = {
      if (!new java.io.File(out).exists()) Map.empty
      else spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
    }
    val root = java.nio.file.Files.createTempDirectory("graft-phash-step-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val b0 = graft.operators.AnnModels.phashIndex.builds
      writeSingle(dropDir, "d0.parquet", Seq(
        (10L, "src0", payloadA), (11L, "src0", "novel drop payload one two three")))
      EventStreams.runPhashStep(spark, corpusDir, dropDir, cp, out)
      val v1 = verdicts()
      assert(v1 == Map(10L -> ((1L, 0)), 11L -> ((0L, 1))),
        s"run 1: copy matches, novel flagged: $v1")
      // run 2: a new drop; the processed file must NOT re-score
      writeSingle(dropDir, "d1.parquet", Seq((12L, "src0", payloadB)))
      EventStreams.runPhashStep(spark, corpusDir, dropDir, cp, out)
      val v2 = verdicts()
      assert(v2 == Map(10L -> ((1L, 0)), 11L -> ((0L, 1)), 12L -> ((1L, 0))),
        s"run 2 adds only the new drop: $v2")
      assert(spark.read.parquet(out).count() == 3,
        "processed files must never re-score (no duplicate verdicts)")
      // ONE index build served both nightly runs
      assert(graft.operators.AnnModels.phashIndex.builds == b0 + 1,
        "the persisted index must build once across nightly runs")
      // the step's verdicts equal the batch analog over the same drops
      val batchDir = s"$base/all"
      writeSingle(batchDir, "documents.parquet", Seq(
        (1L, "srcA", payloadA), (2L, "srcA", payloadB),
        (10L, "src0", payloadA),
        (11L, "src0", "novel drop payload one two three"),
        (12L, "src0", payloadB)))
      val batch = graft.operators.Multimodal.phashIncremental(spark, batchDir)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2)))).toMap
      assert(batch == v2, s"nightly verdicts must equal the batch analog: $batch vs $v2")
    }
  }

  test("DSIR admission: nightly step scores each drop once and equals the batch analog") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_dsir_step").toString
    val (corpusDir, dropDir, cp, out) =
      (s"$base/corpus", s"$base/drops", s"$base/cp", s"$base/out")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    val corpusRows = Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog and the cat"),
      (2L, "srcA", "the data table holds the value rows and the key columns"),
      (3L, "srcA", "zz @@ ## !! ?? xx yy qq ww ee rr tt"),
      (4L, "srcA", "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa"))
    writeSingle(corpusDir, "documents.parquet", corpusRows)
    val dropRows0 = Seq(
      (10L, "src0", "the quick brown fox jumps over the lazy dog and the cat"),
      (11L, "src0", "@@ ## $$ %% ^^ && ** (( )) __ ++ ~~"))
    val dropRows1 = Seq(
      (12L, "src0", "the data table holds the value rows and the key columns"))
    def verdicts(): Map[Long, Int] = {
      if (!new java.io.File(out).exists()) Map.empty
      else spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val root = java.nio.file.Files.createTempDirectory("graft-dsir-step-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = graft.operators.AnnModels.dsirGate.builds
      writeSingle(dropDir, "d0.parquet", dropRows0)
      EventStreams.runIngestDsirStep(spark, corpusDir, dropDir, cp, out)
      val a1 = verdicts()
      assert(a1.keySet == Set(10L, 11L), s"run 1 scores the first drop: $a1")
      // run 2: the processed file must NOT re-score (exactly-once over files)
      writeSingle(dropDir, "d1.parquet", dropRows1)
      EventStreams.runIngestDsirStep(spark, corpusDir, dropDir, cp, out)
      val a2 = verdicts()
      assert(a2.keySet == Set(10L, 11L, 12L), s"run 2 adds only the new drop: $a2")
      assert(spark.read.parquet(out).count() == 3,
        "processed files must never re-score (no duplicate verdicts)")
      assert(graft.operators.AnnModels.dsirGate.builds == t0 + 1,
        "the registry importance model must train once across nightly runs")
      // nightly verdicts equal the batch analog over the same drops — the
      // gated, oracle-replayed path (one scoring implementation, no drift)
      val batchDir = s"$base/all"
      writeSingle(batchDir, "documents.parquet", corpusRows ++ dropRows0 ++ dropRows1)
      val batch = EventStreams.ingestDsirBatch(spark, batchDir).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(batch == a2, s"nightly verdicts must equal the batch analog: $batch vs $a2")
      assert(batch.values.toSet == Set(0, 1),
        s"the corpus bar must actually split the drops: $batch")
    }
  }

  test("LR admission: nightly step scores each drop once and equals the batch analog") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_lr_step").toString
    val (corpusDir, dropDir, cp, out) =
      (s"$base/corpus", s"$base/drops", s"$base/cp", s"$base/out")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    // Gopher-separable corpus with both classes in the even-id training
    // half: ids 2/4 fluent (seed class 1), 6/8 junk (seed class 0).
    val fluent = ("the of and that be to have with " * 8).trim
    val corpusRows = Seq(
      (1L, "srcA", fluent + " alpha"), (2L, "srcA", fluent + " bravo"),
      (3L, "srcA", fluent + " carol"), (4L, "srcA", fluent + " delta"),
      (5L, "srcA", "zz @@ ## !! ?? xx"), (6L, "srcA", "qq ww ee rr tt yy"),
      (7L, "srcA", "@@ ## $$ %% ^^ &&"), (8L, "srcA", "!! ?? ++ ~~ __ =="))
    writeSingle(corpusDir, "documents.parquet", corpusRows)
    val dropRows0 = Seq(
      (10L, "src0", fluent + " echo"),
      (11L, "src0", "** (( )) __ ++ ~~"))
    val dropRows1 = Seq((12L, "src0", fluent + " facts"))
    def verdicts(): Map[Long, Int] = {
      if (!new java.io.File(out).exists()) Map.empty
      else spark.read.parquet(out).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
    }
    val root = java.nio.file.Files.createTempDirectory("graft-lr-step-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = graft.operators.AnnModels.lrGate.builds
      writeSingle(dropDir, "d0.parquet", dropRows0)
      EventStreams.runIngestLrStep(spark, corpusDir, dropDir, cp, out)
      val a1 = verdicts()
      assert(a1.keySet == Set(10L, 11L), s"run 1 scores the first drop: $a1")
      writeSingle(dropDir, "d1.parquet", dropRows1)
      EventStreams.runIngestLrStep(spark, corpusDir, dropDir, cp, out)
      val a2 = verdicts()
      assert(a2.keySet == Set(10L, 11L, 12L), s"run 2 adds only the new drop: $a2")
      assert(spark.read.parquet(out).count() == 3,
        "processed files must never re-score (no duplicate verdicts)")
      assert(graft.operators.AnnModels.lrGate.builds == t0 + 1,
        "the registry LR model must train once across nightly runs")
      val batchDir = s"$base/all"
      writeSingle(batchDir, "documents.parquet", corpusRows ++ dropRows0 ++ dropRows1)
      val batch = EventStreams.ingestLrBatch(spark, batchDir).collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(batch == a2, s"nightly verdicts must equal the batch analog: $batch vs $a2")
      assert(batch.values.toSet == Set(0, 1),
        s"the trained classifier must actually split the drops: $batch")
    }
  }

  test("nightly steps no-op on a missing or drop-free directory") {
    val base = java.nio.file.Files.createTempDirectory("graft_nodrops").toString
    val root = java.nio.file.Files.createTempDirectory("graft-nodrops-models").toString
    graft.operators.AnnModels.withRoot(root) {
      // missing dropDir: neither step may throw or start a query
      EventStreams.runIngestGateStep(spark, sf, s"$base/absent", s"$base/cp1", s"$base/out1")
      EventStreams.runIncrementalLshStep(spark, sf, s"$base/absent", s"$base/cp2", s"$base/out2")
      EventStreams.runPackDeltaStep(spark, sf, s"$base/absent", s"$base/cp4", s"$base/out4")
      EventStreams.runIngestDsirStep(spark, sf, s"$base/absent", s"$base/cp5", s"$base/out5")
      EventStreams.runSessionizeStep(spark, s"$base/absent", s"$base/cp6", s"$base/out6")
      EventStreams.runIngestLrStep(spark, sf, s"$base/absent", s"$base/cp7", s"$base/out7")
      EventStreams.runPhashStep(spark, sf, s"$base/absent", s"$base/cp8", s"$base/out8")
      // existing but glob-empty dropDir (only a non-matching file)
      val empty = s"$base/empty"
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(empty))
      java.nio.file.Files.write(java.nio.file.Paths.get(empty, "README.txt"),
        "not a drop".getBytes)
      EventStreams.runIngestGateStep(spark, sf, empty, s"$base/cp3", s"$base/out3")
      EventStreams.runSessionizeStep(spark, empty, s"$base/cp9", s"$base/out9")
      EventStreams.runIngestLrStep(spark, sf, empty, s"$base/cp10", s"$base/out10")
      EventStreams.runPhashStep(spark, sf, empty, s"$base/cp11", s"$base/out11")
      assert(!new java.io.File(s"$base/out1").exists() &&
        !new java.io.File(s"$base/out3").exists(),
        "a no-drop night must leave no sink output")
      assert(Seq(6, 7, 8, 9, 10, 11).forall(i =>
        !new java.io.File(s"$base/out$i").exists() && !new java.io.File(s"$base/cp$i").exists()),
        "a no-drop night must start no query and leave no sink output")
    }
  }

  test("nightly steps discover drops in partitioned/nested layouts") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_nesteddrops").toString
    val (corpusDir, dropDir) = (s"$base/corpus", s"$base/drops")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_${fname.replace('/', '_')}"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val dst = java.nio.file.Paths.get(dir, fname)
      java.nio.file.Files.createDirectories(dst.getParent)
      java.nio.file.Files.move(part.toPath, dst)
    }
    writeSingle(corpusDir, "documents.parquet", Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog and the cat"),
      (2L, "srcA", "zz @@ ## !! ?? xx yy qq ww ee rr tt")))
    // the drop lands under a date partition subdirectory — the file source
    // discovers it, and hasDrops must too (a non-recursive glob would
    // silently no-op the whole night; code-review r11)
    writeSingle(dropDir, "day=1/d0.parquet", Seq(
      (10L, "src0", "the quick brown fox jumps over the lazy dog and the cat")))
    val root = java.nio.file.Files.createTempDirectory("graft-nesteddrops-models").toString
    graft.operators.AnnModels.withRoot(root) {
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, s"$base/cp", s"$base/out")
      assert(new java.io.File(s"$base/out").exists(),
        "a nested drop must be scored, not skipped as an empty night")
      val verdicts = spark.read.parquet(s"$base/out").collect()
        .map(r => (r.getLong(0), r.getInt(2))).toMap
      assert(verdicts == Map(10L -> 1), s"nested drop verdicts: $verdicts")
    }
  }

  test("ingest gate sink is idempotent: a replayed micro-batch never duplicates verdicts") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_igreplay").toString
    val (corpusDir, dropDir, out) = (s"$base/corpus", s"$base/drops", s"$base/out")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    writeSingle(corpusDir, "documents.parquet", Seq(
      (1L, "srcA", "the quick brown fox jumps over the lazy dog and the cat"),
      (2L, "srcA", "zz @@ ## !! ?? xx yy qq ww ee rr tt")))
    writeSingle(dropDir, "d0.parquet", Seq(
      (10L, "src0", "the quick brown fox jumps over the lazy dog and the cat"),
      (11L, "src0", "@@ ## $$ %% ^^ && ** (( )) __ ++ ~~")))
    val root = java.nio.file.Files.createTempDirectory("graft-igreplay-models").toString
    graft.operators.AnnModels.withRoot(root) {
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, s"$base/cp", out)
      val first = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(first.map(_._1) == Set(10L, 11L), s"first pass scores the drop: $first")
      // simulate the at-least-once window: the sink write committed but the
      // checkpoint commit was lost (crash in between). A fresh checkpoint
      // re-delivers the same file as the same batchId; the partitioned
      // overwrite must replace, not append (ADVICE r10).
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, s"$base/cp_replay", out)
      val replayed = spark.read.parquet(out).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(spark.read.parquet(out).count() == 2,
        "a replayed micro-batch must overwrite its partition, not duplicate verdicts")
      assert(replayed == first, s"replay must reproduce the same verdicts: $replayed")
    }
  }

  test("nightly delta pack: chunk ids continue the corpus stream across drops and restarts") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_packstep").toString
    val (corpusDir, dropDir, cp, out) =
      (s"$base/corpus", s"$base/drops", s"$base/cp", s"$base/out")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    def words(n: Int): String = Seq.fill(n)("tok").mkString(" ")
    // corpus: srcA has 800 tokens (chunk 1 of the 512-token grid is
    // part-filled at 288), srcB has 100
    writeSingle(corpusDir, "documents.parquet", Seq(
      (1L, "srcA", words(500)), (2L, "srcA", words(300)), (3L, "srcB", words(100))))
    def manifest(): Map[(String, Long), (Long, Long)] = {
      if (!new java.io.File(out).exists()) Map.empty
      else spark.read.parquet(out).groupBy("source", "chunk_id")
        .agg(org.apache.spark.sql.functions.sum("n_docs").as("n_docs"),
          org.apache.spark.sql.functions.sum("n_tokens").as("n_tokens"))
        .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
    }
    val root = java.nio.file.Files.createTempDirectory("graft-packstep-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = graft.operators.AnnModels.tokenTotals.builds
      // drop 1: srcA doc of 300 tokens — fills chunk 1 (cum 800→1100:
      // starts at position 800, chunk 800 DIV 512 = 1)
      writeSingle(dropDir, "d0.parquet", Seq((10L, "srcA", words(300))))
      EventStreams.runPackDeltaStep(spark, corpusDir, dropDir, cp, out)
      val m1 = manifest()
      assert(m1 == Map(("srcA", 1L) -> (1L, 300L)),
        s"drop 1 must continue srcA at chunk 1: $m1")
      // snapshot the checkpoint BEFORE drop 2 — replaying from it later
      // re-delivers drop 2 as the SAME batchId (the at-least-once crash
      // window: sink write landed, checkpoint commit lost)
      val cpSnap = s"$base/cp_snap"
      val src = java.nio.file.Paths.get(cp)
      java.nio.file.Files.walk(src).forEach { p =>
        val dst = java.nio.file.Paths.get(cpSnap).resolve(src.relativize(p))
        if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(dst)
        else java.nio.file.Files.copy(p, dst)
      }
      // drop 2: srcA 200 tokens (cum 1100→1300: starts inside chunk 2 —
      // 1100 DIV 512 = 2) and a new source srcC (starts at chunk 0)
      writeSingle(dropDir, "d1.parquet", Seq(
        (11L, "srcA", words(200)), (12L, "srcC", words(50))))
      EventStreams.runPackDeltaStep(spark, corpusDir, dropDir, cp, out)
      val m2 = manifest()
      assert(m2 == Map(
        ("srcA", 1L) -> (1L, 300L), ("srcA", 2L) -> (1L, 200L),
        ("srcC", 0L) -> (1L, 50L)),
        s"drop 2 must continue from corpus + drop 1: $m2")
      // ONE corpus token census served every step
      assert(graft.operators.AnnModels.tokenTotals.builds == t0 + 1,
        "the corpus totals must train once across nightly runs")
      // the manifest equals the batch-analog: full pack over corpus+drops,
      // restricted to dropped docs (delta ids follow corpus ids per source)
      val allDir = s"$base/all"
      writeSingle(allDir, "documents.parquet", Seq(
        (1L, "srcA", words(500)), (2L, "srcA", words(300)), (3L, "srcB", words(100)),
        (10L, "srcA", words(300)), (11L, "srcA", words(200)), (12L, "srcC", words(50))))
      val full = graft.operators.Pipeline.pack(spark, allDir)
        .filter(org.apache.spark.sql.functions.col("chunk_id") >= 0)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getLong(3)))
        .toMap
      // restrict the full manifest to chunks the drops touch, with only the
      // drops' contributions (chunk 1 of srcA also holds corpus tokens)
      assert(m2.forall { case (k @ (src, chunk), (_, toks)) =>
        full.get(k).exists(_._2 >= toks) },
        s"every delta chunk must exist in the full pack with >= tokens: $m2 vs $full")
      // crash replay from the snapshot: batch 1 re-delivers with the SAME
      // batchId against a sink that already holds its output; the
      // partition overwrite plus the batch < batchId prior-filter must
      // leave the manifest unchanged (no double-write, no double-count)
      EventStreams.runPackDeltaStep(spark, corpusDir, dropDir, cpSnap, out)
      assert(manifest() == m2, s"replay must not change the manifest: ${manifest()}")
      // the cumulative running-totals sidecar (ADVICE r11: prior offsets
      // are O(|sources|) per night, not O(history)) exists and is bounded
      // to two generations
      val totDir = new java.io.File(out + ".totals")
      def gens() = totDir.listFiles().filter(f =>
        f.isDirectory && f.getName.startsWith("batch=")).map(_.getName).toSet
      assert(totDir.exists() && gens().nonEmpty && gens().size <= 2,
        s"cumulative sidecar must exist with <= 2 generations: ${gens()}")
      // pre-sidecar stores (no .totals dir) fall back to the one-time full
      // manifest aggregation and converge: wipe the sidecar, drop again
      totDir.listFiles().foreach(f => {
        def rm(x: java.io.File): Unit = {
          if (x.isDirectory) x.listFiles().foreach(rm); x.delete(); ()
        }
        rm(f)
      })
      writeSingle(dropDir, "d2.parquet", Seq((13L, "srcA", words(100))))
      EventStreams.runPackDeltaStep(spark, corpusDir, dropDir, cp, out)
      val m3 = manifest()
      assert(m3 == Map(
        ("srcA", 1L) -> (1L, 300L), ("srcA", 2L) -> (2L, 300L),
        ("srcC", 0L) -> (1L, 50L)),
        s"fallback aggregation must continue the stream exactly: $m3")
      assert(gens().nonEmpty, "the sidecar must regenerate after the fallback")
    }
  }

  test("the nightly quintet composes: five restartable steps share one drop feed and one model store") {
    // The production shape end to end (VERDICT r11 #8 lineage): ONE drop
    // directory feeds admission gate + DSIR gate + text-LSH probe + phash
    // probe + delta pack, each with its own checkpoint and sink, all
    // serving the SAME registry artifacts — two nights, no re-scoring,
    // one training per model across the whole cycle.
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_quintet").toString
    val (corpusDir, dropDir) = (s"$base/corpus", s"$base/drops")
    def writeSingle(dir: String, fname: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$fname"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dir, fname))
    }
    val fluent = "the quick brown fox jumps over the lazy dog and the cat"
    val fluent2 = "the data table holds the value rows and the key columns"
    writeSingle(corpusDir, "documents.parquet", Seq(
      (1L, "srcA", fluent), (2L, "srcA", fluent2),
      (3L, "srcB", "zz @@ ## !! ?? xx yy qq ww ee rr tt"),
      (4L, "srcB", "aaa aaa aaa aaa aaa aaa aaa aaa aaa aaa")))
    def runNight(): Unit = {
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, s"$base/cp_gate", s"$base/out_gate")
      EventStreams.runIngestDsirStep(spark, corpusDir, dropDir, s"$base/cp_dsir", s"$base/out_dsir")
      EventStreams.runIncrementalLshStep(spark, corpusDir, dropDir, s"$base/cp_lsh", s"$base/out_lsh")
      EventStreams.runPhashStep(spark, corpusDir, dropDir, s"$base/cp_ph", s"$base/out_ph")
      EventStreams.runPackDeltaStep(spark, corpusDir, dropDir, s"$base/cp_pack", s"$base/out_pack")
    }
    def sinkIds(out: String): Set[Long] =
      if (!new java.io.File(s"$base/$out").exists()) Set.empty
      else spark.read.parquet(s"$base/$out").select("doc_id").collect().map(_.getLong(0)).toSet
    val root = java.nio.file.Files.createTempDirectory("graft-quintet-models").toString
    graft.operators.AnnModels.withRoot(root) {
      val t0 = (graft.operators.AnnModels.ingestGate.builds,
        graft.operators.AnnModels.dsirGate.builds,
        graft.operators.AnnModels.lshIndex.builds,
        graft.operators.AnnModels.phashIndex.builds,
        graft.operators.AnnModels.tokenTotals.builds)
      // night 1: a corpus-duplicate fluent doc + a novel garbage doc
      writeSingle(dropDir, "d0.parquet", Seq(
        (10L, "src0", fluent), (11L, "src0", "@@ ## $$ %% ^^ && ** (( )) __ ++ ~~")))
      runNight()
      assert(sinkIds("out_gate") == Set(10L, 11L), "gate scores night 1")
      assert(sinkIds("out_dsir") == Set(10L, 11L), "dsir scores night 1")
      assert(sinkIds("out_ph") == Set(10L, 11L), "phash probes night 1")
      val lsh1 = spark.read.parquet(s"$base/out_lsh").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh1 == Set((10L, 1L)), s"text probe claims the one corpus match: $lsh1")
      val ph1 = spark.read.parquet(s"$base/out_ph").collect()
        .map(r => r.getLong(0) -> r.getInt(2)).toMap
      assert(ph1 == Map(10L -> 0, 11L -> 1), s"perceptual novelty: $ph1")
      assert(new java.io.File(s"$base/out_pack").exists(), "pack manifest written")
      // snapshot two step checkpoints BEFORE night 2 — replaying from
      // them later simulates a crash BETWEEN nightly steps (sink write
      // landed, checkpoint commit lost) inside the composed cycle
      def snapshot(cp: String, snap: String): Unit = {
        val srcP = java.nio.file.Paths.get(cp)
        java.nio.file.Files.walk(srcP).forEach { pth =>
          val dst = java.nio.file.Paths.get(snap).resolve(srcP.relativize(pth))
          if (java.nio.file.Files.isDirectory(pth)) java.nio.file.Files.createDirectories(dst)
          else java.nio.file.Files.copy(pth, dst)
        }
      }
      snapshot(s"$base/cp_gate", s"$base/snap_gate")
      snapshot(s"$base/cp_ph", s"$base/snap_ph")
      // night 2: one new fluent doc; nothing from night 1 re-scores
      writeSingle(dropDir, "d1.parquet", Seq((12L, "src0", fluent2)))
      runNight()
      assert(sinkIds("out_gate") == Set(10L, 11L, 12L) &&
        spark.read.parquet(s"$base/out_gate").count() == 3,
        "gate adds only the new drop, no re-scoring")
      assert(sinkIds("out_dsir") == Set(10L, 11L, 12L) &&
        spark.read.parquet(s"$base/out_dsir").count() == 3,
        "dsir adds only the new drop, no re-scoring")
      assert(sinkIds("out_ph") == Set(10L, 11L, 12L) &&
        spark.read.parquet(s"$base/out_ph").count() == 3,
        "phash adds only the new drop, no re-scoring")
      val lsh2 = spark.read.parquet(s"$base/out_lsh").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(lsh2 == Set((10L, 1L), (12L, 2L)), s"night 2 claims only the new pair: $lsh2")
      // the pack manifest continues each source's token stream across both
      // nights: total packed tokens = the drops' token counts
      val packed = spark.read.parquet(s"$base/out_pack")
        .agg(org.apache.spark.sql.functions.sum("n_tokens")).collect().head.getLong(0)
      val dropToks = Seq(fluent, "@@ ## $$ %% ^^ && ** (( )) __ ++ ~~", fluent2)
        .map(_.split("\\s+").length).sum
      assert(packed == dropToks, s"pack conserves drop tokens: $packed vs $dropToks")
      // ONE training per model served all five steps across both nights
      val t1 = (graft.operators.AnnModels.ingestGate.builds,
        graft.operators.AnnModels.dsirGate.builds,
        graft.operators.AnnModels.lshIndex.builds,
        graft.operators.AnnModels.phashIndex.builds,
        graft.operators.AnnModels.tokenTotals.builds)
      assert(t1 == (t0._1 + 1, t0._2 + 1, t0._3 + 1, t0._4 + 1, t0._5 + 1),
        s"each registry model must train exactly once: $t0 -> $t1")
      // crash mid-cycle: two steps re-deliver night 2's drop from stale
      // checkpoints (same batchId, sinks already hold the output); the
      // idempotent batch= overwrite must leave the composed state fixed
      val gateBefore = spark.read.parquet(s"$base/out_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val phBefore = spark.read.parquet(s"$base/out_ph").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      EventStreams.runIngestGateStep(spark, corpusDir, dropDir, s"$base/snap_gate", s"$base/out_gate")
      EventStreams.runPhashStep(spark, corpusDir, dropDir, s"$base/snap_ph", s"$base/out_ph")
      val gateAfter = spark.read.parquet(s"$base/out_gate").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val phAfter = spark.read.parquet(s"$base/out_ph").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(gateAfter == gateBefore && phAfter == phBefore,
        "a mid-cycle crash replay must not change the composed nightly state")
      assert(spark.read.parquet(s"$base/out_gate").count() == 3 &&
        spark.read.parquet(s"$base/out_ph").count() == 3,
        "replayed steps must overwrite their partitions, never append")

      // nights 3 + 4: grow the sinks to four batch= partitions, then run
      // the COMPACTION pass (r13) — the composed state must be unchanged
      // while partitions older than the two newest consolidate into one
      writeSingle(dropDir, "d2.parquet", Seq((13L, "src0", "night three text rows and keys")))
      runNight()
      writeSingle(dropDir, "d3.parquet", Seq((14L, "src0", "night four brings more data rows")))
      runNight()
      def gateRows(): Set[(Long, Long, Int)] = spark.read.parquet(s"$base/out_gate")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      def packAgg(): Set[(String, Long, Long)] = spark.read.parquet(s"$base/out_pack")
        .groupBy("source", "chunk_id")
        .agg(org.apache.spark.sql.functions.sum("n_tokens").as("t"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      def parts(out: String): Set[String] =
        new java.io.File(s"$base/$out").listFiles().toSeq
          .map(_.getName).filter(_.startsWith("batch=")).toSet
      val (gBefore, pBefore) = (gateRows(), packAgg())
      assert(parts("out_gate").size == 4, s"four nights, four partitions: ${parts("out_gate")}")
      EventStreams.runCompactionStep(spark, s"$base/out_gate")
      EventStreams.runCompactionStep(spark, s"$base/out_pack")
      assert(gateRows() == gBefore, "compaction must not change the gate verdicts")
      assert(packAgg() == pBefore, "compaction must not change the composed manifest")
      assert(parts("out_gate") == Set("batch=1", "batch=2", "batch=3"),
        s"batches 0+1 must consolidate into batch=1: ${parts("out_gate")}")
      assert(!new java.io.File(s"$base/out_gate.compact").exists(),
        "staging must be cleaned up after the swap")
      // immediate re-run: only one partition is older than the keep window
      // now — nothing to consolidate, state fixed
      EventStreams.runCompactionStep(spark, s"$base/out_gate")
      assert(gateRows() == gBefore && parts("out_gate").size == 3,
        "a re-run with nothing to consolidate must be a no-op")
      // crash-resume: rebuild the crashed-swap state by hand (stage +
      // marker written, one covered partition already deleted) and re-run
      // — the resume path must finish deletes + rename to the same state
      val cov = Seq(1L, 2L)
      spark.read.parquet(s"$base/out_gate/batch=1", s"$base/out_gate/batch=2")
        .write.mode("overwrite").parquet(s"$base/out_gate.compact/batch=2")
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/out_gate.compact/_COMPACT_COVERS"),
        cov.mkString(",").getBytes("UTF-8"))
      def rmr(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rmr); f.delete(); ()
      }
      rmr(new java.io.File(s"$base/out_gate/batch=1")) // the partial crash
      EventStreams.runCompactionStep(spark, s"$base/out_gate")
      assert(gateRows() == gBefore,
        "crash-resumed compaction must restore the exact composed state")
      assert(parts("out_gate") == Set("batch=2", "batch=3"),
        s"resume must finish the swap: ${parts("out_gate")}")
      assert(!new java.io.File(s"$base/out_gate.compact").exists(),
        "resume must clean up staging")
      // crash AFTER the rename: marker still present, staged partition
      // already renamed into place (absent from staging) — the resume
      // must NOT re-run the covered deletes (the consolidated partition
      // is the only copy now); it only cleans staging. This is the
      // window where a delete-first resume silently destroys every
      // compacted row.
      java.nio.file.Files.createDirectories(
        java.nio.file.Paths.get(s"$base/out_gate.compact"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$base/out_gate.compact/_COMPACT_COVERS"),
        cov.mkString(",").getBytes("UTF-8"))
      EventStreams.runCompactionStep(spark, s"$base/out_gate")
      assert(gateRows() == gBefore,
        "a post-rename crash resume must preserve the consolidated rows")
      assert(parts("out_gate") == Set("batch=2", "batch=3"),
        s"post-rename resume must leave the live partitions alone: ${parts("out_gate")}")
      assert(!new java.io.File(s"$base/out_gate.compact").exists(),
        "post-rename resume must clean up staging")
    }
  }

  test("incremental probe checkpoint restart: re-dropped docs never re-emit claimed pairs") {
    val sp = spark
    import sp.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft_increstart").toString
    val (corpusDir, dropDir, cp, out) =
      (s"$base/corpus", s"$base/drops", s"$base/cp", s"$base/out")
    // corpus: two identical docs (both will match any probe of that text)
    val corpusTmp = s"$base/ctmp"
    Seq(
      (1L, "srcA", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "srcB", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (3L, "srcA", "unrelated corpus filler content nine ten eleven twelve"))
      .toDF("doc_id", "source", "text").coalesce(1).write.parquet(corpusTmp)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(corpusDir))
    val cpart = new java.io.File(corpusTmp).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    java.nio.file.Files.move(cpart.toPath,
      java.nio.file.Paths.get(corpusDir, "documents.parquet"))
    def drop(tag: String, rows: Seq[(Long, String, String)]): Unit = {
      val tmp = s"$base/tmp_$tag"
      rows.toDF("doc_id", "source", "text").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dropDir))
      java.nio.file.Files.move(part.toPath, java.nio.file.Paths.get(dropDir, s"$tag.parquet"))
    }
    def pairs(): Set[(Long, Long)] = {
      if (!new java.io.File(out).exists()) Set.empty
      else spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val root = java.nio.file.Files.createTempDirectory("graft-increstart-models").toString
    graft.operators.AnnModels.withRoot(root) {
      // run 1: doc 10 matches both corpus copies, doc 11 is novel
      drop("d0", Seq(
        (10L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (11L, "src0", "one two three four five six seven eight nine ten")))
      EventStreams.runIncrementalLshStep(spark, corpusDir, dropDir, cp, out)
      assert(pairs() == Set((10L, 1L), (10L, 2L)), s"run 1 pairs: ${pairs()}")
      // run 2, NEW query from the checkpoint: doc 10 is RE-dropped (its
      // pairs are already claimed — state must suppress them across the
      // restart) alongside a genuinely new matching doc 12
      drop("d1", Seq(
        (10L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        (12L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
      EventStreams.runIncrementalLshStep(spark, corpusDir, dropDir, cp, out)
      assert(pairs() == Set((10L, 1L), (10L, 2L), (12L, 1L), (12L, 2L)),
        s"run 2 must add ONLY the new doc's pairs: ${pairs()}")
      // run 3: BACKFILL — a genuinely new doc whose id lags the ids already
      // seen by far more than an hour's worth (the doc_id-derived-watermark
      // form silently discarded exactly this row as "late data"); its pairs
      // MUST still emit. An ingest stream has no id-monotonicity guarantee.
      drop("d2", Seq(
        (999999L, "src0", "unmatched text aaa bbb ccc ddd eee fff ggg hhh")))
      EventStreams.runIncrementalLshStep(spark, corpusDir, dropDir, cp, out)
      drop("d3", Seq(
        (4L, "src0", "alpha beta gamma delta epsilon zeta eta theta iota kappa")))
      EventStreams.runIncrementalLshStep(spark, corpusDir, dropDir, cp, out)
      assert(pairs() == Set((10L, 1L), (10L, 2L), (12L, 1L), (12L, 2L),
          (4L, 1L), (4L, 2L)),
        s"run 4 backfilled old-id doc must not be dropped as late: ${pairs()}")
    }
  }
}
