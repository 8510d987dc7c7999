package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import graft.functions._
import graft.operators.{AnnModels, Dedup, Multimodal, Pipeline, TextOps}
import graft.sources.Tables

/** Section D of SURVEY §2: Structured Streaming over the `events` table.
  *
  * The reference runs continuous ingestion as chained MapReduce jobs; the
  * Spark-first form is `readStream` → the SAME transform used in batch →
  * `writeStream`. Each transform below takes a plain DataFrame/Dataset, so
  * batch queries (oracle-checked) and streaming queries (spec-checked with a
  * memory sink) share one implementation — no drift between the paths.
  *
  * Every streaming decision lives in one helper: how drops are found and
  * read ([[fileStream]], [[eventStream]]), how a one-shot run ends
  * ([[availableNow]], [[toMemory]]), and how a nightly batch lands exactly
  * once ([[runNightly]], [[writeBatchPartition]]). Each `start*Stream` /
  * `run*Step` is its own transform plus one of those calls.
  *
  * Scale: windowed aggregation state is bounded by the watermark; the typed
  * sessionizer keeps one open session per key, the shape
  * (flat)MapGroupsWithState maintains in the state store.
  */
object EventStreams {

  val SessionGapUs: Long = 30L * 60 * 1000000 // 30 minutes

  // --- stream plumbing -------------------------------------------------------

  /** File-stream source over the parquet files under `dir` (recursively)
    * whose file NAME matches `glob` — the files [[hasDrops]] counts — with
    * the schema read from those files. `maxFilesPerTrigger` > 0 caps the
    * files each micro-batch takes. */
  private def fileStream(s: SparkSession, dir: String, glob: String,
      maxFilesPerTrigger: Int = 0): DataFrame = {
    val schema = s.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = s.readStream.schema(schema).option("pathGlobFilter", glob)
    (if (maxFilesPerTrigger > 0) reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
     else reader).parquet(dir)
  }

  /** Event time of a raw events relation: `ts` as a watermarkable
    * TIMESTAMP under a 1-hour watermark. A LONG column is the nanosAsLong
    * read of TIMESTAMP(NANOS) parquet (truncate to micros, the batch
    * loader's rule — Tables.load); anything else is a timestamp already
    * (TIMESTAMP(MICROS) parquet) and only needs the cast to the
    * with-local-tz type watermarks require (session tz is UTC, so
    * wall-clock matches the batch path's TIMESTAMP_NTZ). A column aliased
    * from `ts` keeps the watermark. */
  private def withEventTime(raw: DataFrame): DataFrame = {
    val ts = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType => expr("timestamp_micros(ts div 1000)")
      case _ => col("ts").cast("timestamp")
    }
    raw.withColumn("ts", ts).withWatermark("ts", "1 hour")
  }

  /** Watermarked events source: the events files under `dir`. */
  private def eventStream(s: SparkSession, dir: String,
      glob: String = "events.parquet"): DataFrame =
    withEventTime(fileStream(s, dir, glob))

  /** Start one AvailableNow run of `w` — every file present at start, then
    * stop — resuming from `checkpoint` when one is given. */
  private def availableNow(w: DataStreamWriter[_], checkpoint: Option[String]): StreamingQuery = {
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.trigger(Trigger.AvailableNow()).start()
  }

  /** One-shot spec path: `df` into the in-memory table `name`; the caller
    * awaits the returned query, then reads the table. */
  private def toMemory(df: DataFrame, name: String, mode: String = "append",
      checkpoint: Option[String] = None): StreamingQuery =
    availableNow(df.writeStream.outputMode(mode).format("memory").queryName(name), checkpoint)

  /** The nightly-step contract, stated once for every `run*Step`:
    *  - drops are the files under `dropDir` whose name matches `glob`,
    *    found recursively (a `day=…/` partitioned layout counts);
    *  - a night with no drops does nothing: no schema probe, no query, no
    *    sink output, no registry read (`sink` is only built past the
    *    guard, so the artifacts it loads are too);
    *  - otherwise `sink` over the drop stream runs ONE AvailableNow pass
    *    that resumes from `checkpoint` — every piece of stream state (which
    *    files were taken, operator state) lives there, not in the JVM — and
    *    the call returns when the pass ends. */
  private def runNightly(s: SparkSession, dropDir: String, glob: String,
      checkpoint: String)(sink: DataFrame => DataStreamWriter[_]): Unit =
    if (hasDrops(s, dropDir, glob))
      availableNow(sink(fileStream(s, dropDir, glob)), Some(checkpoint)).awaitTermination()

  /** Land one micro-batch's `rows` in the `batch=<batchId>` partition of
    * `outPath` under dynamic partition overwrite. foreachBatch is
    * at-least-once — a crash between the sink write and the checkpoint
    * commit replays the micro-batch on restart — so a replayed batch
    * REPLACES its own partition instead of appending a second copy,
    * making the sink exactly-once end to end (an appended copy would double
    * every row of a re-run night). The partition
    * column doubles as provenance: which nightly trigger wrote a row. */
  private def writeBatchPartition(rows: DataFrame, batchId: Long, outPath: String): Unit =
    rows.withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch")
      .parquet(outPath)

  /** The verdict steps (gate, LR, DSIR, phash): each micro-batch's src0
    * documents go through `scorer` — built once, past the empty-night
    * guard — into their own `batch=<id>` partition. Stateless by
    * construction: scoring runs per micro-batch on the SHARED batch path,
    * so the only durable state is the file-source checkpoint (which files
    * were processed) — a checkpoint reused nightly for years stays
    * file-list-sized. A re-dropped file is never re-scored; a re-dropped
    * document in a NEW file scores again (each drop is its own decision). */
  private def runVerdictStep(s: SparkSession, dropDir: String, glob: String,
      checkpoint: String, outPath: String)(scorer: => DataFrame => DataFrame): Unit =
    runNightly(s, dropDir, glob, checkpoint) { drops =>
      val score = scorer
      drops.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        writeBatchPartition(score(src0(batch)), batchId, outPath)
      }
    }

  /** Ids of the `batch=<id>` directories directly under `dir`, ascending;
    * empty when `dir` is absent. */
  private def batchIds(fs: FileSystem, dir: Path): Seq[Long] =
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.collect {
      case st if st.isDirectory && st.getPath.getName.startsWith("batch=") =>
        st.getPath.getName.stripPrefix("batch=").toLong
    }.sorted

  /** True iff `dropDir` exists and holds at least one file matching
    * `glob` — the nightly steps' pre-flight (a night with no drops must
    * no-op, not throw from the schema probe). RECURSIVE, and
    * matched on the file NAME, mirroring exactly what the streaming file
    * source's `pathGlobFilter` would discover — a partitioned drop
    * layout (files under date=.../ subdirectories) counts as drops, not
    * as an empty night. One listing, no data scan. */
  private def hasDrops(s: SparkSession, dropDir: String, glob: String): Boolean = {
    val p = new Path(dropDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.exists(p) && {
      val matcher = java.nio.file.FileSystems.getDefault
        .getPathMatcher(s"glob:$glob")
      val it = fs.listFiles(p, true)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = matcher.matches(java.nio.file.Paths.get(name))
      }
      found
    }
  }

  /** The ingest convention: source 'src0' is the arriving batch, every
    * other source is the corpus. */
  private def src0(docs: DataFrame): DataFrame = docs.filter(col("source") === "src0")

  /** The admission rule, stated once: admit iff `score` meets the corpus
    * bar `thr` (a one-row relation); a NULL bar — empty corpus — admits
    * everything. */
  private def admit(scores: DataFrame, score: String, thr: DataFrame): DataFrame =
    scores.crossJoin(broadcast(thr))
      .select(col("doc_id"), col(score),
        when(col("thr").isNull || col(score) >= col("thr"), 1).otherwise(0).as("admit"))

  // --- events ----------------------------------------------------------------

  case class Ev(user_id: Long, event_id: Long, us: Long, cents: Long)
  /** Stream-side event carrying the watermark column: EventTimeTimeout
    * requires the watermarked attribute to survive into the
    * flatMapGroupsWithState input, so the typed row keeps `ets`. */
  case class EvW(user_id: Long, event_id: Long, us: Long, cents: Long,
      ets: java.sql.Timestamp)
  case class SessionRow(user_id: Long, session_id: Long, n_events: Long,
      start_us: Long, end_us: Long, total_cents: Long)

  /** Tumbling 15-minute window aggregation (works on batch or stream). */
  def windowAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec(col("value"), 10, 2)).as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("total_value"))

  /** Hopping (sliding) 30-minute windows every 15 minutes: each event lands
    * in exactly two windows. Works on batch or stream. */
  def hoppingAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "30 minutes", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(dec(col("value"), 10, 2)).as("total_value"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"), col("total_value"))

  /** Imperative per-key session builder — the exact body a
    * flatMapGroupsWithState handler runs per key; exposed over batch via
    * groupByKey+flatMapGroups so the oracle can verify the state logic. */
  def buildSessions(userId: Long, evs: Iterator[Ev], gapUs: Long): Iterator[SessionRow] = {
    val sorted = evs.toVector.sortBy(e => (e.us, e.event_id))
    if (sorted.isEmpty) Iterator.empty
    else {
      val out = Vector.newBuilder[SessionRow]
      var sid = 1L
      var n = 0L; var start = 0L; var end = 0L; var cents = 0L
      sorted.foreach { e =>
        if (n == 0) { start = e.us; end = e.us; n = 1; cents = e.cents }
        else if (e.us - end > gapUs) {
          out += SessionRow(userId, sid, n, start, end, cents)
          sid += 1; start = e.us; end = e.us; n = 1; cents = e.cents
        } else { end = e.us; n += 1; cents += e.cents }
      }
      out += SessionRow(userId, sid, n, start, end, cents)
      out.result().iterator
    }
  }

  /** Typed sessionization over a batch Dataset. Money is held as exact long
    * cents inside the state loop, surfaced as double for oracle parity. */
  def sessionize(s: SparkSession, events: DataFrame, gapUs: Long = SessionGapUs): DataFrame = {
    import s.implicits._
    val typed = events.select(
      col("user_id"),
      col("event_id"),
      unix_micros(col("ts").cast("timestamp")).as("us"),
      unscaled(col("value"), 10, 2).as("cents")).as[Ev]
    typed
      .groupByKey(_.user_id)
      .flatMapGroups((k: Long, it: Iterator[Ev]) => buildSessions(k, it, gapUs))
      .toDF()
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        expr("cast(timestamp_micros(start_us) as timestamp_ntz)").as("start_ts"),
        expr("cast(timestamp_micros(end_us) as timestamp_ntz)").as("end_ts"),
        (col("total_cents").cast("double") / 100.0).as("total_value"))
  }

  /** Incremental session state for one user: the currently-open session.
    * Closed sessions are emitted; the open one lives in the state store —
    * bounded state per key, the way a production sessionizer holds it. */
  def sessionStep(user: Long, it: Iterator[Ev], prior: Option[SessionRow],
      gapUs: Long): (Seq[SessionRow], Option[SessionRow]) = {
    val evs = it.toVector.sortBy(e => (e.us, e.event_id))
    var open = prior
    val closed = Vector.newBuilder[SessionRow]
    evs.foreach { e =>
      open = open match {
        case None => Some(SessionRow(user, 1L, 1L, e.us, e.us, e.cents))
        case Some(o) if e.us - o.end_us > gapUs =>
          closed += o
          Some(SessionRow(user, o.session_id + 1, 1L, e.us, e.us, e.cents))
        case Some(o) =>
          Some(o.copy(n_events = o.n_events + 1, end_us = e.us,
            total_cents = o.total_cents + e.cents))
      }
    }
    (closed.result(), open)
  }

  /** Streaming sessionization via flatMapGroupsWithState: emits sessions as
    * they close. Each user's open session lives in the state store under an
    * EVENT-TIME TIMEOUT of one session gap past its last event — when the
    * watermark passes end + gap with no new events, the session is complete
    * by definition, so it is emitted and its state REMOVED. Without the
    * timeout (round-3 shape: NoTimeout), every user who ever goes quiet
    * would leave an open session in the state store forever — on an
    * unbounded stream the store grows with lifetime-distinct users until
    * the job dies. With it, state size tracks ACTIVE users inside the
    * watermark horizon, and the "closed sessions" output is complete
    * rather than truncated at each user's final session.
    *
    * `glob`/`checkpoint` exist for the restart spec: a second AvailableNow
    * run over the same checkpoint picks up new files, advances the
    * watermark, and fires the pending timeouts (StreamingSpec
    * "sessionizer checkpoint restart"). */
  def sessionizeStreamDS(s: SparkSession, dir: String,
      glob: String = "events.parquet",
      gapUs: Long = SessionGapUs): Dataset[SessionRow] =
    sessionsOf(s, eventStream(s, dir, glob), gapUs)

  /** The sessionizer's stream transform over watermarked events. */
  private def sessionsOf(s: SparkSession, events: DataFrame,
      gapUs: Long): Dataset[SessionRow] = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode, GroupState}
    val gapMs = gapUs / 1000
    events
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("us"),
        unscaled(col("value"), 10, 2).as("cents"), col("ts").as("ets"))
      .as[EvW]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[EvW], state: GroupState[SessionRow]) =>
          if (state.hasTimedOut) {
            // The gap elapsed in event time with no new events: the open
            // session is complete — emit it and drop the state entry.
            val open = state.get
            state.remove()
            Iterator.single(open)
          } else {
            val (closed, open) = sessionStep(user,
              it.map(e => Ev(e.user_id, e.event_id, e.us, e.cents)),
              if (state.exists) Some(state.get) else None, gapUs)
            open.foreach { o =>
              state.update(o)
              // A timer at-or-before the current watermark is rejected by
              // Spark; an already-expired open session fires on the next
              // watermark advance instead.
              state.setTimeoutTimestamp(
                math.max(o.end_us / 1000 + gapMs, state.getCurrentWatermarkMs + 1))
            }
            closed.iterator
          }
      }
  }

  /** Streaming sessionizer → memory sink (one-shot spec path). */
  def startSessionizeStream(s: SparkSession, dir: String, name: String,
      gapUs: Long = SessionGapUs, glob: String = "events.parquet",
      checkpoint: Option[String] = None): StreamingQuery =
    toMemory(sessionizeStreamDS(s, dir, glob, gapUs).toDF(), name, checkpoint = checkpoint)

  /** Nightly sessionizer: newly closed / timed-out sessions of the drops
    * under `dir` append to the `outPath` parquet sink. This is the
    * production shape for an event pipeline fed by periodic file drops:
    * each scheduled run picks up the new files, the watermark advances,
    * pending event-time timeouts fire, and state for completed sessions is
    * dropped — across process restarts, because the open sessions live in
    * the checkpoint. */
  def runSessionizeStep(s: SparkSession, dir: String, checkpoint: String,
      outPath: String, glob: String = "*.parquet",
      gapUs: Long = SessionGapUs): Unit =
    runNightly(s, dir, glob, checkpoint)(drops =>
      sessionsOf(s, withEventTime(drops), gapUs).writeStream
        .format("parquet").option("path", outPath))

  /** Purchases matched to same-user views in the preceding hour. Plans as
    * an equi-join on user with the time range as a residual; on streams,
    * the watermarks on both sides bound the join state the way a
    * production stream-stream join must. */
  private def intervalJoin(purchaseEvents: DataFrame, viewEvents: DataFrame): DataFrame = {
    val views = viewEvents.filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("ts").as("view_ts"), col("event_id").as("view_id"))
    val purchases = purchaseEvents.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("purchase_ts"), col("event_id").as("purchase_id"))
    purchases.join(views,
        col("v_user") === col("user_id") &&
          col("view_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
          col("view_ts") <= col("purchase_ts"))
      .select(col("purchase_id"), col("view_id"), col("user_id"))
  }

  /** Stream-stream interval join over two reads of the events stream. */
  def startStreamStreamJoin(s: SparkSession, dir: String, name: String): StreamingQuery =
    toMemory(intervalJoin(eventStream(s, dir), eventStream(s, dir)), name)

  /** Batch analog of the stream-stream interval join — one shuffle on
    * user_id, state bounded by user cardinality per window. */
  def intervalJoinBatch(events: DataFrame): DataFrame = intervalJoin(events, events)

  /** Streaming exact dedup: watermarked dropDuplicates — state holds one
    * entry per key inside the watermark horizon (bounded, unlike an
    * unbounded batch distinct). */
  def startDedupStream(s: SparkSession, dir: String, name: String): StreamingQuery =
    toMemory(eventStream(s, dir).select(col("user_id"), col("event_type"), col("ts"))
      .dropDuplicates("user_id", "event_type"), name)

  /** Streaming entry: watermarked events stream, shared transform, memory
    * sink. Returns the started query; caller does processAllAvailable()
    * then reads table `name`. */
  def startWindowAggStream(s: SparkSession, dir: String, name: String): StreamingQuery =
    toMemory(windowAgg(eventStream(s, dir)), name)

  /** Batch analog of the streaming exact dedup: one row per
    * (user_id, event_type) carrying the earliest timestamp — the
    * deterministic statement of "first arrival wins". */
  def dedupBatch(events: DataFrame): DataFrame =
    events.groupBy("user_id", "event_type").agg(min(col("ts")).as("first_ts"))

  /** Per-window approximate distinct users — the KMV sketch
    * (graft.operators.Extras.sketchDistinct) applied per tumbling 1-hour
    * window: the shape a 100 TB event pipeline uses for cardinality
    * dashboards where exact countDistinct cannot hold per-window state.
    * md5-portable, so the whole estimate is oracle-replayable; a window
    * holding fewer than k users falls back to its exact count (a KMV
    * sketch under capacity IS exact). Same two-phase salted ranking as the
    * corpus sketch (Extras.kmvKth): no task ever sorts a whole window's
    * users. The exact count rides along as the accuracy audit. */
  def windowDistinctSketch(events: DataFrame): DataFrame = {
    import graft.operators.Extras.{kmvEstimate, kmvKth}
    // ONE events scan + distinct for BOTH consumers (the corpus KMV's fix
    // applied to the windowed analog): kth and the
    // exact audit otherwise each re-scan and re-distinct the events.
    val du = events
      .select(window(col("ts"), "1 hour").as("w"), col("user_id")).distinct()
      .localCheckpoint()
    val kth = kmvKth(du.select(col("w"), col("user_id"), hash52(col("user_id")).as("h")),
      "w", "user_id")
    val exact = du.groupBy(col("w")).agg(count(lit(1)).as("n_exact"))
    exact.join(kth, Seq("w"), "left")
      .select(col("w.start").as("win_start"), col("n_exact"),
        coalesce(kmvEstimate(col("h_k")), col("n_exact").cast("double")).as("est_distinct"))
  }

  /** Heavy hitters per window: top event types per tumbling hour. */
  val WindowTopK = 3

  /** Hourly counts per event_type (works on batch or stream). */
  private def hourlyTypeCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("win_start"), col("event_type"), col("n"))

  /** Per-window top-k (batch analog, gated): hourly counts per event_type
    * ranked through the custom TopKPerKey operator — bounded heaps per
    * window, the shuffle carries at most k rows per window per partition
    * (never a window-wide sort) — then row_number over the <= k survivors
    * supplies the rank column, exactly the sim_* ranking template applied
    * to the streaming surface. */
  def windowTopKBatch(events: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.plans.TopKPerKey.topKPerKey(hourlyTypeCounts(events), Seq("win_start"),
        Seq(col("n").desc, col("event_type").asc), WindowTopK)
      .withColumn("rank", row_number().over(
        Window.partitionBy(col("win_start")).orderBy(col("n").desc, col("event_type").asc)))
  }

  /** True-stream path for the per-window top-k: the watermarked hourly
    * counts run IN the stream (append mode — only watermark-finalized
    * windows emit); the bounded rank applies over the sink table, the same
    * post-sink step a dashboard reader runs (StreamingSpec compares it to
    * the batch analog). */
  def startWindowTopKStream(s: SparkSession, dir: String, name: String): StreamingQuery =
    toMemory(hourlyTypeCounts(eventStream(s, dir)), name)

  /** Streaming variant: Spark's native HLL++ approx_count_distinct per
    * watermarked window — the engine-native estimator for the true stream
    * path (the KMV batch analog above is the oracle-replayable one). */
  def startWindowDistinctStream(s: SparkSession, dir: String, name: String): StreamingQuery =
    toMemory(eventStream(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("w.start").as("win_start"), col("approx_users")), name)

  // --- documents: dedup probes -----------------------------------------------

  /** First-claim banded-LSH NEAR-dup novelty over an ordered document
    * stream (arrival order = doc_id — the ingest contract the synthetic
    * event time below encodes): the earliest doc to touch a (band, minhash)
    * bucket OWNS it, and a document is novel iff it owns EVERY one of its
    * bands — i.e. no band collides with any earlier document (the same
    * any-band-match candidate rule as dedup_incremental_lsh, restated for
    * continuous arrival). This batch core is the oracle-gated analog AND
    * the rollup the true-stream spec applies over its sink.
    *
    * Scale shape: bucket ownership is ONE hash aggregate (map-side partial
    * min — a dense bucket never concentrates rows on a task, so no salt is
    * needed: this formulation never expands pairs at all), one join of the
    * signature relation against the <= |buckets| owner rows, one per-doc
    * rollup. Docs too short to shingle have no bands and are trivially
    * novel (left join keeps them). */
  def dedupLshNovelty(docs: DataFrame): DataFrame = {
    val sig = Dedup.lshIndexOf(docs)
    val owners = sig.groupBy("band", "h").agg(min(col("doc_id")).as("owner"))
    val perDoc = sig.join(owners, Seq("band", "h"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bands"),
        sum(when(col("owner") === col("doc_id"), 1L).otherwise(0L)).as("n_owned"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_owned"), lit(0L)).as("n_owned"),
        when(coalesce(col("n_bands"), lit(0L)) === coalesce(col("n_owned"), lit(0L)), 1)
          .otherwise(0).as("is_novel"))
  }

  /** True-stream near-dup dedup: the document stream explodes to banded
    * MinHash signatures and each (band, h) bucket's FIRST claimant wins via
    * `dropDuplicatesWithinWatermark` — the watermark bounds the seen-bucket
    * state exactly as it bounds `startDedupStream`'s exact-key state, so an
    * unbounded corpus stream cannot grow the store without limit (buckets
    * older than the horizon age out; a near-dup arriving later than the
    * horizon re-claims, the explicit trade watermarked dedup makes).
    * Event time derives from doc_id (one doc per second — the ingest-order
    * contract `dedupLshNovelty` states); the sink holds bucket OWNERSHIPS
    * (doc_id, band, h) and the per-doc novelty rollup applies over the sink
    * table — the stream_topk post-sink pattern, spec-compared to the batch
    * analog (StreamingSpec). */
  def startDedupLshStream(s: SparkSession, dir: String, name: String,
      glob: String = "documents.parquet", maxFilesPerTrigger: Int = 0): StreamingQuery =
    toMemory(fileStream(s, dir, glob, maxFilesPerTrigger)
      .withColumn("ets", expr("timestamp_micros(doc_id * 1000000)"))
      .withWatermark("ets", "1 hour")
      .select(col("doc_id"), col("ets"),
        posexplode(ShingleExpressions.minhashSig(col("text"),
          Dedup.MinhashPerms, Dedup.ShingleN)).as(Seq("band", "h")))
      .dropDuplicatesWithinWatermark("band", "h")
      .select(col("doc_id"), col("band"), col("h")), name)

  /** INCREMENTAL ingest probe vs the PERSISTED corpus index — the batch
    * analog of the nightly/streaming reality: the corpus's LSH signatures
    * were computed once at index-build time and persist as a parquet
    * artifact (AnnModels.lshIndex); each ingest batch (source 'src0')
    * computes only its OWN signatures and joins the artifact. Identical
    * result to `dedup_incremental_lsh` (the artifact replays `lshIndexOf`
    * exactly — deterministic signatures, parquet-exact longs), but the
    * deployment cost model is now real: |batch| signature passes + one
    * artifact scan, never a corpus recompute. */
  def incrementalVsIndex(s: SparkSession, dir: String): DataFrame =
    Dedup.incrementalLshMatch(
      Tables.load(s, dir, "documents").filter(col("source") === "src0"),
      AnnModels.lshIndex(s, dir))

  /** True-stream form of the incremental probe: the ingest stream explodes
    * to banded signatures and joins the persisted index as a STREAM-STATIC
    * join (stateless — the index never enters the state store), then
    * `dropDuplicates` reduces band-level collisions to distinct
    * (doc_id, corpus_id) match pairs. The pair-dedup state deliberately
    * NEVER expires: it is the claims registry itself — one state row per
    * emitted match pair (exactly the sink's size, NOT corpus-sized), and
    * that is what makes "a claimed pair is never re-emitted" exact across
    * restarts with no event-time assumption. The earlier form derived
    * event time from doc_id under a 1-hour watermark, which silently
    * discarded any backfilled document whose id lagged the checkpointed
    * maximum — an ingest stream has no doc_id-monotonicity guarantee, so
    * no watermark keyed on it can be safe. The sink holds match pairs; the
    * per-doc n_matches/novelty rollup applies over the sink table (the
    * stream_topk post-sink pattern), spec-compared to [[incrementalVsIndex]].
    * The static index side applies the SAME salted dense-bucket cap as the
    * batch analog (Dedup.saltedIndexSide / saltedProbeSide), so a
    * degenerate bucket is bounded identically on both paths and the
    * stream==batch parity holds on ANY corpus, not just sparse ones. */
  private def incrementalLshTransform(stream: DataFrame,
      index: DataFrame): DataFrame = {
    val (idxBounded, dense) = Dedup.saltedIndexSide(index)
    val sigs = src0(stream)
      .select(col("doc_id"),
        posexplode(ShingleExpressions.minhashSig(col("text"),
          Dedup.MinhashPerms, Dedup.ShingleN))
          .as(Seq("band", "h")))
    Dedup.saltedProbeSide(sigs, dense)
      .join(idxBounded, Seq("band", "h", "salt"))
      .filter(col("doc_id") =!= col("corpus_id"))
      .dropDuplicates("doc_id", "corpus_id")
      .select(col("doc_id"), col("corpus_id"))
  }

  def startIncrementalLshStream(s: SparkSession, dir: String, name: String,
      maxFilesPerTrigger: Int = 0): StreamingQuery = {
    val index = AnnModels.lshIndex(s, dir)
    toMemory(incrementalLshTransform(
      fileStream(s, dir, "documents.parquet", maxFilesPerTrigger), index), name)
  }

  /** Nightly incremental ingest probe: drops are probed against
    * `indexDir`'s persisted LSH index, and only NEW (doc_id, corpus_id)
    * match pairs append to the parquet sink. A pair already claimed by an
    * earlier run is never re-emitted even if its document is re-dropped —
    * the pair-dedup state lives in the checkpoint (spec drives two drops
    * across two steps). */
  def runIncrementalLshStep(s: SparkSession, indexDir: String, dropDir: String,
      checkpoint: String, outPath: String, glob: String = "*.parquet"): Unit =
    runNightly(s, dropDir, glob, checkpoint)(drops =>
      incrementalLshTransform(drops, AnnModels.lshIndex(s, indexDir)).writeStream
        .format("parquet").option("path", outPath))

  /** INCREMENTAL perceptual ingest probe vs the PERSISTED phash index —
    * [[incrementalVsIndex]] on the multimodal column (the missing half of
    * the nightly ingest story): the corpus's pigeonhole
    * index rows were decoded + hashed once at index-build time and persist
    * as a parquet artifact (AnnModels.phashIndex); each ingest batch
    * hashes only its OWN assets and equijoins the artifact under the
    * shared salted-bucket policy with XOR-popcount verification.
    * Identical result to `mm_phash_incremental` (the artifact replays
    * phashIndexOf exactly — deterministic hashes, parquet-exact longs),
    * but the deployment cost model is real: |batch| decodes + one
    * artifact scan, never a corpus re-hash. */
  def phashVsIndex(s: SparkSession, dir: String): DataFrame =
    phashScorer(s, dir)(src0(Tables.load(s, dir, "documents")))

  /** The ONE phash probe path (batch analog and nightly step share it). */
  private def phashScorer(s: SparkSession, dir: String): DataFrame => DataFrame = {
    val index = AnnModels.phashIndex(s, dir)
    batch => Multimodal.phashIncrementalMatch(batch, index)
  }

  /** Nightly PERCEPTUAL ingest probe — the multimodal member of the
    * nightly triad (admission gate → text dedup probe → phash probe →
    * delta pack): drops' assets are hashed and probed against the
    * corpus's PERSISTED phash index (built once per corpus state, never a
    * per-night corpus re-hash); verdicts (doc_id, n_matches, is_novel)
    * land in `batch=<id>` partitions. */
  def runPhashStep(s: SparkSession, corpusDir: String, dropDir: String,
      checkpoint: String, outPath: String, glob: String = "*.parquet"): Unit =
    runVerdictStep(s, dropDir, glob, checkpoint, outPath)(phashScorer(s, corpusDir))

  // --- documents: admission gates --------------------------------------------

  /** CALIBRATED INGEST ADMISSION GATE — the quality-side twin of the
    * incremental LSH probe: the corpus trains the quality model ONCE
    * (bigram LM + the calibrated top-half logit8 threshold, persisted by
    * AnnModels.ingestGate), and every ingest batch / stream is scored
    * against those REGISTRY-SERVED artifacts as static join sides. A doc
    * is admitted iff its logit8 meets the corpus's own bar. This batch
    * analog is the gated, oracle-replayed form; [[startIngestGateStream]]
    * is the same computation as a streaming query and
    * [[runIngestGateStep]] the nightly step over the same scoring path. */
  def ingestGateBatch(s: SparkSession, dir: String): DataFrame =
    gateScorer(s, dir)(src0(Tables.load(s, dir, "documents")))

  /** The ONE calibrated-gate scoring path (batch analog and nightly step
    * share it): logit8 under the persisted LM, gated on the persisted bar. */
  private def gateScorer(s: SparkSession, dir: String): DataFrame => DataFrame = {
    val Seq(c3, c2, u, thr) = AnnModels.ingestGate(s, dir)
    batch => admit(TextOps.ingestLogits(batch, c3, c2, u), "logit8", thr)
  }

  /** Nightly admission gate: drops are scored against `corpusDir`'s
    * registry-served model through [[gateScorer]] — the exact arithmetic
    * of [[ingestGateBatch]] — and verdicts land in `batch=<id>`
    * partitions. Admission is per-arrival, not per-identity; the dedup
    * family owns identity. */
  def runIngestGateStep(s: SparkSession, corpusDir: String, dropDir: String,
      checkpoint: String, outPath: String, glob: String = "*.parquet"): Unit =
    runVerdictStep(s, dropDir, glob, checkpoint, outPath)(gateScorer(s, corpusDir))

  /** True-stream form of the admission gate: ONE streaming aggregation —
    * the per-row (non-LM) logit part rides the trigram explode
    * (TextOps.logitBaseCol), the trigrams join the persisted n-gram LM
    * stream-static (left joins: unseen grams smooth to count 0 — the
    * interpolated-mixture arithmetic is identical to
    * TextOps.perplexityScore's, per-occurrence instead of
    * multiplicity-weighted; DECIMAL sums make the totals equal), and a
    * per-doc_id aggregate rebuilds the exact fixed-point logit before the
    * broadcast threshold compare. State = one aggregate row per ingest
    * document SEEN BY THIS QUERY (never corpus-sized; the LM and
    * threshold stay on the static side) — without a watermark the
    * aggregation state is not evicted, so this form is for the
    * session-scoped AvailableNow audit it ships in (state dies with the
    * query); the long-lived nightly deployment is [[runIngestGateStep]],
    * which is STATELESS by construction (foreachBatch + batch scoring; a
    * continuous always-on variant would add a processing-time window +
    * watermark, trading the batch-analog's whole-directory aggregation
    * semantics for per-drop verdicts). Trigram-less documents (< 3
    * tokens) ride a null sentinel row so they are gated too (nll term 0,
    * the batch path's left-join miss). Update output mode: each doc's
    * aggregate is complete within the trigger that read its file, so the
    * memory sink sees one final row per doc (spec-compared to
    * [[ingestGateBatch]]). */
  private[graft] def ingestGateTransform(stream: DataFrame, c3: DataFrame,
      c2: DataFrame, u: DataFrame, thr: DataFrame): DataFrame = {
    val gs = ShingleExpressions.shingles(col("text"), 3)
    val stats = broadcast(u.agg(count(lit(1)).as("v"),
      coalesce(sum(col("cu")), lit(0L)).as("ntok")))
    val p3 = (coalesce(col("c3"), lit(0L)) + 1).cast("double") /
      (coalesce(col("c2p"), lit(0L)) + col("v"))
    val p2 = (coalesce(col("c2s"), lit(0L)) + 1).cast("double") /
      (coalesce(col("cu2"), lit(0L)) + col("v"))
    val p1 = (coalesce(col("cu3"), lit(0L)) + 1).cast("double") /
      (col("ntok") + col("v"))
    val nll = round(-log(lit(0.5) * p3 + lit(0.375) * p2 + lit(0.125) * p1), 6)
    val avg = floor(col("tot").cast("double") / col("nb") * 1e6 + 0.5) / 1e6
    val logits = src0(stream)
      .select(col("doc_id"),
        TextOps.logitBaseCol.as("base"),
        explode(when(size(gs) > 0, gs)
          .otherwise(array(lit(null).cast("string")))).as("g3"))
      .withColumn("p", split(col("g3"), " "))
      .withColumn("g2p", concat_ws(" ", col("p").getItem(0), col("p").getItem(1)))
      .withColumn("g2s", concat_ws(" ", col("p").getItem(1), col("p").getItem(2)))
      .withColumn("w2", col("p").getItem(1))
      .withColumn("w3", col("p").getItem(2))
      .join(c3, Seq("g3"), "left")
      .join(c2.select(col("g").as("g2p"), col("c2").as("c2p")), Seq("g2p"), "left")
      .join(c2.select(col("g").as("g2s"), col("c2").as("c2s")), Seq("g2s"), "left")
      .join(u.select(col("w").as("w2"), col("cu").as("cu2")), Seq("w2"), "left")
      .join(u.select(col("w").as("w3"), col("cu").as("cu3")), Seq("w3"), "left")
      .crossJoin(stats)
      .groupBy("doc_id")
      .agg(first(col("base")).as("base"),
        count(col("g3")).as("nb"),
        sum(when(col("g3").isNotNull, nll.cast("decimal(18,6)"))).as("tot"))
      .select(col("doc_id"),
        (col("base") + lit(TextOps.QmNll) *
          coalesce(when(col("nb") > 0, floor(avg * 1e4 + 0.5).cast("long")), lit(0L)))
          .as("logit8"))
    admit(logits, "logit8", thr)
  }

  def startIngestGateStream(s: SparkSession, dir: String, name: String): StreamingQuery = {
    val Seq(c3, c2, u, thr) = AnnModels.ingestGate(s, dir)
    toMemory(ingestGateTransform(fileStream(s, dir, "documents.parquet"), c3, c2, u, thr),
      name, mode = "update")
  }

  /** LOGISTIC ADMISSION GATE — the trained-classifier form of the
    * admission family (the production shape: CCNet/DataComp gate the
    * crawl with a trained linear classifier, not a heuristic threshold):
    * the corpus trains the LR model ONCE (AnnModels.lrGate — the
    * qualityLr fit on the ingest convention, nll under the served corpus
    * LM), and every ingest batch is scored by broadcasting the 13-long
    * weight relation and running one feature pass — admit iff the exact
    * fixed-point logit is non-negative (σ(z) >= 1/2). Unseen grams smooth
    * open-vocabulary through perplexityScore's left joins; nothing about
    * the corpus is re-read at admission time. This batch analog is the
    * gated, oracle-replayed form; [[runIngestLrStep]] is the restartable
    * nightly streaming form over the same scoring path. */
  def ingestLrBatch(s: SparkSession, dir: String): DataFrame =
    lrScorer(s, dir)(src0(Tables.load(s, dir, "documents")))

  /** The ONE LR admission scoring path (batch analog and nightly step
    * share it): features of a batch under the persisted LM, scored with
    * the persisted (mu, w) — a bounded 13-long driver value, the
    * broadcast-model discipline. */
  private def lrScorer(s: SparkSession, dir: String): DataFrame => DataFrame = {
    val Seq(c3, c2, u, _) = AnnModels.ingestGate(s, dir)
    val rows = AnnModels.lrGate(s, dir).collect().sortBy(_.getInt(0))
    val mu = rows.drop(1).map(_.getLong(1))
    val w = rows.map(_.getLong(2))
    batch => TextOps.qualityLrScoreWith(
        TextOps.qualityFeaturesOf(batch, TextOps.perplexityScore(batch, c3, c2, u)), mu, w)
      .select(col("doc_id"), col("zlr10"), col("lr_keep").as("admit"))
  }

  /** Nightly LR admission gate: drops are scored against `corpusDir`'s
    * registry-served LM + LR model through [[lrScorer]]; verdicts land in
    * `batch=<id>` partitions. */
  def runIngestLrStep(s: SparkSession, corpusDir: String, dropDir: String,
      checkpoint: String, outPath: String, glob: String = "*.parquet"): Unit =
    runVerdictStep(s, dropDir, glob, checkpoint, outPath)(lrScorer(s, corpusDir))

  /** DSIR ADMISSION GATE — importance resampling as admission control,
    * the data-selection twin of [[ingestGateBatch]]: the corpus (source
    * <> 'src0') trains the hashed importance model ONCE (the full-domain
    * log-ratio table + the corpus's own top-quartile bar, persisted by
    * AnnModels.dsirGate), and every ingest batch is scored against the
    * broadcast artifact — admit iff the batch document's per-token mean
    * log importance meets the corpus's bar. The batch-side cost is one
    * scan + one token-bounded (doc, bucket) shuffle; nothing about the
    * corpus is re-read at admission time. This batch analog is the gated,
    * oracle-replayed form; [[runIngestDsirStep]] is the restartable
    * nightly streaming form over the same scoring path. */
  def ingestDsirBatch(s: SparkSession, dir: String): DataFrame =
    dsirScorer(s, dir)(src0(Tables.load(s, dir, "documents")))

  /** The ONE DSIR admission scoring path (batch analog and nightly step
    * share it — no drift): score a batch under the persisted log-ratio
    * table, gate on the persisted bar. */
  private def dsirScorer(s: SparkSession, dir: String): DataFrame => DataFrame = {
    val Seq(lr, thr) = AnnModels.dsirGate(s, dir)
    batch => admit(TextOps.dsirScores(TextOps.dsirOcc(batch), lr), "logw6", thr)
  }

  /** Nightly DSIR admission gate: drops are scored against `corpusDir`'s
    * registry-served importance model through [[dsirScorer]]; verdicts
    * land in `batch=<id>` partitions. The DSIR score needs two chained
    * aggregations (per-bucket counts, then the per-document mean), which
    * Structured Streaming's incremental planner cannot run in one query
    * anyway — per-micro-batch batch scoring is the only form. */
  def runIngestDsirStep(s: SparkSession, corpusDir: String, dropDir: String,
      checkpoint: String, outPath: String, glob: String = "*.parquet"): Unit =
    runVerdictStep(s, dropDir, glob, checkpoint, outPath)(dsirScorer(s, corpusDir))

  // --- documents: delta pack and sink compaction -----------------------------

  /** Nightly INCREMENTAL PACKER — the third nightly step, completing the
    * ingest triad (admission gate → dedup probe → delta pack): chunk the
    * drops' documents CONTINUING each source's token stream — the
    * corpus's per-source token totals come from the registry
    * (AnnModels.tokenTotals — trained once per corpus state, so the
    * nightly step never re-scans the corpus), and earlier drops'
    * contributions come from the manifest the step itself has already
    * written. Chunk ids therefore continue exactly where the corpus + all
    * prior drops left off — the append-only concat-and-chunk model
    * (Pipeline.packDelta's batch semantics, made restartable).
    *
    * Prior-drop totals are O(|sources|), not O(history), so a night's
    * cost does not grow with the number of nights already packed:
    * each batch folds its per-source token sums into a CUMULATIVE
    * `<outPath>.totals/batch=<id>` sidecar (|sources| rows), and the next
    * batch reads the newest sidecar generation with batch < batchId — one
    * tiny read per night, never a re-aggregation of every prior manifest
    * partition. Batches commit strictly in order (AvailableNow processes
    * micro-batches sequentially; the checkpoint commits only after
    * foreachBatch returns, i.e. after the sidecar write), so that one
    * generation always covers ALL prior batches; generations older than
    * the previous one are GC'd (the two-generation registry discipline).
    * A store written before the sidecar existed falls back to the full
    * manifest aggregation once, then converges.
    *
    * Sink idempotency: manifest rows land through [[writeBatchPartition]],
    * and both the prior-totals sidecar pick and the fallback aggregation
    * read only batch < batchId, so a replayed micro-batch neither
    * double-writes nor double-counts its own crashed attempt — a crash
    * before the sidecar write replays against the previous generation; a
    * crash after it replays with its own generation excluded by the
    * batch < batchId guard and rewrites both partitions identically. A
    * chunk that straddles a batch boundary appears in both batches'
    * partitions with its per-batch doc/token counts — readers aggregate
    * by (source, chunk_id), the grouping the manifest is keyed on
    * anyway. */
  def runPackDeltaStep(s: SparkSession, corpusDir: String, dropDir: String,
      checkpoint: String, outPath: String, glob: String = "*.parquet"): Unit =
    runNightly(s, dropDir, glob, checkpoint) { drops =>
      val corpusBase = AnnModels.tokenTotals(s, corpusDir)
      val outP = new Path(outPath)
      val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
      val totalsPath = outPath + ".totals"
      val totP = new Path(totalsPath)
      drops.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        val delta = batch.select(col("source"), col("doc_id"),
          Pipeline.wsTokenCount.as("n_tok"))
        // prior totals: the newest CUMULATIVE sidecar generation with
        // batch < batchId (excluding own replayed generation) — an
        // O(|sources|) read. Fallback for pre-sidecar stores only: one
        // full aggregation over prior manifest partitions (probing for
        // batch= dirs keeps a zero-row first night — _SUCCESS but no
        // partitions — from wedging the read).
        val priorGens = batchIds(fs, totP).filter(_ < batchId)
        val prior =
          if (priorGens.nonEmpty)
            s.read.parquet(s"$totalsPath/batch=${priorGens.max}")
          else if (batchIds(fs, outP).exists(_ < batchId))
            s.read.parquet(outPath).filter(col("batch") < batchId)
              .groupBy("source").agg(sum(col("n_tokens")).as("prior_toks"))
          else
            corpusBase.select(col("source"), lit(0L).as("prior_toks")).limit(0)
        val base = corpusBase.join(prior, Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("base_off"), lit(0L)) + coalesce(col("prior_toks"), lit(0L)))
              .as("base_off"))
        writeBatchPartition(Pipeline.packOf(delta, baseOff = Some(base)), batchId, outPath)
        // fold this batch into the cumulative sidecar (written AFTER the
        // manifest, so a crash between the two replays from the previous
        // generation and rewrites both identically), then GC generations
        // older than the previous one
        prior.join(delta.groupBy("source").agg(sum(col("n_tok")).as("btoks")),
            Seq("source"), "full_outer")
          .select(col("source"),
            (coalesce(col("prior_toks"), lit(0L)) + coalesce(col("btoks"), lit(0L)))
              .as("prior_toks"))
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$totalsPath/batch=$batchId")
        priorGens.dropRight(1).foreach(b => fs.delete(new Path(totP, s"batch=$b"), true))
      }
    }

  /** How many of the NEWEST `batch=` partitions a compaction pass leaves
    * untouched: the two-generation registry discipline — the newest night
    * may be mid-replay (the foreachBatch at-least-once window rewrites
    * it), and its predecessor is what a crashed replay falls back to. */
  val CompactKeepNights = 2

  /** RESTARTABLE nightly COMPACTION of a `batch=`-partitioned sink: the
    * gate/dsir/phash verdict sinks and the delta-pack
    * manifest each grow one partition per night forever; this rewrites
    * every partition older than the [[CompactKeepNights]] newest into ONE
    * consolidated partition (named for the newest id it covers — so the
    * delta packer's `batch < batchId` guards keep working), leaving the
    * sink's ROW CONTENT exactly unchanged (readers aggregate by their own
    * keys, never by the batch column).
    *
    * Crash protocol (the totals-sidecar discipline): the consolidated
    * rows are STAGED at `<out>.compact/batch=<target>` and a
    * `_COMPACT_COVERS` marker naming every covered partition is written
    * LAST (temp + atomic rename — a torn marker could name a partial
    * covered set, and resuming against it would delete live partitions);
    * only then are covered partitions deleted and the staged directory
    * renamed into place. A crash before the marker recomputes the stage
    * from the still-intact partitions; a crash mid-delete resumes from
    * the marker (deletes are idempotent, the stage holds every covered
    * row); a crash after the rename leaves the staged partition ABSENT
    * from staging, which the resume reads as "swap complete" and only
    * cleans staging — the live deletes are gated on the staged copy
    * still existing, so a resume can never destroy the consolidated
    * partition it just installed. One pass per night, O(covered
    * partitions) I/O, no corpus-side reads. */
  def runCompactionStep(s: SparkSession, outPath: String,
      keepNights: Int = CompactKeepNights): Unit = {
    val outP = new Path(outPath)
    val fs = outP.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(outP)) return
    val staging = new Path(outPath + ".compact")
    val marker = new Path(staging, "_COMPACT_COVERS")
    def swap(covered: Seq[Long]): Unit = {
      val target = covered.max
      val stagedPart = new Path(staging, s"batch=$target")
      // Once the deletes below run, the staged partition is the ONLY copy
      // of the covered rows — so the live partitions are only ever touched
      // while it is still present. If it is absent, a previous run already
      // renamed it into place (the only way it leaves staging), the swap
      // is complete, and only the staging cleanup remains — re-running the
      // deletes here would destroy the consolidated partition itself.
      if (fs.exists(stagedPart)) {
        covered.foreach { b =>
          val p = new Path(outP, s"batch=$b")
          if (fs.exists(p) && !fs.delete(p, true))
            throw new java.io.IOException(s"compaction: cannot delete $p")
        }
        // rename failure reports as `false` on HDFS/local — abort BEFORE
        // the staging delete so the staged rows (now the only copy)
        // survive for the next resume
        if (!fs.rename(stagedPart, new Path(outP, s"batch=$target")))
          throw new java.io.IOException(
            s"compaction: rename $stagedPart failed; staged rows preserved for resume")
      }
      fs.delete(staging, true)
    }
    if (fs.exists(marker)) {
      // resume a crashed swap: the marker names the covered set and the
      // stage holds every covered row — finish deletes + rename
      val in = fs.open(marker)
      val txt = try scala.io.Source.fromInputStream(in).mkString finally in.close()
      swap(txt.trim.split(",").map(_.toLong).toSeq)
      return
    }
    val covered = batchIds(fs, outP).dropRight(keepNights)
    if (covered.size < 2) return // nothing to consolidate tonight
    fs.delete(staging, true)
    // explicit partition-dir reads: the batch column lives in the dir
    // name, so the staged files carry exactly the data columns and the
    // renamed dir re-keys every row as batch=<target>
    s.read.parquet(covered.map(b => s"$outPath/batch=$b"): _*)
      .write.mode("overwrite")
      .parquet(new Path(staging, s"batch=${covered.max}").toString)
    // temp + rename: the marker is the commit point of the whole swap, so
    // it must appear atomically — a torn in-place write could name a
    // PARTIAL covered set, and resuming against it deletes partitions
    // whose rows live only in the staged union (the _GRAFT_COMPLETE
    // discipline from AnnModels.commitIfFresh, applied here)
    val tmp = new Path(staging, "_COMPACT_COVERS.tmp")
    val out = fs.create(tmp, true)
    try out.write(covered.mkString(",").getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, marker))
      throw new java.io.IOException(s"compaction: marker rename failed at $marker")
    swap(covered)
  }

  // --- wiring (batch analogs, oracle-checked) ------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_agg" -> ((s, dir) => windowAgg(Tables.load(s, dir, "events"))),
    "stream_hopping_agg" -> ((s, dir) => hoppingAgg(Tables.load(s, dir, "events"))),
    "stream_sessionize" -> ((s, dir) => sessionize(s, Tables.load(s, dir, "events"))),
    "stream_interval_join" -> ((s, dir) => intervalJoinBatch(Tables.load(s, dir, "events"))),
    "stream_dedup" -> ((s, dir) => dedupBatch(Tables.load(s, dir, "events"))),
    "stream_dedup_lsh" -> ((s, dir) => dedupLshNovelty(Tables.load(s, dir, "documents"))),
    "stream_dedup_incremental" -> ((s, dir) => incrementalVsIndex(s, dir)),
    "stream_ingest_phash" -> (phashVsIndex _),
    "stream_ingest_gate" -> (ingestGateBatch _),
    "stream_ingest_lr" -> (ingestLrBatch _),
    "stream_ingest_dsir" -> (ingestDsirBatch _),
    "stream_sketch_distinct" -> ((s, dir) => windowDistinctSketch(Tables.load(s, dir, "events"))),
    "stream_topk" -> ((s, dir) => windowTopKBatch(Tables.load(s, dir, "events"))))

  def oracles: Map[String, String] = Map(
    "stream_window_agg" ->
      ("SELECT time_bucket(INTERVAL 15 MINUTE, ts) AS win_start, event_type, count(*) AS n, " +
        "CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value FROM events " +
        "GROUP BY time_bucket(INTERVAL 15 MINUTE, ts), event_type"),
    "stream_hopping_agg" ->
      ("SELECT win_start, event_type, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value FROM " +
        "(SELECT time_bucket(INTERVAL 15 MINUTE, ts) - to_minutes(15 * k) AS win_start, event_type, value " +
        "FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k)) " +
        "GROUP BY win_start, event_type"),
    "stream_sessionize" ->
      ("WITH flagged AS (SELECT user_id, ts, event_id, value, CASE WHEN lag(epoch_us(ts)) OVER w IS NULL OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS new_s " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), " +
        "sessions AS (SELECT user_id, ts, value, CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM flagged) " +
        "SELECT user_id, session_id, count(*) AS n_events, min(ts) AS start_ts, max(ts) AS end_ts, CAST(sum(CAST(value AS DECIMAL(10,2))) AS DOUBLE) AS total_value " +
        "FROM sessions GROUP BY user_id, session_id"),
    "stream_interval_join" ->
      ("SELECT p.event_id AS purchase_id, v.event_id AS view_id, p.user_id " +
        "FROM events p JOIN events v ON v.user_id = p.user_id " +
        "AND p.event_type = 'purchase' AND v.event_type = 'view' " +
        "AND v.ts >= p.ts - INTERVAL 1 HOUR AND v.ts <= p.ts"),
    "stream_dedup" ->
      "SELECT user_id, event_type, min(ts) AS first_ts FROM events GROUP BY user_id, event_type",
    "stream_dedup_lsh" ->
      (s"WITH ${graft.operators.Dedup.lshBandCtes}, " +
        "owners AS (SELECT band, h, min(doc_id) AS owner FROM banded GROUP BY band, h), " +
        "pd AS (SELECT b.doc_id, count(*) AS n_bands, " +
        "CAST(sum(CASE WHEN o.owner = b.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_owned " +
        "FROM banded b JOIN owners o ON b.band = o.band AND b.h = o.h GROUP BY b.doc_id) " +
        "SELECT d.doc_id, coalesce(pd.n_owned, 0) AS n_owned, " +
        "CASE WHEN coalesce(pd.n_bands, 0) = coalesce(pd.n_owned, 0) THEN 1 ELSE 0 END AS is_novel " +
        "FROM documents d LEFT JOIN pd ON d.doc_id = pd.doc_id"),
    "stream_dedup_incremental" ->
      // identical semantics to dedup_incremental_lsh — the artifact index
      // replays lshIndexOf bit-for-bit, so the one parameterized oracle
      // serves both the in-query and the persisted-index forms
      graft.operators.Dedup.lshMatchOracle(
        idxPred = "source <> 'src0'", batchPred = "source = 'src0'"),
    "stream_ingest_phash" ->
      // identical semantics to mm_phash_incremental — the artifact index
      // replays phashIndexOf bit-for-bit, so the one oracle serves both
      // the in-query and the persisted-index forms
      graft.operators.Multimodal.phashIncrementalSql,
    "stream_ingest_gate" -> graft.operators.TextOps.ingestGateSql,
    "stream_ingest_lr" -> graft.operators.TextOps.ingestLrSql,
    "stream_ingest_dsir" -> graft.operators.TextOps.ingestDsirSql,
    "stream_sketch_distinct" -> {
      import graft.operators.Extras.{KmvK, Two52}
      val hex13 = graft.functions.hexIntSql("md5(CAST(user_id AS VARCHAR))", 1, 13)
      "WITH du AS (SELECT DISTINCT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, user_id FROM events), " +
        s"h AS (SELECT win_start, user_id, CAST($hex13 AS BIGINT) AS h FROM du), " +
        "r AS (SELECT win_start, h, row_number() OVER (PARTITION BY win_start ORDER BY h, user_id) AS rn FROM h), " +
        "e AS (SELECT win_start, count(*) AS n_exact FROM du GROUP BY win_start) " +
        s"SELECT e.win_start, n_exact, COALESCE(floor(${(KmvK - 1).toDouble * Two52} / r.h * 1000000 + 0.5) / 1000000, CAST(n_exact AS DOUBLE)) AS est_distinct " +
        s"FROM e LEFT JOIN (SELECT * FROM r WHERE rn = $KmvK) r ON e.win_start = r.win_start"
    },
    "stream_topk" ->
      ("WITH counts AS (SELECT time_bucket(INTERVAL 1 HOUR, ts) AS win_start, event_type, count(*) AS n " +
        "FROM events GROUP BY 1, 2), " +
        "ranked AS (SELECT win_start, event_type, n, " +
        "CAST(row_number() OVER (PARTITION BY win_start ORDER BY n DESC, event_type ASC) AS INT) AS rank FROM counts) " +
        s"SELECT win_start, event_type, n, rank FROM ranked WHERE rank <= $WindowTopK"))
}
