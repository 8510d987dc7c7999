package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.hash52
import graft.operators.Tera

/** Scale-stress harness: generate synthetic corpora at 1x/10x/100x the
  * shipped sf0.1 size with the library's own deterministic generators, run
  * the heavy dedup/ANN/pipeline operators at each size, and record the
  * per-operator scaling trend — the falsifiable form of the "designed for
  * 100 TB" claim. The salted-census candidate paths are all designed to be
  * ~linear in corpus size (candidate pairs ≤ corpus x cap, never corpus²);
  * this harness is what catches a regression that quietly re-introduces a
  * quadratic expansion.
  *
  * Generation is expression-only and fully deterministic (md5-derived, no
  * RNG, no wall clock), mirroring the shipped corpus' shape:
  *  - documents: 8-100 token docs over a small vocab, ~5% exact duplicate
  *    pairs (seed reuse), ~9% sharing a fixed boilerplate prefix (cross-doc
  *    duplicated windows for the substring family), 20 sources, 4 langs;
  *  - embeddings: 16 planted centers + per-vector noise (cluster structure
  *    for IVF/SemDeDup), ~4% identical-vector pairs.
  *
  * Usage: runMain graft.Scale [outBase] [maxScale]
  * Writes one JSON line per (scale, op) and SCALE_RESULTS.json at the end.
  */
object Scale {

  private val Words = Seq(
    "key", "agg", "row", "scan", "slow", "fast", "table", "value", "part",
    "hash", "merge", "batch", "line", "sort", "window", "spark", "order",
    "data", "column", "join", "small", "customer", "query", "big", "group",
    "stream", "filter", "vector", "the", "a")

  /** Word draw: 30% from the 30 shipped-corpus words (keeps langid/quality
    * gates non-trivial), 70% from a 970-word derived tail. A SATURATED
    * 30-word vocab makes every document an LSH candidate of every other —
    * the cap keeps pair growth linear, but with a pathological constant
    * (at x100 the shingle-array verification join spilled ~100 GB; the
    * first harness run measured exactly that). Real web-scale corpora have
    * open vocabularies: candidate density must come from the PLANTED
    * structure (exact-dup pairs + shared boilerplate), which scales
    * linearly by construction, not from alphabet exhaustion. */
  private def pickWord(seed: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) = {
    val h = hash52(concat(seed.cast("string"), lit(":"), i.cast("string")))
    val common = element_at(array(Words.map(lit): _*),
      pmod(h, lit(Words.size.toLong)).cast("int") + 1)
    val rare = concat(lit("w"), pmod(hash52(concat(lit("r:"), seed.cast("string"),
      lit(":"), i.cast("string"))), lit(970L)).cast("string"))
    when(pmod(h, lit(10L)) < 3, common).otherwise(rare)
  }

  def genDocuments(s: SparkSession, n: Long, dir: String): Unit = {
    val base = s.range(0, n).toDF("doc_id")
      // ~5% exact duplicates: every 19th doc reuses the previous doc's seed
      .withColumn("seed",
        when(col("doc_id") % 19 === 18, col("doc_id") - 1).otherwise(col("doc_id")))
    val nTok = (pmod(hash52(concat(lit("len:"), col("seed").cast("string"))), lit(93L)) + 8).cast("int")
    val words = transform(sequence(lit(1), nTok), i => pickWord(col("seed"), i))
    val body = array_join(words, " ")
    val boiler = lit("shared boilerplate header for license and attribution text")
    val text = when(col("seed") % 11 === 0, concat(boiler, lit(" "), body)).otherwise(body)
    base.select(
      col("doc_id"),
      text.as("text"),
      element_at(array(lit("en"), lit("de"), lit("fr"), lit("es")),
        pmod(hash52(concat(lit("lang:"), col("seed").cast("string"))), lit(4L)).cast("int") + 1).as("lang"),
      concat(lit("src"), pmod(col("doc_id"), lit(20L)).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  def genEmbeddings(s: SparkSession, n: Long, dir: String): Unit = {
    val base = s.range(0, n).toDF("vec_id")
      // ~4% identical-vector pairs: every 23rd reuses the previous seed
      .withColumn("vseed",
        when(col("vec_id") % 23 === 22, col("vec_id") - 1).otherwise(col("vec_id")))
      .withColumn("label", pmod(col("vseed"), lit(16L)).cast("int"))
    // noise ~1.5x the center amplitude: same-center cosines average BELOW
    // the 0.4 dedup threshold (organic pairs are a sparse tail, planted
    // identical pairs are certain) — a ±0.25 noise saturated every
    // cluster into one duplicate group, the embedding analog of the
    // exhausted-vocab pathology above
    val emb = transform(sequence(lit(0), lit(63)), d => {
      val c = (pmod(hash52(concat(lit("c:"), col("label").cast("string"), lit(":"),
        d.cast("string"))), lit(2049L)) - 1024).cast("double") / 1024.0
      val g = (pmod(hash52(concat(lit("g:"), col("vseed").cast("string"), lit(":"),
        d.cast("string"))), lit(3073L)) - 1536).cast("double") / 1024.0
      (c + g).cast("float")
    })
    base.select(col("vec_id"), emb.as("embedding"), col("label"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** The gated queries whose scaling the harness certifies, each named
    * once and timed in this order: every candidate-pair path family
    * (minhash+verify, CC survivors, substring windows, LSH index match,
    * knn buckets, IVF-PQ, SemDeDup) plus the composed curation capstones.
    * Each runs through its `SparkEntry.queries` entry, so the harness
    * measures exactly what a deployment runs — e.g. `sim_knn_graph`
    * since round 7 auto-sizes its table geometry from the corpus count
    * (Similarity.graphSizing — planesPerTable ~ log2(N / bucket cap),
    * tables trimmed to the 64-bit signature budget). At a FIXED 32 buckets a
    * 100x corpus saturates every bucket to the salt cap — bounded, but
    * with the candidate constant the rule avoids (the first harness run
    * measured it at 32x wall-clock). */
  val opNames: Seq[String] = Seq(
    "dedup_substring",
    "dedup_substring_rm",
    "dedup_minhash_verified",
    "dedup_survivors",
    "dedup_incremental_lsh",
    // the curate manifests and the loader orders are served corpus
    // products: their served rows must go flat ×1→×100 (curate_neardup
    // read 2.4 s at ×100 when it still re-composed per invocation);
    // first-touch carries the one-time composition
    "pipeline_curate_neardup",
    "dedup_semantic",
    "sim_ann_ivfpq",
    "sim_knn_graph",
    // round-8 additions: the two-level-rank family's new consumers and
    // the end-to-end build capstone (composes the heaviest chains)
    "pipeline_curriculum",
    "pipeline_interleave",
    "pipeline_build",
    // round 9: the corpus-calibrated gate variant — the manifest must be
    // NON-EMPTY here (the fixed-coefficient gate's empty ×10/×100
    // manifest is the depth gap this closes; SCALE.md r8)
    "pipeline_build_calibrated",
    // round 9: the calibrated gate alone (census threshold selection),
    // the trained-tokenizer chain (registry artifact + native encoder +
    // pack), and the persisted-index ingest probe — ordered after
    // build_calibrated so the LM artifact is warm when the gate re-runs
    "text_quality_calibrated",
    "text_bpe_trained_ids",
    "pipeline_pack_trained",
    "stream_dedup_incremental",
    // round 10: the learned components at production shape — the
    // 256-merge batched-trainer chain, the Rocchio-trained quality
    // gate, and the corpus-calibrated ingest admission gate (all
    // registry-served; first-touch rows carry their one-time training)
    "text_bpe_trained_ids_256",
    "text_quality_trained",
    "stream_ingest_gate",
    // round 11: the ordered-dataset capstone — the calibrated manifest
    // plus the chunk-granularity interleave rank; its extra cost over
    // build_calibrated must stay manifest-sized (rows = corpus/2048)
    "pipeline_build_ordered",
    // round 11: the nightly continuation pack (cost ∝ delta, the top
    // doc_id fifth) and the token-budget census (one aggregation pass)
    "pipeline_pack_delta",
    "pipeline_token_budget",
    // round 11: DSIR importance selection — two corpus scans, one
    // token-bounded (doc, bucket) shuffle, a 256-row model broadcast and
    // the census order statistic; registry-served, so first-touch rows
    // carry the one-time model fit and served rows are the scoring pass
    "text_importance_dsir",
    // round 12: the paper-width DSIR form — same width-independent plan
    // (broadcast model relation, token-bounded shuffle); the 8192-row
    // artifact must stay broadcast-sized at every corpus scale
    "text_importance_dsir_8k",
    // round 11: perceptual dedup CC — pairs stay pigeonhole-bucketed and
    // salt-capped, CC state bounded by edge-touched assets; must stay
    // far from quadratic even when the generated corpus has phash
    // near-pairs
    "mm_phash_dedup",
    // round 11: DSIR admission — first-touch carries the corpus fit,
    // served rows are the batch-sized scoring pass (cost ∝ batch)
    "stream_ingest_dsir",
    // round 12: perceptual ingest probe — first-touch builds the
    // pigeonhole phash index, served is |batch| hashes + one equijoin
    "stream_ingest_phash",
    // round 12: cross-modal alignment gate — partition-parallel phash,
    // id-keyed embeddings join, histogram census + broadcast bar
    "mm_text_align",
    // round 11: temperature sampling — assignment join (registry-served
    // centroids) + bounded heaps + a capped-relation rank; must track
    // the assignment scan, not the window
    "pipeline_sample_cluster",
    // round 13: multiset verification — same candidate-bounded shape as
    // minhash_verified (the pair join streams (pair, gram) rows pruned
    // by the hash join), must track the candidate count, never corpus²
    "dedup_jaccard_weighted",
    // round 13: atomic FFD packing — ONE bounded-group shuffle; the fold
    // state is ≤ FfdBlock entries per shard regardless of corpus size
    "pipeline_pack_ffd",
    // round 13: source-level gate — the per-source rollup rides the
    // served survivor labels; the gate itself is O(sources) + broadcast
    "pipeline_curate_source",
    // round 13: LR admission — first-touch carries the one-time fit
    // (bounded driver-side rounds over the even-id half), served rows
    // are one feature pass over the batch
    "stream_ingest_lr",
    // round 13: audio fingerprint pairing — pigeonhole-bucketed and
    // salt-capped like simhash/phash; linear in assets by construction
    "mm_audio_pairs",
    // round 15: the PQ family's remaining two gated entries — with the
    // corpus encoding registry-served (AnnModels.pqCodes) their served
    // rows must drop to the ivf family's flat line; first-touch carries
    // the one-time encode
    "sim_ann_pq",
    "sim_ann_ivfpq_rerank",
    // the audio, span and funnel scale rows — all
    // ride served artifacts (audio CC labels, the dupSpans relation,
    // the funnelFlags spine), so anything non-flat is a finding
    "mm_audio_dedup",
    "mm_audio_keep",
    "dedup_substring_rm_spans",
    "pipeline_funnel_source",
    // the heaviest served reads of the dedup family — the raw-candidate CC labeling, both minhash verifiers and
    // the banded variant; all artifact reads now, so anything non-flat
    // ×1→×100 is a finding (first-touch carries the one-time build)
    "dedup_clusters",
    "dedup_minhash_lsh",
    "dedup_minhash_estimate",
    "dedup_minhash_banded",
    "dedup_boilerplate",
    "dedup_embedding",
    // round 17 batch 3: the remaining curate manifests (see
    // curate_neardup above)
    "pipeline_curate_semantic",
    "pipeline_curate_aligned",
    "text_bpe_ids")

  /** The timed operators, each run through its gated query. */
  def ops: Seq[(String, (SparkSession, String) => DataFrame)] =
    opNames.map(n => n -> SparkEntry.queries(n))

  def main(args: Array[String]): Unit = {
    val outBase = args.headOption.getOrElse("/tmp/graft_scale")
    // "=N" runs ONLY scale xN in this JVM: the
    // shared-JVM sweep accumulated heap/GC debris across scale points —
    // the x100 re-run band read up to 2x its own first run — so the
    // sweep recipe is now one fresh JVM per point (SCALE.md), each
    // writing SCALE_RESULTS_x{N}.json for the caller to merge. A plain
    // number keeps the old all-points-up-to-N behavior.
    val scaleArg = args.lift(1).getOrElse("100")
    val only = if (scaleArg.startsWith("=")) Some(scaleArg.drop(1).toInt) else None
    val maxScale = only.getOrElse(scaleArg.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = GraftSession.local(cpus.toInt)
    val load0 = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // sf0.1 ships 5k docs / 2k vectors — that is scale x1
    val scales = Seq(1, 10, 100)
      .filter(m => only.map(_ == m).getOrElse(m <= maxScale))
      .map(m => (s"x$m", m, 5000L * m, 2000L * m))
    val results = scala.collection.mutable.ArrayBuffer[String]()
    def r3(d: Double): Double = math.round(d * 1000) / 1000.0
    // Resume probe through the Hadoop FileSystem for the path's scheme
    // (outBase is caller-supplied and may be an object store), requiring
    // BOTH datasets' committer _SUCCESS markers — a crash between the
    // two generators, or a torn write, regenerates instead of silently
    // reusing missing or partial embeddings.
    val hconf = spark.sparkContext.hadoopConfiguration
    def ensureCorpus(dir: String, nDocs: Long, nVecs: Long): Unit = {
      def complete(table: String): Boolean = {
        val p = new org.apache.hadoop.fs.Path(s"$dir/$table/_SUCCESS")
        p.getFileSystem(hconf).exists(p)
      }
      if (!complete("documents.parquet") || !complete("embeddings.parquet")) {
        genDocuments(spark, nDocs, dir)
        genEmbeddings(spark, nVecs, dir)
      }
    }
    // comma-separated substring filters (r15) — a targeted re-measure
    // warms and runs ONLY the named families instead of the full sweep
    val filters = args.lift(2).getOrElse("").split(",").filter(_.nonEmpty)
    def selected(n: String): Boolean =
      filters.isEmpty || filters.exists(n.contains)
    // JIT/codegen warmup on the x1 corpus, whatever points THIS JVM
    // measures — in the fresh-JVM-per-point sweep every JVM warms itself,
    // so an x100-only run doesn't charge JIT to its first-touch rows
    ensureCorpus(s"$outBase/x1", 5000L, 2000L)
    ops.foreach { case (n, fn) =>
      if (selected(n)) Bench.materialize(fn(spark, s"$outBase/x1")) }
    for ((tag, mult, nDocs, nVecs) <- scales) {
      val dir = s"$outBase/$tag"
      ensureCorpus(dir, nDocs, nVecs)
      for ((name, fn) <- ops if selected(name)) {
        // Measurement isolation: localCheckpoint blocks from the PREVIOUS
        // operator otherwise stay persisted and squeeze this one's
        // execution memory — at x100 that turned an 8 s pipeline into a
        // 210 s spill storm and read as fake superlinearity. The explicit
        // GC (r16) returns the released block memory before the timer
        // starts instead of mid-measurement.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
        // Both timings recorded per (scale, op): the FIRST-TOUCH run may
        // train registry artifacts (LM, BPE table, langid centroids, LSH
        // index) at this scale — only x1's warmup pre-trains them — and
        // the SERVED re-run is the deployment shape. Comparing x1-served
        // against x100-first-touch overstates growth; the pair makes both
        // trends readable (the r8 curriculum hand-split, now systematic).
        // Each sample ends at a full `noop` write (`Bench.materialize`),
        // as Bench and perfbench time; the row count is read after the
        // timer, from the now-served artifacts.
        val t0 = System.nanoTime()
        Bench.materialize(fn(spark, dir))
        val secs = (System.nanoTime() - t0) / 1e9
        val rows = fn(spark, dir).count()
        val line = s"""{"scale":"$tag","mult":$mult,"op":"$name","rows":$rows,"sec":${r3(secs)}}"""
        println(line)
        results += line
        // Release the FIRST run's localCheckpoint blocks before timing the
        // served re-run: a fresh invocation rebuilds
        // its own checkpoints, so the first run's blocks are garbage that
        // squeezed the re-run's execution memory — at x100 a re-run could
        // time SLOWER than its own first touch (the SCALE.md r13 caveat),
        // inverting the served-vs-first-touch trend the pair exists to show.
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
        System.gc()
        val t1 = System.nanoTime()
        Bench.materialize(fn(spark, dir))
        val secs2 = (System.nanoTime() - t1) / 1e9
        val line2 = s"""{"scale":"$tag","mult":$mult,"op":"${name}_served","rows":$rows,"sec":${r3(secs2)}}"""
        println(line2)
        results += line2
      }
      if (filters.isEmpty || filters.exists("terasort".contains)) {
        // TeraSort end to end (generate -> range-partitioned total-order
        // sort -> write): 100k x mult 100-byte records, the classic MR
        // scale benchmark — a count() would let the optimizer drop the
        // Sort, so the measurement includes the parquet write it feeds.
        val tn = 100000L * mult
        val t0 = System.nanoTime()
        Tera.teragenN(spark, tn).orderBy(col("key"))
          .write.mode("overwrite").parquet(s"$dir/terasort_out")
        val secs = (System.nanoTime() - t0) / 1e9
        val line = s"""{"scale":"$tag","mult":$mult,"op":"terasort_write","rows":$tn,"sec":${r3(secs)}}"""
        println(line)
        results += line
      }
    }
    val out = s"""{"load_avg_start":${r3(load0)},"docs_per_x":5000,"vecs_per_x":2000,""" +
      s""""cpus":$cpus,"runs":[${results.mkString(",")}]}"""
    val resName = only.map(m => s"SCALE_RESULTS_x$m.json").getOrElse("SCALE_RESULTS.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outBase/$resName"),
      (out + "\n").getBytes("UTF-8"))
    println(out)
    spark.stop()
  }
}
