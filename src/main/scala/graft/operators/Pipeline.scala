package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Section C capstone: the end-to-end training-set curation query —
  * operators composed the way a production data pipeline chains them:
  *
  *   documents → language filter (en) → quality gate → exact-dedup keep rule
  *
  * Each stage is the SAME DataFrame the standalone operator returns, joined
  * on doc_id — Catalyst fuses the per-row stages into one scan-side pipeline
  * and the dedup keep-rule into one hash aggregate, so "composed" costs the
  * same as "hand-fused". The oracle composes the standalone oracle SQLs as
  * CTEs, verbatim.
  */
object Pipeline {

  val QualityThreshold = 0.35

  /** Registry-served ([[AnnModels.curateManifest]]: [[curateGated]] over
    * the heuristic quality bar): the curated manifest is the product a
    * curation deployment materializes (the buildManifest discipline one
    * stage earlier), so reads do not re-compose the id-sized gate joins. */
  def curate(s: SparkSession, dir: String): DataFrame =
    AnnModels.curateManifest(s, dir)

  /** `curate` with the LEARNED quality gate (TextOps.qualityModel) in
    * place of the heuristic threshold — the DCLM/FineWeb-Edu shape, where
    * a trained classifier decides what passes. Same fused plan; only the
    * gate relation changes. Served like [[curate]]. */
  def curateModel(s: SparkSession, dir: String): DataFrame =
    AnnModels.curateModelManifest(s, dir)

  /** The curation chain parameterized on its quality gate: `gate` is any
    * (doc_id, score...) relation of survivors — heuristic threshold,
    * learned model, or whatever a deployment trains next. The gate's
    * score columns ride through to the output. */
  def curateGated(s: SparkSession, dir: String, gate: DataFrame): DataFrame = {
    val lang = TextOps.langid(s, dir).filter(col("pred_lang") === "en")
    val keep = Dedup.exact(s, dir).select(col("keep_id").as("doc_id"))
    val scoreCols = gate.columns.filterNot(_ == "doc_id").map(col).toSeq
    lang.join(gate, Seq("doc_id"))
      .join(keep, Seq("doc_id"), "left_semi")
      .select(col("doc_id") +: col("pred_lang") +: scoreCols: _*)
  }

  /** The full curation capstone: `curate`'s language/quality/exact-dedup
    * gates PLUS near-dup removal — only cluster-canonical survivors
    * (Dedup.survivors: CC over LSH pairs ∪ exact-hash stars) pass. A
    * cluster's canonical doc is also its own hash group's canonical, so
    * this strictly refines `curate`; the semi-join ships bare doc_ids. */
  def curateNearDup(s: SparkSession, dir: String): DataFrame =
    AnnModels.curateNearDupManifest(s, dir) // served like curate

  /** Deterministic train/val/test split: md5 of the doc id buckets every
    * document reproducibly — no RNG, stable under re-runs and re-partitions,
    * replayable by any engine. 90/5/5 by hex prefix. */
  def split(s: SparkSession, dir: String): DataFrame = {
    val bucket = conv(substring(md5(col("doc_id").cast("string").cast("binary")), 1, 2), 16, 10)
      .cast("int")
    graft.sources.Tables.load(s, dir, "documents")
      .withColumn("b", bucket)
      .withColumn("split",
        when(col("b") < 230, "train").when(col("b") < 243, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"))
  }

  /** Benchmark decontamination: flag corpus docs (doc_id >= 10) sharing any
    * 5-gram with the held-out benchmark set (doc_id < 10) — the n-gram
    * overlap check every training pipeline runs before a data release.
    * The benchmark side is tiny and broadcasts. */
  def decontaminate(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.dirtyGrams): otherwise the distinct-5-gram explode
    // + benchmark join re-runs per invocation in the gated query and all
    // five build capstones, for a relation that changes only with the
    // documents table.
    graft.operators.AnnModels.dirtyGrams(s, dir)

  /** The contamination chain itself — what AnnModels.dirtyGrams runs
    * once per corpus state. */
  private[graft] def dirtyGramsOf(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.ShingleExpressions
    val d = graft.sources.Tables.load(s, dir, "documents")
    def grams(df: DataFrame) = df
      .select(col("doc_id"), explode(array_distinct(
        ShingleExpressions.shingles(col("text"), 5))).as("g"))
    val bench = grams(d.filter(col("doc_id") < 10))
      .select(col("doc_id").as("bench_id"), col("g"))
    grams(d.filter(col("doc_id") >= 10)).as("c")
      .join(broadcast(bench), Seq("g"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_shared_grams"),
        countDistinct(col("bench_id")).as("n_bench_docs"))
  }

  /** The cross-modal curation capstone: `curate`'s text gates PLUS
    * embedding-space semantic dedup — only documents whose embedding is
    * its semantic-duplicate group's SURVIVOR (SemDeDup with the paper's
    * centroid-nearest keep rule, Dedup.semanticDedupKeep) pass. This is
    * the text+embedding composition production pipelines run (heuristic
    * gates cut noise, SemDeDup cuts semantic redundancy the text gates
    * cannot see); documents without an embedding are excluded by the
    * semi-join's inner semantics. The survivor side ships bare ids; the
    * quantizer comes from the shared persisted model. */
  def curateSemantic(s: SparkSession, dir: String): DataFrame =
    AnnModels.curateSemanticManifest(s, dir) // served like curate

  /** [[curateSemantic]] plus the CROSS-MODAL alignment gate
    * (Multimodal.textAlign — the CLIP-score keep rule of LAION/DataComp
    * curation): a document survives only if its asset's image-text
    * alignment clears the corpus's own top-half bar. The full multimodal
    * curation chain: language → quality → exact dedup → semantic dedup →
    * alignment, every stage an id-only semi-join. */
  def curateAligned(s: SparkSession, dir: String): DataFrame =
    AnnModels.curateAlignedManifest(s, dir) // served like curate

  /** CURATION FUNNEL — the per-stage retention report of the full
    * multimodal capstone chain (corpus → language → quality → exact dedup
    * → semantic dedup → alignment): one row per stage with surviving doc
    * count and retained ppm vs the corpus, each stage the CUMULATIVE
    * conjunction of the gates `pipeline_curate_aligned` composes. The
    * first question a pipeline operator asks after a run is "where did my
    * documents go?" — this is that answer as a relation, and its last
    * three rows are BY CONSTRUCTION the row counts of pipeline_curate,
    * pipeline_curate_semantic and pipeline_curate_aligned (spec-asserted),
    * so the funnel can never drift from the chain it reports on. Scale:
    * every stage is an id-only flag join (the gates' own served artifacts
    * do the heavy lifting once), folded into ONE aggregate row — the
    * report costs a scan of id-sized relations, not a re-run per stage. */
  /** The per-document cumulative gate flags of the funnel — (doc_id,
    * source, f1..f5), every gate relation attached LEFT onto the raw
    * documents spine (a missing langid/quality row gates to 0, it does
    * not shrink the base), so the stage-0 count is the raw corpus count
    * BY CONSTRUCTION — not "corpus ∩ gates total per doc", which would
    * silently shift every retained_ppm if a gate relation ever dropped
    * rows (e.g. empty-token docs). Shared by [[funnel]] (corpus rollup)
    * and [[funnelSource]] (per-feed report), so the two can never drift.
    *
    * Registry-served: f3/f4/f5 ride served artifacts, but the langid and
    * heuristic-quality flags scan corpus TEXT, and unserved they re-ran
    * on every funnel invocation — 24.1 s at ×100 for a report whose
    * output is O(sources × 6) rows. The whole flag relation is therefore
    * a per-corpus-state artifact (AnnModels.funnelFlags — the
    * ftMargins/pqCodes discipline, one layer up): five integer columns,
    * bit-identical round-trip, corpus-sized so it keeps natural
    * partitioning, and both funnel queries read it as a bare scan + one
    * aggregate. */
  private[graft] def funnelFlags(s: SparkSession, dir: String): DataFrame =
    AnnModels.funnelFlags(s, dir)

  /** The flag build — what the registry runs once per corpus state. */
  private[graft] def funnelFlagsOf(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
    val lang = TextOps.langid(s, dir)
      .select(col("doc_id"), (col("pred_lang") === "en").cast("long").as("f1"))
    val qual = TextOps.quality(s, dir)
      .select(col("doc_id"),
        (col("quality_score") >= QualityThreshold).cast("long").as("f2"))
    val ex = Dedup.exact(s, dir)
      .select(col("keep_id").as("doc_id"), lit(1L).as("f3"))
    val sem = Dedup.semanticDedupKeep(s, dir)
      .select(col("vec_id").as("doc_id"), lit(1L).as("f4"))
    val al = graft.operators.Multimodal.textAlign(s, dir)
      .filter(col("align_keep") === 1).select(col("doc_id"), lit(1L).as("f5"))
    d.join(lang, Seq("doc_id"), "left").join(qual, Seq("doc_id"), "left")
      .join(ex, Seq("doc_id"), "left").join(sem, Seq("doc_id"), "left")
      .join(al, Seq("doc_id"), "left")
      .na.fill(0L, Seq("f1", "f2", "f3", "f4", "f5"))
  }

  /** The six cumulative-conjunction stage counts over a flag relation —
    * shared by the corpus and per-source funnels. */
  private def funnelCounts(flags: DataFrame, keys: Seq[String]) =
    flags.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("c0"),
        sum(col("f1")).as("c1"),
        sum(col("f1") * col("f2")).as("c2"),
        sum(col("f1") * col("f2") * col("f3")).as("c3"),
        sum(col("f1") * col("f2") * col("f3") * col("f4")).as("c4"),
        sum(col("f1") * col("f2") * col("f3") * col("f4") * col("f5")).as("c5"))

  private val funnelStack =
    "stack(6, 0, 'corpus', c0, 1, 'lang_en', c1, 2, 'quality', c2, " +
      "3, 'exact_dedup', c3, 4, 'semantic', c4, 5, 'aligned', c5) " +
      "AS (stage, stage_name, n_docs)"

  /** Retention against the stage-0 count; NULL on an empty corpus (the
    * oracle's integer division by zero). */
  private def retainedPpm = expr("IF(c0 = 0, NULL, n_docs * 1000000 DIV c0)")

  def funnel(s: SparkSession, dir: String): DataFrame =
    funnelCounts(funnelFlags(s, dir), Seq.empty)
      .select(expr(funnelStack), col("c0"))
      .withColumn("retained_ppm", retainedPpm)
      .drop("c0")

  /** PER-SOURCE curation funnel — the funnel × source dimension, the
    * report card production feeds actually read: stage × source surviving
    * counts with retention ppm against that SOURCE's own corpus count
    * (which feed lost its documents at which gate — a corpus-wide funnel
    * hides a feed that dies at the quality bar behind a healthy average).
    * Same flag relation as [[funnel]], grouped by source, so the corpus
    * rollup of this report provably equals the corpus funnel
    * (spec-asserted: sum of n_docs per stage over sources == funnel's
    * n_docs). Scale: one aggregate over the id-sized flag relation,
    * O(sources × 6) output rows. */
  def funnelSource(s: SparkSession, dir: String): DataFrame =
    funnelCounts(funnelFlags(s, dir), Seq("source"))
      .select(col("source"), expr(funnelStack), col("c0"))
      .withColumn("retained_ppm", retainedPpm)
      .drop("c0")

  /** Near-dup slack of the source-level gate, ppm: a source may exceed
    * twice the corpus-wide near-duplicate share by up to this much before
    * it drops — absorbs small-source quantization (1 dup among 25 docs is
    * already 40000 ppm) without letting a mirror-heavy source through. */
  val SourceDupSlackPpm = 10000L

  /** SOURCE-LEVEL curation — the RefinedWeb/FineWeb discipline where whole
    * domains/feeds drop BEFORE any per-document gate runs: a source passes
    * when its Gopher keep rate holds at least HALF the corpus-wide rate
    * AND its near-duplicate share (TextOps.sourceStats, served survivor
    * labels) stays within twice the corpus-wide share plus
    * [[SourceDupSlackPpm]]. Both bars are SELF-TUNING — they move with the
    * corpus instead of hard-coding this corpus's numbers — and compare on
    * the exact integer ppm grid (corpus ppm = Σkeep*1e6 DIV Σdocs: longs
    * to 1e11 docs, no doubles in the decision). The output is every
    * document of every passing source — source curation is the stage
    * BEFORE per-document gates, so the doc-level batteries (curate,
    * curateModel, …) compose downstream rather than being baked in here.
    * Scale: the per-source relation is O(sources) and broadcasts;
    * documents flow through one broadcast semi-join — no corpus-sized
    * shuffle. */
  def curateSource(s: SparkSession, dir: String): DataFrame =
    AnnModels.curateSourceManifest(s, dir) // served like curate

  private[graft] def curateSourceOf(s: SparkSession, dir: String): DataFrame = {
    // sourceStats is itself a served |sources|-row artifact, so the two
    // consumers below are cheap re-reads — no localCheckpoint
    // needed (the candSigs precedent: artifact reads are re-read-safe).
    val st = TextOps.sourceStats(s, dir)
    val bars = st.agg(
      expr("sum(n_keep) * 1000000 DIV sum(n_docs)").as("ck_ppm"),
      expr("sum(n_neardup) * 1000000 DIV sum(n_docs)").as("cn_ppm"))
    val pass = st.crossJoin(broadcast(bars))
      .filter(col("keep_ppm") * 2 >= col("ck_ppm") &&
        col("neardup_ppm") <= col("cn_ppm") * 2 + lit(SourceDupSlackPpm))
      .select(col("source"))
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(broadcast(pass), Seq("source"), "left_semi")
      .select(col("doc_id"), col("source"))
  }

  /** FUZZY benchmark decontamination — the near-dup form `decontaminate`'s
    * exact 5-gram overlap cannot see (a paraphrased or lightly-edited
    * benchmark item shares few exact 5-grams but collides in MinHash
    * bands): the corpus matches against the benchmark set's banded LSH
    * index via the SAME engine incremental ingestion uses
    * (Dedup.incrementalLshMatch — the benchmark is just another persisted
    * index). The index side is the tiny benchmark (always broadcastable
    * at any corpus scale; census salting is a no-op on it), the corpus
    * side is scanned once. Output: per corpus doc, the count of benchmark
    * near-matches and a clean flag (is_novel = 1 means uncontaminated). */
  def decontaminateFuzzy(s: SparkSession, dir: String): DataFrame = {
    val d = graft.sources.Tables.load(s, dir, "documents")
    Dedup.incrementalLshMatch(
      d.filter(col("doc_id") >= 10),
      Dedup.lshIndexOf(d.filter(col("doc_id") < 10)))
  }

  /** Context-window packing planner (concat-and-chunk): documents are laid
    * end-to-end per source in doc_id order and cut into `CtxTokens`-token
    * context windows; the output is the chunk manifest (docs, tokens, fill
    * ratio per chunk) a sequence-packing writer would execute.
    *
    * The cumulative token position is a DISTRIBUTED two-level prefix sum —
    * the classic scan decomposition — never a `Window.partitionBy(source)`
    * over the raw doc stream (that ships EVERY row of a source to one task
    * and sorts it there: ~5 TB per window partition at 100 TB with tens of
    * sources). Level 1 windows only within (source, block) — ≤ PackBlock
    * doc_ids per partition, cache-sized by construction; level 2 prefix-sums
    * the per-block subtotals (a PackBlock-fold smaller relation) and
    * BROADCASTS the offsets back, so each row's global position is computed
    * map-side. Output values are bit-identical to the single-window form. */
  val CtxTokens = 512

  /** Docs per prefix-sum block — the TEST-corpus size (500 docs → 8
    * blocks, so the two-level decomposition is exercised, not skipped).
    * One constant for the whole pack family (`pack`, `packDelta`, `shard`,
    * `build`); the registry's `Pack` key group carries it, so editing it
    * re-keys every served pack product. The broadcast-back of level-2
    * offsets is only valid while `docs / PackBlock` rows stay
    * broadcastable: a deployment sizes it ≈ corpusDocs / 10^6 (e.g. 10^5
    * at 10^11 docs → 10^6 offset rows of 24 bytes), keeping level-1
    * windows cache-sized AND the offsets relation broadcastable by
    * construction. A third level repeats the same decomposition if a
    * source ever exceeds PackBlock^2 docs. */
  val PackBlock = 64

  /** The whitespace token-budget column. A pipeline that budgets in REAL
    * subword tokens counts with `TextOps.bpeCount(col("text"))` instead
    * (packBpe below, through [[docTokensWith]]) — the counter is a per-row
    * expression either way, so the distributed prefix-sum shape is
    * untouched. */
  private[graft] def wsTokenCount: Column =
    size(graft.functions.wsTokens(col("text"))).cast("long")

  /** The corpus (source, doc_id, n_tok) spine read from the served
    * heuristic-quality relation: `AnnModels.qualityScores.n_tokens` is
    * the SAME `size(split(text,' '))` expression the pack family budgets
    * in, and the artifact carries `source` (one row per document by
    * construction of TextOps.qualityOf — coverage is the artifact's
    * contract), so the spine is ONE id-sized artifact scan: no documents
    * scan, no doc_id join, no Exchange before the pack family's own
    * (source, blk) shuffle — packFfd keeps its one-shuffle plan
    * contract. */
  private[graft] def docTokens(s: SparkSession, dir: String): DataFrame =
    graft.operators.AnnModels.qualityScores(s, dir)
      .select(col("source"), col("doc_id"), col("n_tokens").cast("long").as("n_tok"))

  def pack(s: SparkSession, dir: String): DataFrame =
    packOf(docTokens(s, dir))

  /** The (source, doc_id, n_tok) spine under an ARBITRARY per-row token
    * counter — the build behind the served subword-budget spines
    * (AnnModels.bpeDocTokens and its two trained-table siblings). */
  private[graft] def docTokensWith(s: SparkSession, dir: String, tc: Column): DataFrame =
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), tc.as("n_tok"))

  /** The two-level packing planner over ANY (source, doc_id, n_tok)
    * relation — `pack` feeds it the whole corpus, `build` the curated
    * survivor set. */
  private[graft] def packOf(rel: DataFrame,
      baseOff: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // ONE pass for the token counter: base feeds BOTH the block-local
    // cumsum and the block-subtotal offsets, and without a materialization
    // the scan and the counter expression run twice (probed: 2 parquet
    // scans, 2 BpeCountExpr nodes in packBpe's optimized plan). Trivial
    // for whitespace counts; for the BPE/trained budgets — a full
    // merge-table replay per document — and for build's curated input —
    // the whole gate chain — the second pass is the real cost at scale.
    // The checkpoint rows are (source, doc_id, n_tok, blk): tiny.
    val base = rel.withColumn("blk", expr(s"doc_id DIV $PackBlock"))
      .localCheckpoint()
    // Level 1: running sum inside each (source, block) — bounded partitions.
    val wLocal = Window.partitionBy(col("source"), col("blk")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val local = base.withColumn("lcum", sum(col("n_tok")).over(wLocal))
    // Level 2: per-block subtotals (map-side partial agg), then the prefix
    // of PRIOR blocks per source — a window over the tiny block relation.
    val wOff = Window.partitionBy(col("source")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col("source"), col("blk"))
      .agg(sum(col("n_tok")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(wOff), lit(0L)))
      .select(col("source"), col("blk"), col("off"))
    // packDelta's continuation offsets: one (source, base_off) row per
    // source — the already-packed corpus's token totals — broadcast like
    // the level-2 offsets; absent sources start at 0 (a brand-new source)
    val based = baseOff.fold(local) { b =>
      local.join(broadcast(b), Seq("source"), "left")
        .withColumn("lcum", col("lcum") + coalesce(col("base_off"), lit(0L)))
        .drop("base_off")
    }
    based.join(broadcast(offsets), Seq("source", "blk"))
      .withColumn("cum", col("lcum") + col("off"))
      // chunk = which context window this doc STARTS in (integer division —
      // exact, engine-portable; docs can straddle a boundary by design in
      // the concat-and-chunk model)
      .withColumn("chunk_id", expr(s"(cum - n_tok) DIV $CtxTokens"))
      .groupBy("source", "chunk_id")
      // floor(x*1e6+0.5), not round(): house rule for rounding double
      // ratios (engine round() diverges on half-way points; k/512 provably
      // can't hit one, but uniformity costs nothing)
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"),
        (floor(sum(col("n_tok")) / lit(CtxTokens.toDouble) * 1e6 + 0.5) / 1e6).as("fill_ratio"))
  }

  /** `pack` with the REAL greedy-merge BPE token budget (TextOps.bpeCount)
    * instead of the whitespace proxy — chunk boundaries then reflect what
    * a sequence-packing writer would actually fit into a context window.
    * Same two-level prefix-sum plan; only the per-row counter changes. */
  def packBpe(s: SparkSession, dir: String): DataFrame =
    // the per-doc BPE token budget is served (AnnModels.bpeDocTokens): the
    // merge-table replay over every document would otherwise re-run per
    // pack invocation for a relation that changes only with the corpus and
    // the merge table; the pack planner reads the id-sized spine.
    packOf(graft.operators.AnnModels.bpeDocTokens(s, dir))

  /** Docs per id-window shard of the FFD packer. Wider than PackBlock on
    * purpose: FFD bins are SHARD-LOCAL (unlike `pack`'s chunks, which
    * cross block boundaries via the prefix sum), so the shard must hold
    * enough documents to fill bins — at ~60-token docs and 512-token bins,
    * a 64-id window leaves every bin a third full. 512 ids bounds the
    * fold state (loads list + bin list) at 512 entries: still cache-sized,
    * and at deployment one shard ≈ one packing writer task. */
  val FfdBlock = 512

  /** ATOMIC-document packing — first-fit-decreasing bin packing into
    * `CtxTokens`-token context windows, the packing mode that never splits
    * a document across windows (`pack`'s concat-and-chunk model truncates
    * at every boundary; removing those mid-document cuts is the reason
    * packers pay the padding). Per (source, id-window) shard: documents
    * sort by token count descending (FFD's 11/9·OPT guarantee needs the
    * decreasing order), then each drops into the FIRST bin it fits;
    * documents longer than a window get a bin of their own, flagged
    * `oversize` (a writer truncates or segments those explicitly rather
    * than silently). Output is the bin manifest: docs, tokens, padding
    * (the waste audit `pack` cannot produce — its chunks are full by
    * construction), oversize flag.
    *
    * Scale: bins never span shards, so the whole fold is a per-group
    * Catalyst `aggregate` HOF over a collect_list bounded by [[FfdBlock]]
    * — one bounded-group shuffle, no window over the raw corpus, no
    * driver loop; shards pack embarrassingly parallel exactly like the
    * writer tasks they model. The fold state is (bin loads, assignment)
    * lists ≤ FfdBlock entries; everything downstream is id-sized. */
  def packFfd(s: SparkSession, dir: String): DataFrame =
    // the bin rollup groups on (source, blk, bin) — a superset of the
    // fold's (source, blk) shuffle keys, so Catalyst reuses the one
    // exchange (grouping on the derived bin_id would force a second one:
    // the partitioner can't prove bin_id determines blk) — and projects
    // the stable bin_id afterwards
    ffdAssign(s, dir)
      .groupBy(col("source"), col("blk"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens"))
      .select(col("source"),
        (col("blk") * FfdBlock + col("bin") - 1).as("bin_id"),
        col("n_docs"), col("n_tokens"),
        greatest(lit(CtxTokens.toLong) - col("n_tokens"), lit(0L)).as("padding"),
        (col("n_tokens") > CtxTokens).cast("int").as("oversize"))

  /** The FFD DOC-level assignment — (source, doc_id, n_tok, bin_id,
    * oversize): the fold itself, stopped one aggregate before the
    * manifest. [[packFfd]] aggregates this relation and [[writeFfdPack]]
    * materializes it, so the written layout can never drift from the
    * gated report. A bin is oversize only when a single document exceeds
    * the context (FFD opens a fresh bin for a doc that fits nowhere, and
    * an over-context doc fits nowhere), so the per-doc flag IS the bin
    * flag. bin_id = blk·FfdBlock + bin − 1: bin-per-shard count is
    * bounded by docs-per-shard, so the id is unique per source and
    * stable across re-partitions. */
  private[graft] def ffdAssign(s: SparkSession, dir: String): DataFrame = {
    val base = docTokens(s, dir)
      .withColumn("blk", expr(s"doc_id DIV $FfdBlock"))
    // First bin (1-based) the current doc fits into; 0 = none. Evaluated
    // per step over the ≤FfdBlock-long loads list — the whole FFD is
    // O(docs·bins) comparisons inside one codegen'd expression.
    val pos = s"array_position(transform(st.loads, l -> l + x.tok <= $CtxTokens), true)"
    val zero = "named_struct('loads', cast(array() as array<bigint>), " +
      "'bins', cast(array() as array<int>))"
    val step =
      s"""(st, x) -> named_struct(
         |  'loads', CASE WHEN $pos = 0 THEN concat(st.loads, array(x.tok))
         |    ELSE transform(st.loads, (l, i) -> IF(i = cast($pos as int) - 1, l + x.tok, l)) END,
         |  'bins', concat(st.bins, array(CASE WHEN $pos = 0
         |    THEN cast(size(st.loads) + 1 as int) ELSE cast($pos as int) END)))""".stripMargin
    base
      .groupBy(col("source"), col("blk"))
      // ascending (negtok, doc_id) = FFD's (n_tok desc, doc_id asc) order
      .agg(sort_array(collect_list(struct((-col("n_tok")).as("negtok"),
        col("doc_id").as("doc_id"), col("n_tok").as("tok")))).as("sorted"))
      .withColumn("bins", expr(s"aggregate(sorted, $zero, $step).bins"))
      .select(col("source"), col("blk"), col("sorted"),
        posexplode(col("bins")).as(Seq("i", "bin")))
      .select(col("source"), col("blk"), col("bin"),
        expr("element_at(sorted, cast(i + 1 as int)).doc_id").as("doc_id"),
        expr("element_at(sorted, cast(i + 1 as int)).tok").as("n_tok"),
        (col("blk") * FfdBlock + col("bin") - 1).as("bin_id"))
      .withColumn("oversize", (col("n_tok") > CtxTokens).cast("int"))
  }

  /** WRITER-side execution of the FFD manifest (§2E):
    * materialize the packed corpus as one output group per bin —
    * `dst/source=…/oversize=…/bin_id=…/` each holding EXACTLY ONE file
    * (the training-shard layout a sequence-packing run hands the loader),
    * with over-context bins partitioned out under oversize=1 so readers
    * route them to the chunking path instead of padding them. The
    * doc→bin relation is [[ffdAssign]] — the SAME fold as the gated
    * manifest, so the written layout can never drift from what
    * `pipeline_pack_ffd` reports (spec: per-bin file counts, round-trip,
    * manifest parity). Scale: one hash repartition on (source, bin_id)
    * co-locates each bin in one task — every bin writes one file, a task
    * writes many bins; no global sort, no driver-side loop. */
  def writeFfdPack(s: SparkSession, dir: String, dst: String): Unit = {
    val asg = ffdAssign(s, dir)
      .select(col("doc_id"), col("bin_id"), col("oversize"))
    graft.sources.Tables.load(s, dir, "documents")
      .join(asg, Seq("doc_id"))
      .repartition(col("source"), col("bin_id"))
      .sortWithinPartitions(col("bin_id"), col("doc_id"))
      .write.partitionBy("source", "oversize", "bin_id")
      .mode("overwrite").parquet(dst)
  }

  /** `pack` with the TRAINED tokenizer's budget — the full deployment loop
    * closed: train (`text_bpe_train`) → persist (AnnModels.bpeMergeTable)
    * → count with the SAME table through the native expression → plan
    * chunk boundaries. The oracle replays train + word-merge + count with
    * zero shared constants (the `text_bpe_trained_ids` backbone feeding
    * the pack cumsum). Same two-level prefix-sum plan as every pack. */
  def packTrained(s: SparkSession, dir: String): DataFrame =
    packOf(graft.operators.AnnModels.trainedDocTokens(s, dir)) // served, see packBpe

  /** [[packTrained]] at PRODUCTION merge count: the pack budget from the
    * registry-persisted 256-rule batched-trainer table — with the k=8
    * chain this completes the replacement of the toy table in every
    * trained-tokenizer consumer. Same one-scan pack; only the rank map
    * inside the single BpeCountExpr node grows. */
  def packTrainedBig(s: SparkSession, dir: String): DataFrame =
    packOf(graft.operators.AnnModels.trainedDocTokensBig(s, dir)) // served, see packBpe

  /** Output shard fan-out for the balanced-shard writer. */
  val NumShards = 16

  /** Balanced output sharding: within each source, documents are ranked by
    * (n_tok DESC, doc_id) and dealt round-robin into `NumShards` shards —
    * the classic LPT-flavored layout that keeps shard token totals within
    * one max-document of each other, so downstream training readers stream
    * equal-sized shards instead of whatever skew the corpus arrived with.
    * Output is the shard manifest (docs / tokens / extremes per shard).
    *
    * The rank is DISTRIBUTED, never a raw `row_number() OVER (PARTITION BY
    * source)` (one task would sort a whole source — the pipeline_pack
    * hazard). rank = strictly-larger-size count + within-size two-level
    * running count:
    *  level 0 — per-(source, n_tok) size histogram, windowed per source over
    *    <= |distinct sizes| rows for the cumulative larger-size offset;
    *  level 1 — row_number only within (source, n_tok, doc_id-block) — <=
    *    `PackBlock` rows per window partition by construction (blocks are
    *    global doc_id ranges, so a subgroup's block can only be smaller);
    *  level 2 — per-block subtotals windowed per (source, n_tok), a
    *    relation no larger than the histogram and PackBlock-fold smaller
    *    than any group that actually needs splitting.
    * The two offset relations combine on (source, n_tok) and join back on
    * (source, n_tok, blk) — the level-1 window's OWN partitioning, so the
    * planner reuses that exchange; nothing here is force-broadcast (unlike
    * pack's corpus/PackBlock offsets, these aggregates scale with distinct
    * sizes and can exceed any driver bound on diverse corpora). All three
    * window inputs are aggregates or bounded blocks; the raw doc stream is
    * never window-partitioned by (source) or (source, n_tok) alone
    * (plan-asserted). */
  def shard(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.wsTokens
    val base = graft.sources.Tables.load(s, dir, "documents")
      .select(col("source"), col("doc_id"), size(wsTokens(col("text"))).cast("long").as("n_tok"))
      .withColumn("blk", expr(s"doc_id DIV $PackBlock"))
    // Level 0: docs with a strictly larger n_tok in the same source rank
    // first — a cumulative count over the per-source SIZE HISTOGRAM.
    val wSize = Window.partitionBy(col("source")).orderBy(col("n_tok").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sizeOff = base.groupBy(col("source"), col("n_tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("soff", coalesce(sum(col("cnt")).over(wSize), lit(0L)))
      .select(col("source"), col("n_tok"), col("soff"))
    // Levels 1+2: running count by doc_id inside (source, n_tok), decomposed
    // into bounded blocks exactly like pack's prefix sum.
    val wLocal = Window.partitionBy(col("source"), col("n_tok"), col("blk")).orderBy(col("doc_id"))
    val wBlk = Window.partitionBy(col("source"), col("n_tok")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val blkOff = base.groupBy(col("source"), col("n_tok"), col("blk"))
      .agg(count(lit(1)).as("bcnt"))
      .withColumn("boff", coalesce(sum(col("bcnt")).over(wBlk), lit(0L)))
      .select(col("source"), col("n_tok"), col("blk"), col("boff"))
    val offsets = blkOff.join(sizeOff, Seq("source", "n_tok"))
      .select(col("source"), col("n_tok"), col("blk"), (col("soff") + col("boff")).as("off"))
    base
      .withColumn("lrn", row_number().over(wLocal).cast("long"))
      .join(offsets, Seq("source", "n_tok", "blk"))
      .withColumn("shard", pmod(col("off") + col("lrn") - 1, lit(NumShards.toLong)))
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
        max(col("n_tok")).as("max_tokens"), min(col("n_tok")).as("min_tokens"))
  }

  /** Temperature-scaled mixture planning (the multilingual/domain
    * re-balancing rule of mC4 / XLM-R: sampling probability p_s ∝ n_s^α
    * with α = 1/2, flattening the head so low-resource sources are not
    * drowned), composed with The-Pile-style integer EPOCH factors: each
    * source's target document count under the tempered distribution, and
    * the repeat factor ceil(target/n) a mixture writer would apply.
    *
    * Float discipline: the ONLY non-integer step is one IEEE-754 sqrt per
    * source (correctly rounded by spec, so every engine produces the
    * identical double), immediately quantized to the 1e6 grid; shares,
    * targets and epochs are pure integer arithmetic from there —
    * half-rounding included — so any engine replays them bit for bit.
    * Long-overflow-safe by construction to 10^12 total docs (w <= 1e12 →
    * w*1e6 <= 1e18; share6 <= 1e6 → tn*share6 <= 1e18 — both < 2^63).
    *
    * Scale: one map-side-combined groupBy over the corpus; everything after
    * runs on the |sources|-row relation with the two totals broadcast as a
    * 1-row aggregate (the tfidf pattern) — nothing driver-side. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame =
    mixTemperatureOf(graft.sources.Tables.load(s, dir, "documents")
      .groupBy("source").agg(count(lit(1)).as("n_docs")))

  /** The planner over any (source, n_docs) census — extracted so the spec
    * can assert the flattening/epoch properties on a SKEWED synthetic
    * census (the shipped corpus has uniform sources, where tempering is
    * correctly a no-op). */
  private[graft] def mixTemperatureOf(counts: DataFrame): DataFrame = {
    val ww = counts.withColumn("w",
      floor(sqrt(col("n_docs").cast("double")) * 1e6 + 0.5).cast("long"))
    val tot = ww.agg(sum(col("w")).as("tw"), sum(col("n_docs")).as("tn"))
    ww.crossJoin(broadcast(tot))
      .withColumn("share6", expr("(w * 1000000 + tw DIV 2) DIV tw"))
      .withColumn("target_docs", expr("(tn * share6 + 500000) DIV 1000000"))
      .withColumn("epochs", expr("(target_docs + n_docs - 1) DIV n_docs"))
      .select(col("source"), col("n_docs"), col("share6"),
        col("target_docs"), col("epochs"))
  }

  /** The writer-side execution of [[mixTemperature]]'s plan: every document
    * emits `target DIV n` full copies plus one extra copy for a
    * deterministically-hash-selected ~(target MOD n)/n fraction — the
    * fractional-epoch layout mixture writers actually materialize (a
    * 2.3-epoch source is 2 full passes plus a fixed 30% subset, not a
    * per-epoch re-roll). Selection is RNG-free: a doc takes the extra copy
    * iff bucket·n < rem·65536 with bucket = 16 md5 bits — pure integer
    * cross-multiplication, no division, replayable by any engine; the
    * SAME subset is selected at every re-run/repartition. Output is the
    * per-source emission audit (docs, target, full epochs, emitted).
    *
    * Scale: the |sources|-row plan broadcasts; the corpus is touched in
    * one map-side pass and the audit is one map-side-combined aggregate.
    * Overflow-safe with the plan's own bound: bucket·n <= 65535·1e12 < 2^63. */
  def mixManifest(s: SparkSession, dir: String): DataFrame = {
    val plan = mixTemperature(s, dir)
      .select(col("source"), col("n_docs"), col("target_docs"),
        expr("target_docs DIV n_docs").as("full_epochs"),
        expr("target_docs % n_docs").as("rem"))
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"),
      lit(":"), col("source"), lit(":mix")).cast("binary")), 1, 4), 16, 10).cast("long")
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"))
      .join(broadcast(plan), Seq("source"))
      .withColumn("copies", col("full_epochs") +
        when(bucket * col("n_docs") < col("rem") * 65536L, 1L).otherwise(0L))
      .groupBy("source", "n_docs", "target_docs", "full_epochs")
      .agg(sum(col("copies")).as("n_emitted"))
      .select(col("source"), col("n_docs"), col("target_docs"),
        col("full_epochs"), col("n_emitted"))
  }

  /** Training-budget multiple for [[tokenBudget]]: the run plans
    * `BudgetEpochs` × the corpus's total tokens — a multi-epoch budget, so
    * the planner's epochs6 column exercises both the >1-pass (upsampled
    * low-resource sources) and <1-pass (downsampled head) regimes. */
  val BudgetEpochs = 3

  /** TOKEN-space training-budget planner — [[mixTemperature]]'s tempered
    * mixture recomputed over per-source TOKEN counts against an explicit
    * training token budget (the data-budget table a Gopher/LLaMA-style run
    * plans from): per source, its token total, tempered share
    * (α = 1/2 in token space), the budget slice it receives, and the
    * fixed-point epochs6 = millionths of a pass over the source that slice
    * implies (epochs6 > 1e6 → the loader repeats the source; < 1e6 → it
    * subsamples).
    *
    * Float discipline: one correctly-rounded IEEE sqrt per source,
    * quantized to the 1e6 grid; everything after is integer arithmetic —
    * the budget·share6 and target·1e6 products run through an exact
    * quotient/remainder decomposition ((q·1e6+r)·x DIV 1e6 = q·x +
    * r·x DIV 1e6 with half-rounding on the remainder term) so they never
    * overflow 2^63 below ~9·10^12 tokens PER SOURCE (≈36 TB of text in one
    * source) — documented bound, same style as mixTemperature's 10^12-doc
    * bound. Scale: one map-side-combined groupBy over the corpus; the rest
    * runs on the |sources|-row relation with the totals broadcast. */
  def tokenBudget(s: SparkSession, dir: String): DataFrame = {
    // the per-source totals are exactly the served tokenTotals
    // artifact (the one counter the pack family budgets in) — a |sources|-
    // row parquet read replaces the corpus scan + groupBy, and re-reading
    // it on both sides of the crossJoin costs nothing (no checkpoint job).
    val tc = graft.operators.AnnModels.tokenTotals(s, dir)
      .select(col("source"), col("base_off").as("n_toks"))
    val ww = tc.withColumn("w",
      floor(sqrt(col("n_toks").cast("double")) * 1e6 + 0.5).cast("long"))
    val tot = ww.agg(sum(col("w")).as("tw"), sum(col("n_toks")).as("tot"))
    ww.crossJoin(broadcast(tot))
      .withColumn("share6", expr("(w * 1000000 + tw DIV 2) DIV greatest(tw, 1)"))
      .withColumn("budget", expr(s"$BudgetEpochs * tot"))
      .withColumn("target_toks", expr(
        "(budget DIV 1000000) * share6 + ((budget % 1000000) * share6 + 500000) DIV 1000000"))
      .withColumn("epochs6", expr(
        "(target_toks DIV greatest(n_toks, 1)) * 1000000 + " +
          "((target_toks % greatest(n_toks, 1)) * 1000000 + n_toks DIV 2) DIV greatest(n_toks, 1)"))
      .select(col("source"), col("n_toks"), col("share6"),
        col("target_toks"), col("epochs6"))
  }

  /** INCREMENTAL (delta) packing — the nightly continuation of
    * [[pack]]'s manifest: documents with doc_id ≥ the split point (the
    * corpus's top doc_id fifth — standing in for "tonight's appends"; the
    * concat-and-chunk layout is append-only by construction, so new docs
    * can only extend each source's token stream) are chunked WITHOUT
    * re-running the cumsum over the already-packed corpus. The old corpus
    * contributes exactly ONE aggregated row per source (its token total —
    * a map-side-combined sum, the level-2 offset pattern one level up);
    * the two-level prefix sum runs over the delta only. Chunk ids are
    * bit-identical to the full pack's for every delta doc (spec + oracle:
    * the oracle replays the full cumsum and filters), so a nightly
    * deployment's manifest converges to the from-scratch one while paying
    * O(delta + sources), not O(corpus), per night. */
  def packDelta(s: SparkSession, dir: String): DataFrame = {
    // one id-sized pass (n_tok rides the served artifact join, no
    // text scan at all): the compact (source, doc_id, n_tok) relation
    // feeds the split point, the per-source base totals AND the delta
    // cumsum
    val d = docTokens(s, dir).localCheckpoint()
    val sp = d.agg(expr("(max(doc_id) * 4) DIV 5").as("sp"))
    val withSp = d.crossJoin(broadcast(sp))
    val baseOff = withSp.filter(col("doc_id") < col("sp"))
      .groupBy("source").agg(sum(col("n_tok")).as("base_off"))
    val delta = withSp.filter(col("doc_id") >= col("sp"))
      .select(col("source"), col("doc_id"), col("n_tok"))
    packOf(delta, Some(baseOff))
  }

  /** Domain-mixture sampling: each source gets a deterministic keep-rate
    * (derived from its numeric suffix — standing in for the tuned domain
    * weights a real mixture config supplies) and each doc keeps or drops by
    * md5 hash — RNG-free, re-run/repartition stable, any engine replays it.
    * Output is the per-source mixture audit (total vs kept vs rate). */
  def sampleWeighted(s: SparkSession, dir: String): DataFrame = {
    val rate = lit(20) + lit(3) * (substring(col("source"), 4, 10).cast("int") % 7)
    val bucket = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("source"))
      .cast("binary")), 1, 4), 16, 10).cast("long") % 100
    graft.sources.Tables.load(s, dir, "documents")
      .select(col("source"), rate.as("rate"), when(bucket < rate, 1L).otherwise(0L).as("kept"))
      .groupBy("source", "rate")
      .agg(count(lit(1)).as("n_total"), sum(col("kept")).as("n_kept"))
  }

  /** Per-semantic-cluster sample cap. 500 test vectors over 8 clusters
    * average ~62 members, so 20 genuinely discriminates; a deployment
    * sizes this as target_corpus / n_clusters. */
  val StratifiedCap = 20

  /** Cluster-stratified diversity sample: at most [[StratifiedCap]]
    * embeddings per learned semantic cluster, members chosen by
    * deterministic md5 rank — the cluster-balanced selection step of
    * pruning pipelines (Sorscher et al. 2022 prune within clusters;
    * DeepCore-style coreset builds stratify across them): dense clusters
    * stop dominating the training mix while every cluster keeps
    * representation, and the md5 order makes the draw uniform-at-random
    * yet reproducible. Clusters come from the persisted ANN model
    * (AnnModels — no retraining here), and the per-cluster selection runs
    * through the TopKPerKey bounded-heap plan: each task keeps at most
    * `cap` rows per cluster and the shuffle carries only those survivors —
    * never a `row_number() OVER (PARTITION BY cent_id)` window, whose
    * sort would buffer the densest cluster on one task at corpus scale. */
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    // narrow consumer: the SERVED assignment (no embedding column needed)
    val ranked = AnnModels.ivfAssign(s, dir).select(col("vec_id"), col("cent_id"),
      graft.functions.hash52(col("vec_id")).as("rk"))
    graft.plans.TopKPerKey.topKPerKey(
        ranked, Seq("cent_id"), Seq(col("rk").asc, col("vec_id").asc), StratifiedCap)
      .select(col("cent_id"), col("vec_id"))
  }

  /** Sqrt-temperature coefficient for [[sampleCluster]]: quota_c =
    * ceil(TempCoeff · sqrt(n_c)). On the test embeddings (8 clusters
    * averaging ~62 members) quotas land ~17-45 — genuinely between
    * "cap at 20" and "keep all", so the flattening discriminates. */
  val TempCoeff = 4

  /** TEMPERATURE-flattened cluster sampling — the density-proportional
    * variant of [[sampleStratified]] (the cluster-balanced curation
    * recipe: hierarchical k-means then flattened draws across clusters,
    * Vo et al. 2024 "Automatic Data Curation for Self-Supervised
    * Learning"; fixed caps over-prune mid-size clusters while sqrt
    * flattening keeps per-cluster counts growing — just sublinearly, so
    * dense clusters still stop dominating): per cluster keep the first
    * ceil([[TempCoeff]]·sqrt(n_c)) members in deterministic md5-hash
    * order. ONE IEEE sqrt per cluster then integer arithmetic (the
    * mix_temperature float discipline — sqrt of an exact integer is
    * correctly rounded and engine-portable, and ceil is exact).
    *
    * Scale contract: quotas vary per cluster, so a single TopKPerKey
    * cannot express the cut — instead the bounded-heap plan caps every
    * cluster at the GLOBAL max quota (a <= |clusters|-row census scalar,
    * driver-read like the census thresholds), and the exact per-cluster
    * rank then runs as a window over the CAPPED relation — partitions of
    * at most maxQuota rows, never a corpus-sized window buffer. */
  def sampleCluster(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Narrow consumer of the SERVED assignment. Still materialized once:
    // the quota census, the heap draw and the max-quota scalar all consume
    // it, and uncached each would re-scan the artifact.
    val ranked = AnnModels.ivfAssign(s, dir)
      .select(col("vec_id"), col("cent_id"),
        graft.functions.hash52(col("vec_id")).as("rk"))
      .localCheckpoint()
    val quota = ranked.groupBy("cent_id").agg(count(lit(1)).as("bn"))
      .select(col("cent_id"),
        ceil(lit(TempCoeff) * sqrt(col("bn").cast("double"))).cast("long").as("q"))
      .localCheckpoint()
    // model-sized scalar (<= |clusters| rows) — sizes the heap cap so no
    // cluster's quota is ever silently truncated; NULL max = empty
    // dataset, where any positive cap yields the correct empty result
    val maxQRow = quota.agg(max(col("q"))).collect().head
    val maxQ = if (maxQRow.isNullAt(0)) 1 else maxQRow.getLong(0).toInt
    val capped = graft.plans.TopKPerKey.topKPerKey(
      ranked, Seq("cent_id"), Seq(col("rk").asc, col("vec_id").asc), maxQ)
    capped
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("cent_id")).orderBy(col("rk"), col("vec_id"))))
      .join(broadcast(quota), Seq("cent_id"))
      .filter(col("rn") <= col("q"))
      .select(col("cent_id"), col("vec_id"))
  }

  /** Hash block width for the shuffle rank: top 24 bits of the 64-bit key
    * (2^40 per block) — ~16M ordered blocks, so the offset histogram stays
    * far smaller than the corpus while each block holds a bounded,
    * uniform slice (md5 uniformity: no planner samples, no skew). */
  val ShuffleBlock: Long = 1L << 40

  /** Reproducible global SHUFFLE — the training-order permutation every
    * pipeline applies before sharding/packing (sequential corpus order
    * correlates adjacent examples; SGD wants them scattered): every doc
    * gets a dense position 0..n-1 in md5-hash order, deterministic across
    * re-runs, engines and partitionings — no RNG, no seed file.
    *
    * The rank is DISTRIBUTED, the same two-level recipe as
    * `pipeline_shard`: never a global `row_number() OVER (ORDER BY hash)`
    * (one task would sort the corpus) and never a sampled
    * `repartitionByRange` (range bounds come from a sampling job —
    * deterministic only per plan, and a second data pass). The 64-bit key
    * truncation-divides into [[ShuffleBlock]] blocks — trunc-division is
    * monotone, so block order refines key order and blocks are uniform by
    * md5 construction; level 1 cumulates block counts over the block
    * HISTOGRAM, level 2 ranks within a block (bounded, uniform window
    * partitions), and the offset join lands on the window's own
    * partitioning. Ties (64-bit collisions) break on doc_id inside the
    * colliding block — a collision cannot straddle blocks. */
  def shuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), graft.functions.hash64(col("doc_id")).as("h"))
      .withColumn("blk", expr(s"h DIV $ShuffleBlock"))
    // block offsets via the partitioned superblock hierarchy, not an
    // unpartitioned Window.orderBy(blk) cumsum, which runs the whole
    // census through one task
    val offs = Analytics.blockOffsets(
      d.groupBy("blk").agg(count(lit(1)).as("cnt")))
    val wLocal = Window.partitionBy(col("blk")).orderBy(col("h"), col("doc_id"))
    d.withColumn("lrn", row_number().over(wLocal).cast("long"))
      .join(offs, Seq("blk"))
      .select(col("doc_id"), (col("off") + col("lrn") - 1).as("shuffle_pos"))
  }

  /** Curriculum ordering — easy→hard training order (Bengio et al. 2009's
    * curriculum learning applied the CCNet way): the perplexity tertile is
    * the difficulty signal (head = most fluent under the corpus LM),
    * documents stream head → middle → tail, and WITHIN a tier the order is
    * the deterministic md5 permutation so adjacent examples stay
    * decorrelated. Implementation is [[shuffle]]'s two-level rank with the
    * tier prepended to the sort key: blocks refine (tier, hash) order, the
    * offset window runs over the (tier, block) histogram — never a global
    * sort, never a corpus-sized window partition. */
  def curriculum(s: SparkSession, dir: String): DataFrame =
    AnnModels.curriculumOrder(s, dir) // a persisted loader order

  private[graft] def curriculumOf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tier = when(col("ppl_bucket") === "head", 0)
      .when(col("ppl_bucket") === "middle", 1).otherwise(2)
    // the tiered key relation feeds the (tier, blk) histogram AND the
    // local rank — one materialization, not two bucket-chain evaluations
    val d = TextOps.perplexityBucket(s, dir)
      .select(col("doc_id"), col("ppl_bucket"), tier.as("tier"),
        graft.functions.hash64(col("doc_id")).as("h"))
      .withColumn("blk", expr(s"h DIV $ShuffleBlock"))
      .localCheckpoint()
    // the (tier, blk) histogram offsets run through the partitioned
    // superblock hierarchy (Analytics.blockOffsets), not an unpartitioned
    // (one-task) Window.orderBy(tier, blk) cumsum. The combined key
    // tier·2²⁵ + blk is strictly lexicographic: |blk| = |h DIV 2⁴⁰| ≤ 2²³,
    // so tier bands (stride 2²⁵) can never overlap.
    val cblk = col("tier").cast("long") * lit(1L << 25) + col("blk")
    val offs = Analytics.blockOffsets(
        d.select(cblk.as("blk")).groupBy("blk").agg(count(lit(1)).as("cnt")))
      .select(col("blk").as("cblk"), col("off"))
    val wLocal = Window.partitionBy(col("tier"), col("blk"))
      .orderBy(col("h"), col("doc_id"))
    d.withColumn("lrn", row_number().over(wLocal).cast("long"))
      .withColumn("cblk", cblk)
      .join(offs, Seq("cblk"))
      .select(col("doc_id"), col("ppl_bucket"),
        (col("off") + col("lrn") - 1).as("curriculum_pos"))
  }

  /** Mixture-interleaved GLOBAL ORDER — the data-loader stream that
    * REALIZES the tempered mixture plan: source s's documents appear with
    * density ∝ share6 (mixTemperature's n^0.5 tempered share), evenly
    * spread rather than block-concatenated, each source internally in the
    * deterministic md5 permutation. The classic deterministic interleave:
    * in-source rank r takes priority key (r+1)·1e9 DIV max(share6, 1)
    * (pure integer — strictly increasing within a source, overflow-safe
    * past 9e9 docs/source; the max(·,1) clamp keeps a source whose
    * tempered share rounds below 0.5 ppm from dividing by zero — it
    * degrades to share 1e-6 instead of NULL keys), the global order
    * sorts (key, source, r). Both
    * ranks are the two-level recipe: in-source rank partitions its
    * windows by (source, block); the global rank blocks the KEY domain
    * (monotone truncation-division again) — no global sort, no
    * corpus-sized window anywhere. */
  def interleave(s: SparkSession, dir: String): DataFrame =
    AnnModels.interleaveOrder(s, dir) // a persisted loader order

  private[graft] def interleaveOf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.sources.Tables.load(s, dir, "documents")
      .select(col("doc_id"), col("source"), graft.functions.hash64(col("doc_id")).as("h"))
      .withColumn("blk", expr(s"h DIV $ShuffleBlock"))
    val wSrcBlk = Window.partitionBy(col("source")).orderBy(col("blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offs = d.groupBy("source", "blk").agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(wSrcBlk), lit(0L)))
      .select(col("source"), col("blk"), col("off"))
    val wLocal = Window.partitionBy(col("source"), col("blk")).orderBy(col("h"), col("doc_id"))
    val ranked = d.withColumn("lrn", row_number().over(wLocal).cast("long"))
      .join(offs, Seq("source", "blk"))
      .select(col("doc_id"), col("source"), (col("off") + col("lrn") - 1).as("r"))
    val shares = mixTemperature(s, dir).select(col("source"), col("share6"))
    val keyed = ranked.join(broadcast(shares), Seq("source"))
      .withColumn("key", expr("((r + 1) * 1000000000) DIV greatest(share6, 1)"))
    keyBlockPos(keyed, Seq(col("source"), col("r")), "interleave_pos")
      .select(col("doc_id"), col("source"), col("r"), col("interleave_pos"))
  }

  /** The priority-key global rank shared by [[interleave]] and
    * [[buildOrdered]]: a dense 0-based position ordered by
    * (key, ties...) with NO global sort. The key domain truncation-divides
    * into 1e9-wide blocks (monotone, so block order refines key order and
    * — keys being (r+1)·1e9 DIV share6 — a block holds at most
    * Σ_sources share6 ≤ |sources|·1e6 rows, bounded at any corpus size);
    * level 1 cumulates the block HISTOGRAM (aggregated rows, one per
    * non-empty block), level 2 ranks within a block on the window's own
    * partitioning. Input must carry a long `key` column; internals
    * (kblk/lrn/off) are dropped on the way out. */
  private[graft] def keyBlockPos(df: DataFrame, ties: Seq[Column],
      posName: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keyed = df.withColumn("kblk", expr("key DIV 1000000000"))
    // block offsets via Analytics.blockOffsets — the
    // partitioned superblock hierarchy — instead of an unpartitioned
    // Window.orderBy(kblk) cumsum over a census that grows with the corpus
    val offs = Analytics.blockOffsets(
        keyed.select(col("kblk").as("blk")).groupBy("blk").agg(count(lit(1)).as("cnt")))
      .select(col("blk").as("kblk"), col("off"))
    val wKey = Window.partitionBy(col("kblk")).orderBy(col("key") +: ties: _*)
    keyed.withColumn("lrn", row_number().over(wKey).cast("long"))
      .join(offs, Seq("kblk"))
      .withColumn(posName, col("off") + col("lrn") - 1)
      .drop("kblk", "lrn", "off")
  }

  /** The END-TO-END dataset build — every curation stage composed into the
    * single manifest a training run consumes, the query this library
    * exists to serve:
    *
    *   documents (minus the benchmark set)
    *     ∩ Gopher heuristic battery        (text_gopher_rules.keep)
    *     ∩ learned quality gate            (text_quality_model.model_keep)
    *     ∩ near-dup cluster canonicals     (dedup_survivors — LSH-verified
    *                                        CC ∪ exact-hash stars)
    *     ∖ benchmark-contaminated docs     (pipeline_decontaminate hits)
    *   → two-level packing planner         (pipeline_pack's engine)
    *   → (source, chunk_id, n_docs, n_tokens, fill_ratio)
    *
    * Every stage is the SAME DataFrame the standalone gated operator
    * returns, joined by doc_id (semi/anti — only ids shuffle); the oracle
    * composes the same factored CTE chains. Catalyst fuses the scan-side
    * gates; the expensive stages (survivors' verified pairs) are
    * LSH-bounded exactly as they are standalone. */
  /** The heuristic stage gates on the LANGUAGE-AGNOSTIC Gopher rules —
    * the stopword rule is an English-marker test (Rae et al. apply it to
    * an English corpus; CCNet-style deployments gate per language), and on
    * this synthetic non-English-like corpus it would annihilate every
    * document. One shared list drives the Spark filter and the oracle. */
  val BuildGopherFlags: Seq[String] = Seq(
    "r_word_count", "r_mean_len", "r_symbol", "r_alpha", "r_bullet", "r_ellipsis")

  def build(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.buildManifest), the calibManifest rationale
    // applied to the default-gate capstone: every gate is served, so only
    // the composition + pack would re-run per invocation.
    graft.operators.AnnModels.buildManifest(s, dir)

  /** [[build]] with the CORPUS-CALIBRATED model gate — the variant that
    * stays non-degenerate on corpora the shipped fixed coefficients were
    * never calibrated for (SCALE.md r8 documents the fixed gate emptying
    * the manifest at ×10/×100): `text_quality_calibrated` keeps the top
    * half of the corpus's own logit distribution, so the composed manifest
    * is non-empty on ANY corpus where the other gates pass documents. */
  def buildCalibrated(s: SparkSession, dir: String): DataFrame =
    // served (AnnModels.calibManifest): the gates are all served, and
    // the composition + two-level pack would otherwise re-run per
    // invocation here AND inside buildOrdered; the manifest is
    // chunk-count-sized and a pure function of corpus + constants.
    graft.operators.AnnModels.calibManifest(s, dir)

  /** [[build]] with the fully LEARNED quality gate (r10): the model slot
    * holds `text_quality_trained` — feature WEIGHTS Rocchio-fit in-engine
    * against Gopher seed labels and served from the registry — so the
    * build capstone now composes a gate with zero hand-fixed
    * coefficients (weights from the corpus; the calibrated variant's
    * threshold likewise). Same plan contract as [[build]]. */
  def buildTrained(s: SparkSession, dir: String): DataFrame =
    graft.operators.AnnModels.trainedManifest(s, dir) // served, see build

  /** [[build]] with the LOGISTIC quality gate (r13): the model slot holds
    * `text_quality_lr` — a fixed-K batch-gradient logistic fit against
    * Gopher seed labels, served from the registry — the production
    * classifier shape (CCNet/DataComp/FineWeb train a linear classifier
    * on labeled seeds). Same plan contract as [[build]]. */
  def buildLr(s: SparkSession, dir: String): DataFrame =
    graft.operators.AnnModels.lrManifest(s, dir) // served, see build

  /** The manifest composition over a model-gate slot — what the
    * AnnModels build manifests run once per corpus state. */
  private[graft] def buildWith(s: SparkSession, dir: String, model: DataFrame): DataFrame =
    packOf(buildBase(s, dir, model))

  /** The curated (source, doc_id, n_tok) relation `build` packs — exposed
    * so the plan contract (id-only semi/anti gates, no cartesian, no
    * global sort) stays assertable now that packOf materializes its input
    * (the checkpoint hides upstream operators from the pack plan). */
  private[graft] def buildBase(s: SparkSession, dir: String,
      model: DataFrame): DataFrame = {
    val gopher = TextOps.gopherRules(s, dir)
      .filter(BuildGopherFlags.map(col(_) === 1).reduce(_ && _))
      .select("doc_id")
    val canon = Dedup.survivors(s, dir).select(col("doc_id"))
    val dirty = decontaminate(s, dir).select(col("doc_id"))
    docTokens(s, dir)
      .filter(col("doc_id") >= 10)
      .join(gopher, Seq("doc_id"), "left_semi")
      .join(model, Seq("doc_id"), "left_semi")
      .join(canon, Seq("doc_id"), "left_semi")
      .join(dirty, Seq("doc_id"), "left_anti")
  }

  /** The END-TO-END ORDERED dataset — the last mile a training job
    * actually consumes: [[buildCalibrated]]'s chunk
    * manifest composed with [[interleave]]'s tempered-mixture loader order
    * in a SINGLE output. Each manifest chunk takes the interleave priority
    * key at CHUNK granularity. chunk_id is the chunk's TOKEN-POSITION
    * index (start-cum DIV CtxTokens — NOT a dense per-source rank: a
    * document spanning whole windows leaves ids unmanifested, since no
    * doc STARTS there), so key = (chunk_id+1)·1e9 DIV share6 spreads a
    * source's chunks with density ∝ its tempered share measured in TOKEN
    * space — the budget a loader actually spends — rather than in
    * chunk-count space; within a source, packing order is preserved
    * either way (chunk_id is monotone in cum). `load_pos` is the global
    * read order via [[keyBlockPos]] — no global sort, no corpus-sized
    * window: the rank runs over manifest rows (corpus/2048 of the
    * document count) in bounded key blocks. Output: the manifest columns
    * + load_pos, a dense 0-based permutation of the manifest. */
  def buildOrdered(s: SparkSession, dir: String): DataFrame = {
    val manifest = buildCalibrated(s, dir)
    val shares = mixTemperature(s, dir).select(col("source"), col("share6"))
    val keyed = manifest.join(broadcast(shares), Seq("source"))
      .withColumn("key", expr("((chunk_id + 1) * 1000000000) DIV greatest(share6, 1)"))
    keyBlockPos(keyed, Seq(col("source"), col("chunk_id")), "load_pos")
      .select(col("source"), col("chunk_id"), col("n_docs"), col("n_tokens"),
        col("fill_ratio"), col("load_pos"))
  }

  private[graft] def buildBaseDefault(s: SparkSession, dir: String): DataFrame =
    buildBase(s, dir,
      TextOps.qualityModel(s, dir).filter(col("model_keep") === 1).select("doc_id"))

  private[graft] def buildBaseCalibrated(s: SparkSession, dir: String): DataFrame =
    buildBase(s, dir,
      TextOps.qualityCalibrated(s, dir).filter(col("calib_keep") === 1).select("doc_id"))

  private[graft] def buildBaseTrained(s: SparkSession, dir: String): DataFrame =
    buildBase(s, dir,
      TextOps.qualityTrained(s, dir).filter(col("trained_keep") === 1).select("doc_id"))

  /** The build oracle, parameterized on the model-gate CTE and its keep
    * flag — the same factored chains the standalone oracles run: survivor
    * labels (recursive CC), gopher flags, model gate, contamination grams,
    * then the pack cumsum over the filtered base. */
  private def buildManifestCtes(modelCte: String, modelFlag: String): String =
    s"${Dedup.survivorLabCtes}, " +
      s"g AS (${TextOps.gopherSql}), " +
      s"qm AS ($modelCte), " +
      s"bgrams AS (SELECT doc_id, unnest(list_distinct($shingles5Sql)) AS g5 FROM documents), " +
      "bbench AS (SELECT doc_id AS bench_id, g5 FROM bgrams WHERE doc_id < 10), " +
      "dirty AS (SELECT DISTINCT c.doc_id FROM bgrams c JOIN bbench b ON c.g5 = b.g5 WHERE c.doc_id >= 10), " +
      "bse AS (SELECT d.source, d.doc_id, CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok " +
      "FROM documents d WHERE d.doc_id >= 10 " +
      s"AND d.doc_id IN (SELECT doc_id FROM g WHERE ${BuildGopherFlags.map(f => s"$f = 1").mkString(" AND ")}) " +
      s"AND d.doc_id IN (SELECT doc_id FROM qm WHERE $modelFlag = 1) " +
      "AND d.doc_id IN (SELECT DISTINCT cluster_id FROM lab) " +
      "AND d.doc_id NOT IN (SELECT doc_id FROM dirty)), " +
      "cumed AS (SELECT source, doc_id, n_tok, CAST(sum(n_tok) OVER " +
      "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM bse), " +
      "manifest AS (SELECT source, chunk_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      s"floor(CAST(sum(n_tok) AS DOUBLE) / $CtxTokens * 1000000 + 0.5) / 1000000 AS fill_ratio FROM " +
      s"(SELECT source, (cum - n_tok) // $CtxTokens AS chunk_id, n_tok FROM cumed) " +
      "GROUP BY source, chunk_id)"

  private def buildOracleSql(modelCte: String, modelFlag: String): String =
    s"WITH RECURSIVE ${buildManifestCtes(modelCte, modelFlag)} " +
      "SELECT source, chunk_id, n_docs, n_tokens, fill_ratio FROM manifest"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "pipeline_build" -> (build _),
    "pipeline_build_calibrated" -> (buildCalibrated _),
    "pipeline_build_trained" -> (buildTrained _),
    "pipeline_build_lr" -> (buildLr _),
    "pipeline_build_ordered" -> (buildOrdered _),
    "pipeline_interleave" -> (interleave _),
    "pipeline_curriculum" -> (curriculum _),
    "pipeline_curate" -> (curate _),
    "pipeline_curate_model" -> (curateModel _),
    "pipeline_curate_neardup" -> (curateNearDup _),
    "pipeline_curate_source" -> (curateSource _),
    "pipeline_pack_ffd" -> ((s: SparkSession, dir: String) => packFfd(s, dir)),
    "pipeline_funnel" -> (funnel _),
    "pipeline_funnel_source" -> (funnelSource _),
    "pipeline_curate_semantic" -> (curateSemantic _),
    "pipeline_curate_aligned" -> (curateAligned _),
    "pipeline_split" -> (split _),
    "pipeline_decontaminate" -> (decontaminate _),
    "pipeline_decontaminate_fuzzy" -> (decontaminateFuzzy _),
    "pipeline_pack" -> ((s: SparkSession, dir: String) => pack(s, dir)),
    "pipeline_pack_delta" -> ((s: SparkSession, dir: String) => packDelta(s, dir)),
    "pipeline_token_budget" -> (tokenBudget _),
    "pipeline_pack_bpe" -> (packBpe _),
    "pipeline_pack_trained" -> (packTrained _),
    "pipeline_pack_trained_256" -> (packTrainedBig _),
    "pipeline_shard" -> ((s: SparkSession, dir: String) => shard(s, dir)),
    "pipeline_sample_weighted" -> (sampleWeighted _),
    "pipeline_sample_stratified" -> (sampleStratified _),
    "pipeline_sample_cluster" -> (sampleCluster _),
    "pipeline_shuffle" -> (shuffle _),
    "pipeline_mix_temperature" -> (mixTemperature _),
    "pipeline_mix_manifest" -> (mixManifest _))

  /** The pack oracle, parameterized on the per-doc token-count SQL (the
    * oracle's single-window cumsum replays the two-level decomposition for
    * ANY per-row counter, so the ws and BPE variants share it verbatim). */
  private def packOracleSql(nTokSql: String, from: String = "documents",
      prefix: String = ""): String =
    prefix +
      "SELECT source, chunk_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      s"floor(CAST(sum(n_tok) AS DOUBLE) / $CtxTokens * 1000000 + 0.5) / 1000000 AS fill_ratio FROM " +
      s"(SELECT source, (cum - n_tok) // $CtxTokens AS chunk_id, n_tok FROM " +
      s"(SELECT source, doc_id, $nTokSql AS n_tok, " +
      s"CAST(sum($nTokSql) OVER (PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum " +
      s"FROM $from)) GROUP BY source, chunk_id"

  /** CTE chain ending in `tg(source, n_docs, share6, target_docs)` — the
    * tempered-mixture plan, the exact mirror of [[mixTemperatureOf]];
    * shared by the plan oracle and the manifest oracle so the tempering
    * arithmetic cannot drift. */
  /** `prefix` keeps these CTE names disjoint from other chains when
    * composed (the build chain's `sh` would otherwise collide). */
  private def mixCtesNamed(p: String): String =
    s"${p}counts AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source), " +
      s"${p}ww AS (SELECT source, n_docs, CAST(floor(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w FROM ${p}counts), " +
      s"${p}tot AS (SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(sum(n_docs) AS BIGINT) AS tn FROM ${p}ww), " +
      s"${p}sh AS (SELECT source, n_docs, (w * 1000000 + tw // 2) // tw AS share6, tn FROM ${p}ww CROSS JOIN ${p}tot), " +
      s"${p}tg AS (SELECT source, n_docs, share6, (tn * share6 + 500000) // 1000000 AS target_docs FROM ${p}sh)"

  private val mixCtes: String = mixCtesNamed("")

  /** Oracle mirror of [[packFfd]]: the per-shard FFD fold replayed as a
    * recursive CTE — iteration r assigns every shard's rank-r document,
    * carrying the bin-loads list and the assignment list as CTE columns
    * (recursion depth = max docs per shard ≤ FfdBlock). `posSql` is the
    * same first-fit probe the Spark fold runs (DuckDB list_position
    * returns NULL where Spark's array_position returns 0). */
  private val packFfdSql: String = {
    val pos = "coalesce(list_position(list_transform(f.loads, " +
      s"l -> l + d.n_tok <= $CtxTokens), true), 0)"
    s"WITH RECURSIVE base AS (SELECT source, doc_id // $FfdBlock AS blk, doc_id, " +
      "CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents), " +
      "rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY source, blk " +
      "ORDER BY n_tok DESC, doc_id) AS BIGINT) AS r FROM base), " +
      "sz AS (SELECT source, blk, count(*) AS n FROM rk GROUP BY 1, 2), " +
      "fold(source, blk, r, loads, bins) AS (" +
      "SELECT source, blk, CAST(0 AS BIGINT), CAST([] AS BIGINT[]), CAST([] AS INT[]) FROM sz " +
      "UNION ALL SELECT f.source, f.blk, f.r + 1, " +
      s"CASE WHEN $pos = 0 THEN list_append(f.loads, d.n_tok) " +
      s"ELSE list_concat(list_concat(f.loads[1:$pos - 1], [f.loads[$pos] + d.n_tok]), " +
      s"f.loads[$pos + 1:len(f.loads)]) END, " +
      s"list_append(f.bins, CAST(CASE WHEN $pos = 0 THEN len(f.loads) + 1 " +
      s"ELSE $pos END AS INT)) " +
      "FROM fold f JOIN rk d ON d.source = f.source AND d.blk = f.blk AND d.r = f.r + 1), " +
      "final AS (SELECT f.* FROM fold f JOIN sz ON sz.source = f.source " +
      "AND sz.blk = f.blk AND f.r = sz.n), " +
      "asg AS (SELECT source, blk, unnest(list_transform(generate_series(1, len(bins)), " +
      "i -> {'r': i, 'bin': bins[i]})) AS u FROM final), " +
      "perdoc AS (SELECT source, blk, CAST(u.r AS BIGINT) AS r, u.bin AS bin FROM asg), " +
      "j AS (SELECT p.source, p.blk, p.bin, d.n_tok FROM perdoc p " +
      "JOIN rk d ON d.source = p.source AND d.blk = p.blk AND d.r = p.r) " +
      s"SELECT source, blk * $FfdBlock + bin - 1 AS bin_id, count(*) AS n_docs, " +
      "CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
      s"greatest($CtxTokens - CAST(sum(n_tok) AS BIGINT), 0) AS padding, " +
      s"CASE WHEN sum(n_tok) > $CtxTokens THEN 1 ELSE 0 END AS oversize " +
      "FROM j GROUP BY source, blk, bin"
  }

  private val shingles5Sql =
    "list_transform(generate_series(1, len(string_split(text, ' ')) - 4), i -> array_to_string((string_split(text, ' '))[i:i+4], ' '))"

  /** The funnel's flag-relation CTE chain ending in
    * `fl(doc_id, source, f1..f5)` — the SQL mirror of [[funnelFlags]],
    * shared by the corpus and per-source funnel oracles so the two
    * reports replay the SAME gate battery (drift between them would be
    * an oracle bug, not a finding). Gate relations LEFT-join onto the
    * documents spine (missing row = 0), mirroring the Spark side. */
  private def funnelFlCtes: String =
    s"${Dedup.semanticLabCtes}, " +
      s"${Dedup.semanticKeepCte}, " +
      s"${graft.operators.Multimodal.textAlignFullCtes}, " +
      s"lang AS (${TextOps.oracles("text_langid")}), " +
      s"qual AS (${TextOps.oracles("text_quality")}), " +
      "keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)), " +
      "fl AS (SELECT d.doc_id, d.source, " +
      "CASE WHEN l.pred_lang = 'en' THEN 1 ELSE 0 END AS f1, " +
      s"CASE WHEN q.quality_score >= $QualityThreshold THEN 1 ELSE 0 END AS f2, " +
      "CASE WHEN d.doc_id IN (SELECT keep_id FROM keep) THEN 1 ELSE 0 END AS f3, " +
      "CASE WHEN d.doc_id IN (SELECT vec_id FROM kk) THEN 1 ELSE 0 END AS f4, " +
      "CASE WHEN d.doc_id IN (SELECT doc_id FROM xalk WHERE align_keep = 1) THEN 1 ELSE 0 END AS f5 " +
      "FROM documents d LEFT JOIN lang l ON l.doc_id = d.doc_id LEFT JOIN qual q ON q.doc_id = d.doc_id)"

  def oracles: Map[String, String] = Map(
    "pipeline_split" ->
      ("SELECT split, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars FROM " +
        "(SELECT n_chars, CASE WHEN b < 230 THEN 'train' WHEN b < 243 THEN 'val' ELSE 'test' END AS split FROM " +
        "(SELECT n_chars, " +
        graft.functions.hexIntSql("md5(CAST(doc_id AS VARCHAR))", 1, 2) + " AS b " +
        "FROM documents)) GROUP BY split"),
    "pipeline_decontaminate" ->
      (s"WITH grams AS (SELECT doc_id, unnest(list_distinct($shingles5Sql)) AS g FROM documents), " +
        "bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id < 10), " +
        "corpus AS (SELECT doc_id, g FROM grams WHERE doc_id >= 10) " +
        "SELECT c.doc_id, count(DISTINCT c.g) AS n_shared_grams, count(DISTINCT b.bench_id) AS n_bench_docs " +
        "FROM corpus c JOIN bench b ON c.g = b.g GROUP BY c.doc_id"),
    "pipeline_decontaminate_fuzzy" ->
      Dedup.lshMatchOracle(idxPred = "doc_id < 10", batchPred = "doc_id >= 10"),
    "pipeline_pack" ->
      packOracleSql("CAST(len(string_split(text, ' ')) AS BIGINT)"),
    "pipeline_pack_delta" ->
      // the oracle replays the FULL cumsum and filters to the delta — the
      // from-scratch manifest the incremental path must converge to
      ("WITH spv AS (SELECT (max(doc_id) * 4) // 5 AS sp FROM documents), " +
        "cumed AS (SELECT source, doc_id, n_tok, CAST(sum(n_tok) OVER " +
        "(PARTITION BY source ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM " +
        "(SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)) " +
        "SELECT source, chunk_id, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens, " +
        s"floor(CAST(sum(n_tok) AS DOUBLE) / $CtxTokens * 1000000 + 0.5) / 1000000 AS fill_ratio FROM " +
        s"(SELECT source, (cum - n_tok) // $CtxTokens AS chunk_id, n_tok " +
        "FROM cumed CROSS JOIN spv WHERE doc_id >= sp) " +
        "GROUP BY source, chunk_id"),
    "pipeline_token_budget" ->
      ("WITH tc AS (SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_toks FROM documents GROUP BY source), " +
        "tww AS (SELECT source, n_toks, CAST(floor(sqrt(CAST(n_toks AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS w FROM tc), " +
        "ttot AS (SELECT CAST(sum(w) AS BIGINT) AS tw, CAST(sum(n_toks) AS BIGINT) AS tot FROM tww), " +
        "tsh AS (SELECT source, n_toks, (w * 1000000 + tw // 2) // greatest(tw, 1) AS share6, " +
        s"$BudgetEpochs * tot AS budget FROM tww CROSS JOIN ttot), " +
        "ttg AS (SELECT source, n_toks, share6, " +
        "(budget // 1000000) * share6 + ((budget % 1000000) * share6 + 500000) // 1000000 AS target_toks FROM tsh) " +
        "SELECT source, n_toks, share6, target_toks, " +
        "(target_toks // greatest(n_toks, 1)) * 1000000 + " +
        "((target_toks % greatest(n_toks, 1)) * 1000000 + n_toks // 2) // greatest(n_toks, 1) AS epochs6 FROM ttg"),
    "pipeline_pack_bpe" ->
      packOracleSql(TextOps.bpeCountSql("text")),
    "pipeline_pack_trained" ->
      // train + word-merge backbone (wm map), then per-doc trained token
      // counts feed the standard pack cumsum — nothing shared with the
      // Spark side but the raw corpus
      packOracleSql("n_tok", from = "dtok",
        prefix = s"WITH ${TextOps.bpeTrainedWordCtes}, " +
          "dtok AS (SELECT doc_id, source, CAST(coalesce(list_sum(list_transform(" +
          "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
          s"w -> len(string_split(${TextOps.bpeTrainedTokensSql("w")}, ' ')))), 0) AS BIGINT) AS n_tok " +
          "FROM documents CROSS JOIN wm) "),
    "pipeline_pack_trained_256" ->
      // same pack cumsum over the RECURSIVE trainer replay's word map —
      // the k-parametric backbone, not the unrolled k=8 CTEs
      packOracleSql("n_tok", from = "dtok",
        prefix = s"WITH RECURSIVE ${TextOps.bpeTrainedBigWordCtes}, " +
          "dtok AS (SELECT doc_id, source, CAST(coalesce(list_sum(list_transform(" +
          "list_filter(string_split(text, ' '), w -> length(w) > 0), " +
          s"w -> len(string_split(${TextOps.bpeTrainedTokensSql("w")}, ' ')))), 0) AS BIGINT) AS n_tok " +
          "FROM documents CROSS JOIN wm) "),
    "pipeline_shard" ->
      (s"SELECT source, shard, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS total_tokens, " +
        "CAST(max(n_tok) AS BIGINT) AS max_tokens, CAST(min(n_tok) AS BIGINT) AS min_tokens FROM " +
        s"(SELECT source, n_tok, (row_number() OVER (PARTITION BY source ORDER BY n_tok DESC, doc_id) - 1) % $NumShards AS shard FROM " +
        "(SELECT source, doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok FROM documents)) " +
        "GROUP BY source, shard"),
    "pipeline_sample_weighted" -> {
      val bucket = graft.functions
        .hexIntSql("md5(CAST(doc_id AS VARCHAR) || ':' || source)", 1, 4) + " % 100"
      "SELECT source, rate, count(*) AS n_total, CAST(sum(kept) AS BIGINT) AS n_kept FROM " +
        "(SELECT source, 20 + 3 * (CAST(substr(source, 4) AS INT) % 7) AS rate, " +
        s"CASE WHEN $bucket < 20 + 3 * (CAST(substr(source, 4) AS INT) % 7) THEN 1 ELSE 0 END AS kept " +
        "FROM documents) GROUP BY source, rate"
    },
    "pipeline_shuffle" ->
      (s"SELECT doc_id, CAST(row_number() OVER (ORDER BY ${graft.functions.hash64Sql("doc_id")}, doc_id) - 1 AS BIGINT) AS shuffle_pos FROM documents"),
    "pipeline_build" ->
      buildOracleSql(TextOps.qualityModelSql, "model_keep"),
    "pipeline_build_calibrated" ->
      buildOracleSql(TextOps.qualityCalibratedSql, "calib_keep"),
    "pipeline_build_trained" ->
      buildOracleSql(TextOps.qualityTrainedSql, "trained_keep"),
    "pipeline_build_lr" ->
      buildOracleSql(TextOps.qualityLrSql, "lr_keep"),
    "pipeline_build_ordered" ->
      // the calibrated manifest chain + the interleave ordering, composed:
      // chunk-granularity priority keys from the tempered mixture plan
      (s"WITH RECURSIVE ${buildManifestCtes(TextOps.qualityCalibratedSql, "calib_keep")}, " +
        s"${mixCtesNamed("mx")}, " +
        "okeyed AS (SELECT m.source, m.chunk_id, m.n_docs, m.n_tokens, m.fill_ratio, " +
        "((m.chunk_id + 1) * 1000000000) // greatest(t.share6, 1) AS key " +
        "FROM manifest m JOIN mxtg t ON m.source = t.source) " +
        "SELECT source, chunk_id, n_docs, n_tokens, fill_ratio, " +
        "CAST(row_number() OVER (ORDER BY key, source, chunk_id) - 1 AS BIGINT) AS load_pos FROM okeyed"),
    "pipeline_interleave" ->
      (s"WITH $mixCtes, " +
        s"rr AS (SELECT doc_id, source, row_number() OVER (PARTITION BY source " +
        s"ORDER BY ${graft.functions.hash64Sql("doc_id")}, doc_id) - 1 AS r FROM documents), " +
        "k AS (SELECT rr.doc_id, rr.source, rr.r, ((rr.r + 1) * 1000000000) // greatest(tg.share6, 1) AS key " +
        "FROM rr JOIN tg ON rr.source = tg.source) " +
        "SELECT doc_id, source, r, CAST(row_number() OVER (ORDER BY key, source, r) - 1 AS BIGINT) AS interleave_pos FROM k"),
    "pipeline_curriculum" ->
      (s"WITH ${TextOps.pplBucketCtes} " +
        "SELECT doc_id, ppl_bucket, CAST(row_number() OVER (ORDER BY " +
        "CASE ppl_bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1 ELSE 2 END, " +
        s"${graft.functions.hash64Sql("doc_id")}, doc_id) - 1 AS BIGINT) AS curriculum_pos FROM pb"),
    "pipeline_sample_stratified" ->
      (s"WITH ${Similarity.ivfAssignCtes}, " +
        s"r AS (SELECT vec_id, cent_id, ${graft.functions.hash52Sql("vec_id")} AS rk FROM assign), " +
        "rn AS (SELECT vec_id, cent_id, row_number() OVER " +
        "(PARTITION BY cent_id ORDER BY rk, vec_id) AS rn FROM r) " +
        s"SELECT cent_id, vec_id FROM rn WHERE rn <= $StratifiedCap"),
    "pipeline_sample_cluster" ->
      // same assignment replay + hash rank; the cut is the per-cluster
      // sqrt-temperature quota (one IEEE sqrt of an exact integer, ceil)
      (s"WITH ${Similarity.ivfAssignCtes}, " +
        s"r AS (SELECT vec_id, cent_id, ${graft.functions.hash52Sql("vec_id")} AS rk FROM assign), " +
        "cs AS (SELECT cent_id, count(*) AS bn FROM assign GROUP BY cent_id), " +
        s"qt AS (SELECT cent_id, CAST(ceil($TempCoeff * sqrt(CAST(bn AS DOUBLE))) AS BIGINT) AS q FROM cs), " +
        "rn AS (SELECT vec_id, cent_id, row_number() OVER " +
        "(PARTITION BY cent_id ORDER BY rk, vec_id) AS rn FROM r) " +
        "SELECT rn.cent_id, rn.vec_id FROM rn JOIN qt USING (cent_id) WHERE rn.rn <= qt.q"),
    "pipeline_curate_semantic" ->
      (s"WITH RECURSIVE ${Dedup.semanticLabCtes}, " +
        s"${Dedup.semanticKeepCte}, " +
        s"lang AS (${TextOps.oracles("text_langid")}), " +
        s"qual AS (${TextOps.oracles("text_quality")}), " +
        "keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)) " +
        "SELECT l.doc_id, l.pred_lang, q.quality_score FROM lang l JOIN qual q ON l.doc_id = q.doc_id " +
        s"WHERE l.pred_lang = 'en' AND q.quality_score >= $QualityThreshold " +
        "AND l.doc_id IN (SELECT keep_id FROM keep) " +
        "AND l.doc_id IN (SELECT vec_id FROM kk)"),
    "pipeline_curate_aligned" ->
      // the curate_semantic replay plus the alignment-gate CTE chain
      // (Multimodal.textAlignFullCtes, x-prefixed — no CTE collisions)
      (s"WITH RECURSIVE ${Dedup.semanticLabCtes}, " +
        s"${Dedup.semanticKeepCte}, " +
        s"${graft.operators.Multimodal.textAlignFullCtes}, " +
        s"lang AS (${TextOps.oracles("text_langid")}), " +
        s"qual AS (${TextOps.oracles("text_quality")}), " +
        "keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)) " +
        "SELECT l.doc_id, l.pred_lang, q.quality_score FROM lang l JOIN qual q ON l.doc_id = q.doc_id " +
        s"WHERE l.pred_lang = 'en' AND q.quality_score >= $QualityThreshold " +
        "AND l.doc_id IN (SELECT keep_id FROM keep) " +
        "AND l.doc_id IN (SELECT vec_id FROM kk) " +
        "AND l.doc_id IN (SELECT doc_id FROM xalk WHERE align_keep = 1)"),
    "pipeline_funnel" ->
      // the curate_aligned CTE chain (shared fl flag relation), folded
      // into cumulative-conjunction counts instead of the survivor id set
      (s"WITH RECURSIVE $funnelFlCtes, " +
        "cn AS (SELECT CAST(count(*) AS BIGINT) AS c0, CAST(sum(f1) AS BIGINT) AS c1, " +
        "CAST(sum(f1 * f2) AS BIGINT) AS c2, CAST(sum(f1 * f2 * f3) AS BIGINT) AS c3, " +
        "CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS c4, " +
        "CAST(sum(f1 * f2 * f3 * f4 * f5) AS BIGINT) AS c5 FROM fl), " +
        "stg AS (SELECT 0 AS stage, 'corpus' AS stage_name, c0 AS n_docs, c0 FROM cn " +
        "UNION ALL SELECT 1, 'lang_en', c1, c0 FROM cn " +
        "UNION ALL SELECT 2, 'quality', c2, c0 FROM cn " +
        "UNION ALL SELECT 3, 'exact_dedup', c3, c0 FROM cn " +
        "UNION ALL SELECT 4, 'semantic', c4, c0 FROM cn " +
        "UNION ALL SELECT 5, 'aligned', c5, c0 FROM cn) " +
        "SELECT CAST(stage AS INT) AS stage, stage_name, n_docs, " +
        "n_docs * 1000000 // c0 AS retained_ppm FROM stg"),
    "pipeline_funnel_source" ->
      // the SAME fl flag chain, grouped by source; ppm against the
      // SOURCE's own corpus count
      (s"WITH RECURSIVE $funnelFlCtes, " +
        "cn AS (SELECT source, CAST(count(*) AS BIGINT) AS c0, CAST(sum(f1) AS BIGINT) AS c1, " +
        "CAST(sum(f1 * f2) AS BIGINT) AS c2, CAST(sum(f1 * f2 * f3) AS BIGINT) AS c3, " +
        "CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS c4, " +
        "CAST(sum(f1 * f2 * f3 * f4 * f5) AS BIGINT) AS c5 FROM fl GROUP BY source), " +
        "stg AS (SELECT source, 0 AS stage, 'corpus' AS stage_name, c0 AS n_docs, c0 FROM cn " +
        "UNION ALL SELECT source, 1, 'lang_en', c1, c0 FROM cn " +
        "UNION ALL SELECT source, 2, 'quality', c2, c0 FROM cn " +
        "UNION ALL SELECT source, 3, 'exact_dedup', c3, c0 FROM cn " +
        "UNION ALL SELECT source, 4, 'semantic', c4, c0 FROM cn " +
        "UNION ALL SELECT source, 5, 'aligned', c5, c0 FROM cn) " +
        "SELECT source, CAST(stage AS INT) AS stage, stage_name, n_docs, " +
        "n_docs * 1000000 // c0 AS retained_ppm FROM stg"),
    "pipeline_curate_model" ->
      (s"WITH lang AS (${TextOps.oracles("text_langid")}), " +
        s"qm AS (${TextOps.qualityModelSql}), " +
        "keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)) " +
        "SELECT l.doc_id, l.pred_lang, q.logit FROM lang l JOIN qm q ON l.doc_id = q.doc_id " +
        "WHERE l.pred_lang = 'en' AND q.model_keep = 1 " +
        "AND l.doc_id IN (SELECT keep_id FROM keep)"),
    "pipeline_curate" ->
      (s"WITH lang AS (${TextOps.oracles("text_langid")}), " +
        s"qual AS (${TextOps.oracles("text_quality")}), " +
        "keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)) " +
        "SELECT l.doc_id, l.pred_lang, q.quality_score FROM lang l JOIN qual q ON l.doc_id = q.doc_id " +
        s"WHERE l.pred_lang = 'en' AND q.quality_score >= $QualityThreshold " +
        "AND l.doc_id IN (SELECT keep_id FROM keep)"),
    "pipeline_mix_temperature" ->
      (s"WITH $mixCtes " +
        "SELECT source, n_docs, share6, target_docs, " +
        "(target_docs + n_docs - 1) // n_docs AS epochs FROM tg"),
    "pipeline_mix_manifest" -> {
      val bucket = graft.functions
        .hexIntSql("md5(CAST(d.doc_id AS VARCHAR) || ':' || d.source || ':mix')", 1, 4)
      s"WITH $mixCtes, " +
        "plan AS (SELECT source, n_docs, target_docs, target_docs // n_docs AS full_epochs, " +
        "target_docs % n_docs AS rem FROM tg) " +
        "SELECT d.source AS source, p.n_docs, p.target_docs, p.full_epochs, " +
        s"CAST(sum(p.full_epochs + CASE WHEN $bucket * p.n_docs < p.rem * 65536 THEN 1 ELSE 0 END) AS BIGINT) AS n_emitted " +
        "FROM documents d JOIN plan p ON d.source = p.source " +
        "GROUP BY d.source, p.n_docs, p.target_docs, p.full_epochs"
    },
    "pipeline_pack_ffd" -> packFfdSql,
    "pipeline_curate_source" ->
      (s"WITH ${TextOps.sourceStatsCtes}, " +
        "corp AS (SELECT sum(n_keep) * 1000000 // sum(n_docs) AS ck_ppm, " +
        "sum(n_neardup) * 1000000 // sum(n_docs) AS cn_ppm FROM stp), " +
        "pass AS (SELECT source FROM stp, corp WHERE keep_ppm * 2 >= ck_ppm " +
        s"AND neardup_ppm <= cn_ppm * 2 + $SourceDupSlackPpm) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN pass USING (source)"),
    "pipeline_curate_neardup" ->
      (s"WITH RECURSIVE ${Dedup.survivorLabCtes}, " +
        s"lang AS (${TextOps.oracles("text_langid")}), " +
        s"qual AS (${TextOps.oracles("text_quality")}), " +
        "keep AS (SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)) " +
        "SELECT l.doc_id, l.pred_lang, q.quality_score FROM lang l JOIN qual q ON l.doc_id = q.doc_id " +
        s"WHERE l.pred_lang = 'en' AND q.quality_score >= $QualityThreshold " +
        "AND l.doc_id IN (SELECT keep_id FROM keep) " +
        "AND l.doc_id IN (SELECT DISTINCT cluster_id FROM lab)"))
}
